"""Similarity search over embedding columns (north-star).

The reference has no vector surface; a 100 TB training-data pipeline
needs one. Two tiers:

- **Brute-force cosine** (`cosine_topk`, `cosine_pairs`): exact, scan
  the corpus once per query / self-join for pairs. The per-row math is
  a codegen'd left fold (``zip_with`` + ``aggregate``) in DOUBLE with a
  fixed accumulation order, so the DuckDB oracle reproduces results
  bit-for-bit.
- **LSH-bucketed** (`rhp_lsh_topk`): random-hyperplane signatures →
  candidates share a signature band → brute-force only within buckets.
  Hyperplane weights are derived deterministically from xxhash64 of
  (plane, dim) — no RNG state, reproducible across runs and executors.

Scale notes: queries are broadcast (tiny); the corpus is never
shuffled for top-k (aggregate-only reduction). For pair-finding the
LSH bucket join shuffles (bucket_key, id, vec) — bound bucket width
with more planes, and pre-normalize vectors once so the inner loop is
a dot product.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .project import qcol


def as_double_array(col: Column | str) -> Column:
    c = qcol(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ as a strict left fold in DOUBLE — deterministic
    accumulation order (matches the oracle's list_reduce fold)."""
    prods = F.zip_with(a, b, lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / F.nullif(l2_norm(a) * l2_norm(b), F.lit(0.0))


# ------------------------------------------------ SQL-text expression kit
# Every Column method call is one py4j round-trip (~0.5–1 ms of driver
# latency). The loop-built vector expressions below (64-element array
# literals, per-plane folds, per-bit sign tests) cost THOUSANDS of round
# trips when composed from Column objects — 2+ s of pure driver time per
# query construction, on a real cluster exactly as on local mode. These
# helpers render the identical expression tree as ONE SQL string handed
# to a single F.expr/selectExpr call. Value semantics are unchanged: the
# SQL parser produces the same Catalyst nodes (ArrayAggregate /
# ZipWith / CaseWhen) the Column API would, so fold order — and
# therefore oracle bit-parity — is preserved.


def _dlit(x: float) -> str:
    """Exact Spark-SQL DOUBLE literal for a Python float (repr
    round-trips through Java's Double.parseDouble to the same bits)."""
    x = float(x)
    if x != x or x == float("inf") or x == float("-inf"):
        return f"CAST('{x}' AS DOUBLE)"
    return repr(x) + "D"


# _qident: shared definition in project.qident (one escaping rule)
from .project import qident as _qident  # noqa: E402


def _sql_to_double(arr_sql: str) -> str:
    """array<float> → array<double>, elementwise (same cast
    ``as_double_array`` applies)."""
    return f"transform({arr_sql}, x -> CAST(x AS DOUBLE))"


def _sql_array_lit(vec) -> str:
    """Literal array<double> from a Python vector."""
    return "array(" + ", ".join(_dlit(v) for v in vec) + ")"


def _sql_dot(a_sql: str, b_sql: str) -> str:
    """Same strict left fold as ``dot`` — deterministic accumulation."""
    return (
        f"aggregate(zip_with({a_sql}, {b_sql}, (x, y) -> x * y), "
        "0.0D, (acc, x) -> acc + x)"
    )


def _sql_norm(a_sql: str) -> str:
    return f"sqrt({_sql_dot(a_sql, a_sql)})"


def _sql_cosine(a_sql: str, b_sql: str) -> str:
    """Inline-norm cosine — mirrors ``cosine`` exactly (norms inside
    the expression, nullif zero guard)."""
    return (
        f"({_sql_dot(a_sql, b_sql)} / "
        f"nullif({_sql_norm(a_sql)} * {_sql_norm(b_sql)}, 0.0D))"
    )


def cosine_topk(
    corpus: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact top-k nearest (cosine) to a literal query vector.

    The query enters the plan as an array literal (broadcast by
    construction); ranking is a single total-order on (sim DESC, id) —
    at scale prefer ``ORDER BY … LIMIT k`` which Spark executes as a
    per-partition top-k + tiny final merge (TakeOrderedAndProject).
    """
    v = _sql_to_double(_qident(vec_col))
    q = _sql_array_lit(query_vec)
    scored = corpus.select(
        qcol(id_col).alias(id_col),
        F.expr(f"round({_sql_cosine(v, q)}, 6)").alias("cosine_sim"),
    )
    return scored.orderBy(F.col("cosine_sim").desc(), F.col(id_col)).limit(k)


def cosine_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.8,
) -> DataFrame:
    """All-pairs cosine ≥ threshold (exact). Quadratic — the
    verification path for LSH candidates; do not run standalone at
    100 TB (use ``rhp_lsh_pairs`` to generate candidates first).

    Norms are computed ONCE per vector and carried into the pair stage
    (one fold per pair instead of three); the per-vector norm fold
    produces the identical double either way, so results are
    bit-identical to the inline-``cosine`` form the oracle mirrors."""
    prepped = corpus.select(
        qcol(id_col).alias("__id"), as_double_array(vec_col).alias("__v")
    ).selectExpr("__id", "__v", f"{_sql_norm('__v')} AS __n")
    a = prepped.alias("a")
    b = prepped.alias("b")
    sim = F.expr(
        f"{_sql_dot('a.__v', 'b.__v')} / nullif(a.__n * b.__n, 0.0D)"
    )
    return (
        a.join(b, F.col("a.__id") < F.col("b.__id"))
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.round(sim, 6).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


# ------------------------------------------------------------------ LSH
def _sql_hyperplane_sign(plane: int, dim_index: int) -> str:
    """Deterministic ±1 weight for (plane, dim): sign of xxhash64."""
    return (
        f"CASE WHEN xxhash64(concat_ws(':', '{plane}', '{dim_index}')) >= 0 "
        "THEN 1.0D ELSE -1.0D END"
    )


def hyperplane_matrix(
    spark, dims: int, num_planes: int, start: int = 0
) -> list[list[float]]:
    """±1 hyperplane weights, derived once from xxhash64(plane, dim) —
    no stored model, reproducible across runs/sessions/executors. One
    tiny Spark job (num_planes × dims cells, one SQL string)
    materializes them so the per-row signature math uses plain
    literals. ``start`` offsets the plane indices (planes
    start..start+num_planes-1) — the block-wise lever for projections
    too wide for one literal plan: blocks at different starts derive
    DIFFERENT planes, never copies."""
    row = (
        spark.range(1)
        .selectExpr(
            *[
                "array("
                + ", ".join(
                    _sql_hyperplane_sign(start + p, i) for i in range(dims)
                )
                + f") AS p{p}"
                for p in range(num_planes)
            ]
        )
        .first()
    )
    return [[float(x) for x in row[f"p{p}"]] for p in range(num_planes)]


def _sql_rhp_signature(v_sql: str, planes: list[list[float]]) -> str:
    """SQL text of the ``rhp_signature`` bit array over ``v_sql`` (an
    array<double> expression)."""
    bits = []
    for weights in planes:
        proj = _sql_dot(v_sql, _sql_array_lit(weights))
        bits.append(f"CASE WHEN {proj} >= 0.0D THEN 1 ELSE 0 END")
    return "array(" + ", ".join(bits) + ")"


def rhp_signature(vec_col: Column | str, planes: list[list[float]]) -> Column:
    """Random-hyperplane (SimHash-for-vectors) bit signature.

    Bit p = [vec · plane_p ≥ 0], planes given as literal ±1 matrices
    (see ``hyperplane_matrix``). Each projection is a fixed-order fold
    in DOUBLE — deterministic, so the same vector always gets the same
    signature regardless of partitioning. String column names render as
    one SQL expression (single py4j call); Column inputs fall back to
    the equivalent Column composition.
    """
    if isinstance(vec_col, str):
        return F.expr(_sql_rhp_signature(_sql_to_double(_qident(vec_col)), planes))
    v = as_double_array(vec_col)
    bits = []
    for weights in planes:
        w = F.array(*[F.lit(x) for x in weights])
        proj = F.aggregate(
            F.zip_with(v, w, lambda x, s: x * s),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(proj >= 0, 1).otherwise(0))
    return F.array(*bits)


def rhp_lsh_topk(
    corpus: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    num_planes: int = 16,
    bands: int = 4,
    signature: str = "random",
) -> DataFrame:
    """Approximate top-k: only corpus vectors sharing ≥1 signature band
    with the query are scored. Bucket keys prune the scan (at scale:
    pre-materialize band keys as a partition/bucket column so the probe
    is partition-pruned, not a full scan).

    ``signature='random'`` uses the xxhash64-derived ±1 hyperplanes;
    ``'axis'`` uses the unit axes (bit i = [v_i ≥ 0], requires
    dim ≥ num_planes) — degenerate-but-valid RHP whose bits any SQL
    engine reproduces, so the approximate result set verifies exactly
    against an oracle (same trade as ``lsh_cosine_pairs``)."""
    rows = num_planes // bands
    if num_planes % bands != 0:
        raise ValueError(
            f"num_planes={num_planes} not divisible by bands={bands}"
        )
    if signature == "axis":
        if len(query_vec) < num_planes:
            raise ValueError(
                f"axis signature needs dim >= num_planes, got "
                f"{len(query_vec)} < {num_planes}"
            )
        qsig = [1 if query_vec[p] >= 0 else 0 for p in range(num_planes)]
        sig_col = sign_bits_signature(vec_col, num_planes)
    else:
        planes = hyperplane_matrix(
            corpus.sparkSession, len(query_vec), num_planes
        )
        # query signature, computed driver-side from the same literal planes
        qsig = [
            1 if sum(x * s for x, s in zip(query_vec, w)) >= 0 else 0
            for w in planes
        ]
        sig_col = rhp_signature(vec_col, planes)
    sigd = corpus.select(
        qcol(id_col).alias(id_col),
        as_double_array(vec_col).alias("__v"),
        sig_col.alias("__sig"),
    )
    band_match = " OR ".join(
        "("
        + " AND ".join(
            f"element_at(__sig, {b * rows + j + 1}) = {qsig[b * rows + j]}"
            for j in range(rows)
        )
        + ")"
        for b in range(bands)
    )
    q = _sql_array_lit(query_vec)
    return (
        sigd.filter(F.expr(band_match))
        .select(
            id_col,
            F.expr(f"round({_sql_cosine('__v', q)}, 6)").alias("cosine_sim"),
        )
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col))
        .limit(k)
    )


# ------------------------------------------------------------------ IVF
def _py_fold_dot(a: list[float], b: list[float]) -> float:
    """Driver-side strict left fold — bit-identical to the Column/oracle
    fold (sequential IEEE double adds in index order)."""
    dp = 0.0
    for x, y in zip(a, b):
        dp += x * y
    return dp


def _py_norm(a: list[float]) -> float:
    import math

    return math.sqrt(_py_fold_dot(a, a))


def _py_cos_key(q: list[float], v: list[float]) -> float:
    """Driver-side cosine used ONLY as a centroid sort key: zero-norm /
    NaN degenerate centroids map to -inf so they deterministically rank
    last instead of floating arbitrarily through the sort (NaN compares
    are order-dependent)."""
    den = _py_norm(q) * _py_norm(v)
    if den == 0.0:
        return float("-inf")
    c = _py_fold_dot(q, v) / den
    return c if c == c else float("-inf")


def ivf_centroids(
    corpus: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    every: int = 97, max_centroids: int = 8,
) -> list[tuple[int, list[float]]]:
    """Deterministic coarse centroids: every ``every``-th corpus vector
    by id, capped at ``max_centroids`` (a fixed sample stands in for
    k-means — the IVF *structure* is what matters: cluster assignment +
    probe pruning; swapping in trained centroids changes recall, not
    the plan shape)."""
    rows = (
        corpus.filter((qcol(id_col) % every) == 0)
        .select(qcol(id_col).alias("cid"), as_double_array(vec_col).alias("cv"))
        .orderBy("cid")
        .limit(max_centroids)
        .collect()
    )
    return [(int(r["cid"]), [float(x) for x in r["cv"]]) for r in rows]


def kmeans_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 3,
    every: int = 97,
) -> list[tuple[int, list[float]]]:
    """Distributed Lloyd's k-means over the embedding column (cosine
    assignment, mean update) — the trained upgrade of the
    ``ivf_centroids`` fixed sample, same return shape so every IVF
    entry point accepts it via its ``centroids=`` parameter.

    Deterministic by construction: initialization is the
    ``ivf_centroids`` fixed sample (no RNG), re-labeled 0..k-1. Each
    iteration is ONE Spark job: nearest-centroid assignment with the
    current centroids as broadcast literals (``ivf_assign`` — no
    shuffle of vectors), then the element-wise member mean per cluster
    as a ``groupBy(cluster)`` of per-position ``avg`` columns — a
    map-side-combinable aggregate whose shuffle carries k × dim partial
    sums, not vectors. The driver holds only k × dim doubles per round.
    An emptied cluster keeps its previous centroid (no respawn —
    deterministic, and harmless for IVF where centroids are routing
    structure, not a statistical claim). Mean floats are combined in
    partition order, so trained values are reproducible only to float
    tolerance — fine for routing, which is why the ORACLE-facing
    entries keep the fixed sample.

    At 100 TB: ``iters`` scans of the corpus at index-build time, each
    embarrassingly parallel; nothing about the probe path changes.
    """
    if k < 1 or iters < 0:
        raise ValueError(f"need k >= 1, iters >= 0, got k={k} iters={iters}")
    init = ivf_centroids(corpus, id_col, vec_col, every, max_centroids=k)
    if not init:
        return []
    cents = [(i, cvec) for i, (_, cvec) in enumerate(init)]
    dim = len(cents[0][1])
    for _ in range(iters):
        assigned = ivf_assign(corpus, cents, id_col, vec_col)
        mean_arr = ", ".join(
            f"avg(element_at(__v, {i + 1}))" for i in range(dim)
        )
        means = (
            assigned.groupBy("cluster")
            .agg(F.expr(f"array({mean_arr})").alias("__means"))
            .collect()
        )
        by_cluster = {
            int(r["cluster"]): [float(x) for x in r["__means"]]
            for r in means
        }
        cents = [(cid, by_cluster.get(cid, prev)) for cid, prev in cents]
    return cents


# above this many centroids, assignment switches from inlined literal
# expressions to a broadcast-join: the literal plan grows |C|×dim
# doubles and chokes Catalyst/codegen long before |C| reaches the
# k ≈ √N a large corpus needs
ASSIGN_LITERAL_MAX = 32


def ivf_assign(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    via_join: bool | None = None,
) -> DataFrame:
    """(id, vec, cluster) — nearest-centroid assignment, ties to the
    larger centroid id. At 100 TB this runs ONCE at index build and
    ``cluster`` becomes a partition column so probes prune partitions.

    Two physical forms, same results:

    - ``via_join=False`` (default up to ``ASSIGN_LITERAL_MAX``):
      centroids enter the plan as literals; each row computes |C| fold
      dot products inside one codegen'd projection — no shuffle, no
      join, and exactly reproducible in the SQL oracle.
    - ``via_join=True`` (default above the cap): centroids become a
      broadcast DataFrame; corpus × centroids is a broadcast
      nested-loop fan-out (k rows per vector, corpus never shuffled)
      collapsed by a partial-aggregating max over the (sim, cid)
      struct — the form that scales to k ≈ √N centroids, where the
      literal plan would be megabytes of expression tree.

    Perf shape (both forms): the vector is bound to a projected column
    and the row norm computed a single time (the HOF inline-subtree
    trap, see operators.dedup.word_shingles); centroid norms are
    computed once driver-side.
    """
    prepped = corpus.select(
        qcol(id_col).alias(id_col), as_double_array(vec_col).alias("__v")
    ).selectExpr(_qident(id_col), "__v", f"{_sql_norm('__v')} AS __nv")
    if via_join is None:
        via_join = len(centroids) > ASSIGN_LITERAL_MAX
    if not via_join:
        cells = ", ".join(
            "named_struct('s', "
            f"{_sql_dot('__v', _sql_array_lit(cvec))} / "
            f"nullif(__nv * {_dlit(_py_norm(cvec))}, 0.0D), "
            f"'c', {int(cid)})"
            for cid, cvec in centroids
        )
        # struct order: (sim, cid) — tie → larger cid
        best = F.expr(f"array_max(array({cells}))")
        return prepped.select(
            id_col, "__v", "__nv", best.getField("c").alias("cluster")
        )
    spark = corpus.sparkSession
    cents = spark.createDataFrame(
        [(int(cid), [float(x) for x in cvec], _py_norm(cvec))
         for cid, cvec in centroids],
        "cid long, cv array<double>, ncv double",
    )
    scored = prepped.join(F.broadcast(cents)).selectExpr(
        _qident(id_col),
        "__v",
        "__nv",
        "named_struct('s', "
        f"{_sql_dot('__v', 'cv')} / nullif(__nv * ncv, 0.0D), "
        "'c', cid) AS __sc",
    )
    # the BNLJ fan-out preserves corpus partitioning, so every vector's
    # k candidate rows sit in one partition and the max collapses
    # map-side before any shuffle
    return (
        scored.groupBy(id_col)
        .agg(
            F.first("__v").alias("__v"),
            F.first("__nv").alias("__nv"),
            F.max("__sc").alias("__best"),
        )
        .select(
            id_col, "__v", "__nv", F.col("__best.c").alias("cluster")
        )
    )


def _read_ivf_centroids(spark, path: str) -> list[tuple[int, list[float]]]:
    """The centroid sidecar, in the (cid, vector) shape every IVF entry
    point consumes — ONE definition so probe and append can never
    disagree on the sidecar schema."""
    return [
        (int(r["cid"]), [float(x) for x in r["cvec"]])
        for r in spark.read.parquet(path + "_centroids").collect()
    ]


def _write_centroid_sidecar(spark, cents, path: str) -> None:
    """Persist the centroid sidecar (the shape _read_ivf_centroids
    reads back) — shared by the float-vector and PQ index builders."""
    spark.createDataFrame(
        [(cid, cvec) for cid, cvec in cents],
        "cid int, cvec array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(path + "_centroids")


def _probe_ids(
    centroids: list[tuple[int, list[float]]],
    query_vec: list[float],
    nprobe: int,
) -> list[int]:
    """The nprobe centroid ids nearest the query by cosine, ties to the
    larger cid — ONE definition of the routing rule, so assignment-time
    and probe-time routing can never drift apart."""
    probed = sorted(
        centroids, key=lambda cv: (-_py_cos_key(query_vec, cv[1]), -cv[0])
    )[:nprobe]
    return [cid for cid, _ in probed]


def ivf_topk(
    corpus: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 2,
    every: int = 97,
    max_centroids: int = 8,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: score only vectors assigned to the
    ``nprobe`` centroids nearest the query. The probe-set filter is the
    scale lever — with cluster as a partition column the scan touches
    nprobe/|C| of the corpus. ``centroids`` accepts a pre-trained set
    (``kmeans_centroids``); default is the deterministic fixed sample."""
    if centroids is None:
        centroids = ivf_centroids(corpus, id_col, vec_col, every, max_centroids)
    probe_ids = _probe_ids(centroids, query_vec, nprobe)
    assigned = ivf_assign(corpus, centroids, id_col, vec_col)
    q = _sql_array_lit(query_vec)
    nq = _py_norm([float(x) for x in query_vec])
    return (
        assigned.filter(F.col("cluster").isin(probe_ids))
        .select(
            id_col,
            F.expr(
                f"round({_sql_dot('__v', q)} / "
                f"nullif(__nv * {_dlit(nq)}, 0.0D), 6)"
            ).alias("cosine_sim"),
        )
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col))
        .limit(k)
    )


def write_ivf_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    every: int = 97,
    max_centroids: int = 8,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> list[tuple[int, list[float]]]:
    """Materialize the IVF index the probe path prunes against: assign
    clusters, write the corpus parquet PARTITIONED BY cluster (with the
    row norm precomputed), and persist the centroids as a tiny sidecar.
    This is the 'index build runs once' half of the IVF story — after
    it, a probe touches nprobe/|C| of the data via partition pruning
    (PartitionFilters on the scan, asserted in tests). ``centroids``
    accepts a pre-trained set (``kmeans_centroids``)."""
    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(corpus, id_col, vec_col, every, max_centroids)
    )
    assigned = ivf_assign(corpus, cents, id_col, vec_col)
    (
        assigned.select(
            qcol(id_col),
            F.col("__v").alias(vec_col),
            F.col("__nv").alias("_norm"),
            "cluster",
        )
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(path)
    )
    spark = corpus.sparkSession
    _write_centroid_sidecar(spark, cents, path)
    return cents


def ivf_probe(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query a ``write_ivf_index`` index: pick the nprobe nearest
    centroids driver-side (tiny sidecar read), scan ONLY their
    partitions (cluster is a partition column → partition pruning, no
    full scan), score with the precomputed norms, top-k."""
    cents = _read_ivf_centroids(spark, path)
    probe_ids = _probe_ids(cents, query_vec, nprobe)
    q = _sql_array_lit(query_vec)
    nq = _py_norm([float(x) for x in query_vec])
    idx = spark.read.parquet(path)
    return (
        idx.filter(F.col("cluster").isin(probe_ids))
        .select(
            id_col,
            F.expr(
                f"round({_sql_dot(_qident(vec_col), q)} / "
                f"nullif(_norm * {_dlit(nq)}, 0.0D), 6)"
            ).alias("cosine_sim"),
        )
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col))
        .limit(k)
    )


def nearest_neighbor_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    vec_col: str = "embedding",
    k: int = 1,
) -> DataFrame:
    """For each left row, its k nearest right rows by cosine (exact).

    Implemented as broadcast of the smaller side + window top-k; the
    100 TB shape is ``lsh_nn_join`` (band equi-join instead of the
    cross join, same downstream window).
    """
    l = left.select(
        qcol(left_id).alias("__lid"), as_double_array(vec_col).alias("__lv")
    ).selectExpr("__lid", "__lv", f"{_sql_norm('__lv')} AS __lnorm")
    r = right.select(
        qcol(right_id).alias("__rid"), as_double_array(vec_col).alias("__rv")
    ).selectExpr("__rid", "__rv", f"{_sql_norm('__rv')} AS __rnorm")
    sim = F.expr(
        f"{_sql_dot('__lv', '__rv')} / nullif(__lnorm * __rnorm, 0.0D)"
    )
    scored = l.crossJoin(F.broadcast(r)).select(
        "__lid",
        "__rid",
        F.round(sim, 6).alias("cosine_sim"),
    )
    w = Window.partitionBy("__lid").orderBy(F.col("cosine_sim").desc(), F.col("__rid"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(
            F.col("__lid").alias(left_id),
            F.col("__rid").alias(right_id),
            "cosine_sim",
        )
    )


def sign_bits_signature(vec_col: Column | str, num_bits: int) -> Column:
    """Axis-aligned hyperplane signature (bit-sampling LSH): bit i =
    [v_i ≥ 0]. A degenerate-but-valid member of the RHP family (planes =
    unit axes) with two properties the general form lacks: no fold per
    plane (plain element_at comparisons, codegen-friendly) and an
    oracle-expressible definition — DuckDB computes the identical bits,
    so an approximate NN result can be verified EXACTLY, not just by
    recall."""
    if isinstance(vec_col, str):
        cases = ", ".join(
            f"CASE WHEN CAST(element_at({_qident(vec_col)}, {i + 1}) "
            "AS DOUBLE) >= 0.0D THEN 1 ELSE 0 END"
            for i in range(num_bits)
        )
        return F.expr(f"array({cases})")
    v = as_double_array(vec_col)
    return F.array(
        *[
            F.when(F.element_at(v, i + 1) >= 0, 1).otherwise(0)
            for i in range(num_bits)
        ]
    )


def rhp_band_keys(sig_col: Column | str, num_planes: int, bands: int) -> Column:
    """Column: RHP bit signature → array of per-band BIGINT bucket keys.

    Key = the band's bits packed little-endian, namespaced by the band
    index in the high bits so keys never collide across bands — which
    lets candidates join on the single key column instead of
    (band_idx, key)."""
    if num_planes % bands != 0:
        raise ValueError(
            f"num_planes={num_planes} not divisible by bands={bands}: the "
            "trailing signature bits would be silently dropped, weakening "
            "recall"
        )
    rows = num_planes // bands
    if isinstance(sig_col, str):
        sig = _qident(sig_col)
        keys = []
        for b in range(bands):
            terms = [str(b * (1 << rows))] + [
                f"element_at({sig}, {b * rows + j + 1}) * {1 << j}"
                for j in range(rows)
            ]
            keys.append(f"CAST({' + '.join(terms)} AS BIGINT)")
        return F.expr("array(" + ", ".join(keys) + ")")
    keys = []
    for b in range(bands):
        key: Column = F.lit(b * (1 << rows))
        for j in range(rows):
            key = key + F.element_at(sig_col, b * rows + j + 1) * F.lit(1 << j)
        keys.append(key.cast("long"))
    return F.array(*keys)


def _signature_expr(
    spark,
    vecc: str,
    signature: str,
    num_planes: int,
    dims: int | None,
):
    """Shared signature construction for the LSH joins: returns a
    function column-name → signature Column."""
    if signature == "rhp":
        if dims is None:
            raise ValueError("rhp signature needs dims")
        planes = hyperplane_matrix(spark, dims, num_planes)
        return lambda c: rhp_signature(c, planes)
    if signature == "axis":
        return lambda c: sign_bits_signature(c, num_planes)
    raise ValueError(f"unknown signature kind {signature!r}")


def lsh_cosine_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.8,
    num_planes: int = 16,
    bands: int = 2,
    signature: str = "axis",
    dims: int | None = None,
) -> DataFrame:
    """LSH-bucketed cosine near-dup pairs — the 100 TB form of
    ``cosine_pairs``: only vectors sharing ≥1 signature band are scored
    (banded self-join on the key, routed through the shared
    ``_band_self_join`` since r15), exact cosine on the candidates
    only.

    With signature='axis' the banding itself is oracle-expressible, so
    the approximate pair set verifies exactly against a SQL engine.

    The signatures stay unpersisted: AQE stage reuse computes the join
    sides' shared signature subtree once and no cache-build barrier is
    paid — measured faster than both the persisted form and a fused
    bucket-aggregate alternative (see ``_band_self_join``).
    """
    prep = corpus.select(
        qcol(id_col).alias("__id"), as_double_array(vec_col).alias("__v")
    )
    if signature == "rhp" and dims is None:
        dims = int(prep.select(F.size("__v").alias("n")).first()["n"])
    sig_of = _signature_expr(
        corpus.sparkSession, "__v", signature, num_planes, dims
    )
    sigd = prep.select("__id", sig_of("__v").alias("__sig"))
    banded = sigd.select(
        "__id",
        F.explode_outer(
            rhp_band_keys("__sig", num_planes, bands)
        ).alias("__bkey"),
    )
    # r15: routed through the ONE banding definition (the internal
    # column name is the only difference) — self-join + map-side-
    # fusable distinct over the unpersisted banded frame.
    from .dedup import _band_self_join

    cand = _band_self_join(banded.selectExpr("__id", "__bkey AS __band"))
    # norms once per vector, one fold per candidate pair (bit-identical
    # to inline cosine — the norm fold yields the same double)
    withn = prep.selectExpr("__id", "__v", f"{_sql_norm('__v')} AS __n")
    va = withn.selectExpr("__id AS id_a", "__v AS __va", "__n AS __na")
    vb = withn.selectExpr("__id AS id_b", "__v AS __vb", "__n AS __nb")
    sim_sql = f"{_sql_dot('__va', '__vb')} / nullif(__na * __nb, 0.0D)"
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .selectExpr("id_a", "id_b", f"round({sim_sql}, 6) AS cosine_sim")
        .filter(F.col("cosine_sim") >= threshold)
    )


def lsh_nn_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    vec_col: str = "embedding",
    k: int = 1,
    num_planes: int = 16,
    bands: int = 8,
    dims: int | None = None,
    signature: str = "rhp",
) -> DataFrame:
    """LSH-bucketed nearest-neighbor join — the 100 TB form of
    ``nearest_neighbor_join``.

    ``signature``: 'rhp' (random hyperplanes from xxhash64 — better
    bucket balance for arbitrary data) or 'axis' (sign bits of the
    first ``num_planes`` dimensions — oracle-expressible, so the
    approximate result can be verified exactly against a SQL engine
    implementing the same banding).

    Both sides get random-hyperplane bit signatures from the SAME
    deterministic plane matrix (no stored model); each side explodes
    into one row per signature band. Candidates = equi-join on the band
    key — a plain hash join, never CartesianProduct /
    BroadcastNestedLoopJoin — deduped to distinct (left, right) pairs,
    re-joined to the vectors by id, exact-cosine re-ranked, window
    top-k per left id.

    Recall is tuned by rows-per-band (num_planes // bands): fewer bits
    per band → more candidates → higher recall (rows=2 default). The
    contract query pins parameters where measured recall is 1.0 on the
    testdata, so the exact-NN oracle applies verbatim.

    Shuffle budget: bands×|L| + bands×|R| rows of (id, int64 key) —
    vectors are NOT replicated through the band explode; they re-join
    by id for the re-rank (compact equi-joins, linear in input size).
    """
    spark = left.sparkSession
    l_prep = left.select(
        qcol(left_id).alias("__lid"), as_double_array(vec_col).alias("__lv")
    )
    r_prep = right.select(
        qcol(right_id).alias("__rid"), as_double_array(vec_col).alias("__rv")
    )
    if signature == "rhp" and dims is None:
        # infer dims from the first NON-NULL vector: first() on the raw
        # frame would return NULL size for a NULL-embedding lead row
        # (int(None) TypeError) and None for an empty frame. With no
        # usable vectors at all, any dims value is fine — NULL vectors
        # produce NULL band keys, which an equi-join never matches, so
        # the result is correctly empty either way.
        row = (
            l_prep.filter(F.col("__lv").isNotNull())
            .select(F.size("__lv").alias("n"))
            .first()
        )
        dims = int(row["n"]) if row is not None else 1
    sig_of = _signature_expr(spark, "__lv", signature, num_planes, dims)

    def banded(prep: DataFrame, idc: str, vecc: str) -> DataFrame:
        # two-step projection: bind the signature to a real column so
        # the per-band element_at references an attribute, not the fold
        # subtree (the HOF inline trap, see operators.dedup.word_shingles)
        sigd = prep.select(idc, sig_of(vecc).alias("__sig"))
        keys = rhp_band_keys("__sig", num_planes, bands)
        # explode_outer, not explode: plain explode invites
        # InferFiltersFromGenerate to synthesize size(keys) > 0, which
        # substitutes the signature subtree back in (see operators.dedup)
        return sigd.select(idc, F.explode_outer(keys).alias("__bkey"))

    cand = (
        banded(l_prep, "__lid", "__lv")
        .join(banded(r_prep, "__rid", "__rv"), "__bkey")
        .select("__lid", "__rid")
        .distinct()
    )
    l_norm = l_prep.selectExpr(
        "__lid", "__lv", f"{_sql_norm('__lv')} AS __lnorm"
    )
    r_norm = r_prep.selectExpr(
        "__rid", "__rv", f"{_sql_norm('__rv')} AS __rnorm"
    )
    sim = F.expr(
        f"{_sql_dot('__lv', '__rv')} / nullif(__lnorm * __rnorm, 0.0D)"
    )
    scored = (
        cand.join(l_norm, "__lid")
        .join(r_norm, "__rid")
        .select("__lid", "__rid", F.round(sim, 6).alias("cosine_sim"))
    )
    w = Window.partitionBy("__lid").orderBy(
        F.col("cosine_sim").desc(), F.col("__rid")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(
            F.col("__lid").alias(left_id),
            F.col("__rid").alias(right_id),
            "cosine_sim",
        )
    )


# ----------------------------------------------------- semantic dedup
def semantic_dup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    centroids: list[tuple[int, list[float]]] | None = None,
    k: int = 8,
    iters: int = 2,
    every: int = 97,
    cache_assignments: bool = True,
) -> DataFrame:
    """Embedding near-duplicate pairs the SemDeDup way (Abbas et al.
    2023, arXiv:2303.09540): cluster the corpus (k-means over cosine),
    then compare pairs ONLY within a cluster — (id_a, id_b,
    cosine_sim) for same-cluster pairs with cosine ≥ ``threshold``.

    Scale shape: the only shuffle is the per-cluster self-join keyed on
    the cluster id; the pair space is Σ|cluster|², bounded by
    clustering instead of the corpus-wide |N|² of ``cosine_pairs``.
    Grow ``k`` with corpus size (k ≈ √N keeps expected cluster width
    flat); skewed clusters split further under AQE skew-join handling.
    Row norms are computed once per row before the join, so each pair
    costs one fold dot product.

    ``cache_assignments`` persists the assigned (id, vec, cluster)
    frame — the same artifact ``write_ivf_index`` materializes to
    parquet — because the self-join otherwise evaluates the |C|-way
    assignment fan-out once per side. Pass False to keep the plan
    fully lazy.
    """
    if centroids is None:
        centroids = kmeans_centroids(
            corpus, id_col, vec_col, k=k, iters=iters, every=every
        )
    assigned = ivf_assign(corpus, centroids, id_col, vec_col)
    if cache_assignments:
        assigned = assigned.persist()
    a = assigned.select(
        F.col("cluster"),
        qcol(id_col).alias("__ida"),
        F.col("__v").alias("__va"),
        F.col("__nv").alias("__nva"),
    )
    b = assigned.select(
        F.col("cluster"),
        qcol(id_col).alias("__idb"),
        F.col("__v").alias("__vb"),
        F.col("__nv").alias("__nvb"),
    )
    return (
        a.join(b, ["cluster"])
        .filter(F.col("__ida") < F.col("__idb"))
        .selectExpr(
            "__ida AS id_a",
            "__idb AS id_b",
            f"round({_sql_dot('__va', '__vb')} / "
            "nullif(__nva * __nvb, 0.0D), 6) AS cosine_sim",
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    centroids: list[tuple[int, list[float]]] | None = None,
    k: int = 8,
    iters: int = 2,
    every: int = 97,
) -> DataFrame:
    """SemDeDup keep-set: resolve ``semantic_dup_pairs`` into connected
    components (operators.graph.dedup_clusters, pointer-doubling) and
    keep each component's minimum-id row. Returns surviving corpus
    rows, schema unchanged.

    Duplicates missed because the cluster boundary separates them are
    the method's documented recall loss (the paper's trade); raise
    ``k``'s ``iters`` or threshold margin rather than falling back to
    all-pairs.
    """
    from .graph import dedup_clusters

    pairs = semantic_dup_pairs(
        corpus, id_col, vec_col, threshold, centroids, k, iters, every
    )
    clusters = dedup_clusters(corpus, pairs, id_col)
    keep = clusters.filter(F.col("is_canonical")).select(qcol(id_col))
    return corpus.join(keep, on=id_col, how="left_semi")


def ivf_index_append(
    new_df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Append a new batch of vectors to an existing ``write_ivf_index``
    index WITHOUT rebuilding it: read the centroid sidecar, assign the
    batch with the SAME centroids, and append into the cluster
    partition directories. Probes see the new vectors immediately; the
    index never rescans old data — the incremental-ingest half of the
    IVF story, mirroring ``dedup_against_corpus``'s posture that
    per-batch cost must scale with the batch.

    Returns the number of appended rows. Centroids drift as the corpus
    grows (appended vectors may be better served by retrained
    centroids); recall-sensitive deployments rebuild on a cadence —
    the routing stays CORRECT regardless, because probe and assignment
    share the sidecar centroids.
    """
    spark = new_df.sparkSession
    cents = _read_ivf_centroids(spark, path)
    if not cents:
        raise ValueError(f"no centroid sidecar at {path}_centroids")
    assigned = ivf_assign(new_df, cents, id_col, vec_col).persist()
    n = assigned.count()
    (
        assigned.select(
            qcol(id_col),
            F.col("__v").alias(vec_col),
            F.col("__nv").alias("_norm"),
            "cluster",
        )
        .write.mode("append")
        .partitionBy("cluster")
        .parquet(path)
    )
    assigned.unpersist()
    return n


# ------------------------------------------- semantic decontamination
def semantic_contamination_hits(
    train: DataFrame,
    bench: DataFrame,
    id_col: str,
    bench_id_col: str,
    vec_col: str = "embedding",
    bench_vec_col: str | None = None,
    threshold: float = 0.95,
    num_planes: int = 16,
    bands: int = 8,
    dims: int | None = None,
    signature: str = "rhp",
) -> DataFrame:
    """(train id, bench id, cosine_sim) — training rows whose nearest
    benchmark embedding is within ``threshold`` cosine, the audit face
    of ``decontaminate_semantic`` (same pattern as the n-gram
    ``contamination_hits``: see WHAT would be dropped before dropping
    it). Only the nearest benchmark hit is reported per train row
    (k=1 — one hit is enough to contaminate).

    Rides ``lsh_nn_join``: banded signature equi-join for candidates
    (the benchmark side is small, AQE broadcasts its banded form),
    exact cosine verification on candidates only. ``bench_id_col``
    must differ from ``id_col`` — the output carries both, and two
    identically-named columns would be unreferenceable downstream
    (``decontaminate_semantic`` handles same-named inputs itself by
    renaming the benchmark id internally)."""
    if bench_id_col == id_col:
        raise ValueError(
            f"bench_id_col {bench_id_col!r} must differ from id_col — the "
            "hits output carries both ids; alias the benchmark id first"
        )
    bvec = bench_vec_col or vec_col
    b = bench.select(
        qcol(bench_id_col).alias("__bench_id"),
        qcol(bvec).alias(vec_col) if bvec != vec_col else qcol(bvec),
    )
    hits = lsh_nn_join(
        train, b, id_col, "__bench_id", vec_col,
        k=1, num_planes=num_planes, bands=bands, dims=dims,
        signature=signature,
    )
    return hits.filter(F.col("cosine_sim") >= threshold).select(
        qcol(id_col), F.col("__bench_id").alias(bench_id_col), "cosine_sim"
    )


def decontaminate_semantic(
    train: DataFrame,
    bench: DataFrame,
    id_col: str,
    bench_id_col: str,
    vec_col: str = "embedding",
    bench_vec_col: str | None = None,
    threshold: float = 0.95,
    num_planes: int = 16,
    bands: int = 8,
    dims: int | None = None,
    signature: str = "rhp",
) -> DataFrame:
    """Drop training rows whose embedding is within ``threshold``
    cosine of ANY benchmark embedding — the semantic complement of the
    n-gram ``decontaminate``: paraphrased or lightly-reworded eval
    leakage shares no 8-gram but sits next to the benchmark in
    embedding space (the contamination studies' motivating case).

    Returns the surviving training rows, schema unchanged. Rows with
    NULL embeddings are KEPT (no signature → never a candidate — the
    comparison is undefined, and silently dropping unembeddable rows
    would turn a missing-feature bug into data loss); run the n-gram
    pass alongside, as `prepare_training_data` does, so text-level
    leakage is still caught.

    Approximate by construction (LSH recall < 1 for near-threshold
    pairs — identical vectors always share every band, so EXACT
    copies can never slip through); tighten ``bands``/``num_planes``
    for recall, or verify with the brute-force ``cosine_pairs`` on a
    sample, the same audit the near-dup pipeline documents."""
    # the drop only needs TRAIN ids — rename the benchmark id
    # internally so same-named id columns (both tables keyed
    # 'doc_id', the natural call) never produce an ambiguous output
    bvec = bench_vec_col or vec_col
    b = bench.select(
        qcol(bench_id_col).alias("__dsb_id"), qcol(bvec).alias(bvec)
    )
    hits = semantic_contamination_hits(
        train, b, id_col, "__dsb_id", vec_col, bvec,
        threshold, num_planes, bands, dims, signature,
    )
    return train.join(
        hits.select(qcol(id_col)), on=id_col, how="left_anti"
    )


# --------------------------------------------------- int8 quantization
def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    qvec_col: str = "qvec",
    scale_col: str = "qscale",
) -> DataFrame:
    """Append a symmetric per-row int8 quantization of the embedding:
    ``qscale = amax / 127`` (amax = the row's max |v_i|) and
    ``qvec[i] = floor(v_i * 127 / amax + 0.5)`` ∈ [-127, 127], with
    ``v̂_i = qvec[i] * qscale`` the reconstruction. This is the faiss
    SQ8-style storage diet: 4 bytes/dim → 1, so a 100 TB embedding
    store scans (and shuffles, and caches) at a quarter of the bytes,
    while candidate scoring becomes an EXACT integer dot product
    (|Σ qa_i·qb_i| ≤ dim·127² — engine- and order-independent) scaled
    by two per-row floats at the end.

    Pinned semantics (cross-engine): amax is an exact max of absolute
    values (no rounding, any fold order); the quantizer is
    ``floor(x + 0.5)`` — half-UP for all signs, identical in Spark and
    DuckDB, unlike round() whose tie rule differs between engines.
    Totality: a NULL embedding or an all-zero row (amax = 0 — nothing
    to scale against) yields NULL qvec/qscale and is skipped by
    scoring, never crashed on.

    Scale shape: a pure narrow map — zero shuffles, zero aggregates;
    quantization cost is one pass over values already in cache. The
    amax fold is materialized as a staged column BEFORE the transform
    lambda references it — Catalyst does no common-subexpression
    elimination inside HOF lambda bodies, so inlining the fold would
    re-run it per element (O(dim²) per row, the let-binding trap
    winnow.py documents)."""
    for c in (qvec_col, scale_col, "__amax"):
        if c in df.columns:
            raise ValueError(
                f"quantize_embeddings: column {c!r} already exists — "
                "rename it first"
            )
    v = as_double_array(vec_col)
    staged = df.withColumn(
        "__amax",
        F.aggregate(v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))),
    )
    amax = F.col("__amax")
    ok = amax > F.lit(0.0)
    q = F.transform(
        v,
        lambda x: F.floor(x * F.lit(127.0) / amax + F.lit(0.5)).cast("int"),
    )
    return (
        staged.withColumn(qvec_col, F.when(ok, q))
        .withColumn(scale_col, F.when(ok, amax / F.lit(127.0)))
        .drop("__amax")
    )


def quantize_vector(vec: list[float]) -> tuple[list[int] | None, float | None]:
    """Driver-side quantizer for a literal query vector — the SAME
    IEEE operation sequence as :func:`quantize_embeddings` (Python
    floats ARE doubles), so a query quantized here scores against a
    corpus quantized there with zero drift."""
    import math

    amax = 0.0
    for x in vec:
        amax = max(amax, abs(float(x)))
    if amax <= 0.0:
        return None, None
    return (
        [int(math.floor(float(x) * 127.0 / amax + 0.5)) for x in vec],
        amax / 127.0,
    )


def ann_topk_quantized(
    corpus: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact top-k by quantized dot product: the int8 shadow of
    :func:`cosine_topk` — ``score = qscale_row · qscale_query · qdot``
    with ``qdot`` the EXACT integer inner product (shipped as a LONG
    column so the ranking's backbone is engine-reproducible; the two
    scale factors are per-row positive constants, so for a fixed query
    the ordering is by ``qscale_row · qdot`` — one correctly-rounded
    multiply of identical doubles in any engine).

    Approximate relative to float cosine (quantization noise ~1/254
    per dim), exact relative to its own contract — the recall-vs-bytes
    tradeoff is the point. Ranking ties resolve by id ascending."""
    qq, qs = quantize_vector(query_vec)
    if qq is None:
        raise ValueError("ann_topk_quantized: query vector has no mass")
    prepped = quantize_embeddings(
        corpus.select(qcol(id_col).alias(id_col), qcol(vec_col).alias(vec_col)),
        vec_col,
    ).filter(F.col("qvec").isNotNull())
    # the query literal renders as ONE SQL string (the module's
    # expression-kit rule: per-element F.lit/F.array costs a py4j
    # round-trip per dim — seconds of driver time at dim 1024+)
    qlit = "array(" + ", ".join(str(int(x)) for x in qq) + ")"
    # dimension guard BEFORE the fold: zip_with pads the shorter side
    # with NULLs, which would make qdot/score NULL and silently sort
    # those rows out of the top-k — a mismatched corpus must fail
    # loudly instead (lazy raise_error, evaluated only on bad rows)
    qdot_sql = (
        f"CASE WHEN size(qvec) <> {len(qq)} THEN cast(raise_error(concat("
        f"'ann_topk_quantized: corpus embedding dimension ', "
        f"cast(size(qvec) as string), ' != query dimension {len(qq)}')) "
        f"as bigint) ELSE aggregate(zip_with(qvec, {qlit}, "
        "(a, b) -> cast(a as bigint) * cast(b as bigint)), "
        "cast(0 as bigint), (acc, x) -> acc + x) END"
    )
    # qdot staged once, then the score projects from the column — the
    # fold runs one time per row (HOF aggregates sit outside codegen's
    # subexpression elimination, so repeating the expression would
    # genuinely run it twice)
    scored = prepped.selectExpr(
        _qident(id_col), f"{qdot_sql} AS qdot", "qscale"
    ).selectExpr(
        _qident(id_col),
        "qdot",
        f"qscale * {_dlit(float(qs))} * cast(qdot as double) AS score",
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def mean_embedding(
    df: DataFrame,
    group_cols: list[str],
    vec_col: str = "embedding",
    out_col: str = "mean_embedding",
) -> DataFrame:
    """Element-wise MEAN of the vectors in each group — the standard
    chunk→document pooling (embed chunks, average into one document
    vector) and class-centroid builder. One row per group:
    ``(*group_cols, <out_col>, n_vecs)``.

    Pinned semantics: sums route through DECIMAL(38,12) so the fold is
    order-independent — float sums differ by partitioning, and a doc
    vector that changes when the cluster re-partitions poisons every
    downstream dedup/ANN result. The final mean is one decimal
    division + double cast: EXACTLY reproducible within Spark (any
    partitioning, any rerun), but engines round decimal division at
    different intermediate scales, so a cross-engine mirror agrees to
    ~1e-8 absolute, not bit-for-bit (the documented decimal→double
    seam; tests pin exact values on literal frames and band the
    DuckDB mirror). NULL vectors are
    excluded (``n_vecs`` counts the vectors actually pooled; an
    all-NULL group disappears — no vector to report). EMPTY vectors
    behave the same way: ``[]`` explodes to zero rows, so a group of
    only empty arrays also disappears (and a group MIXING empty with
    non-empty trips the ragged guard — size 0 vs size d). A NULL
    element INSIDE a vector raises (the sum would skip it while the
    divisor counted the row — a silently deflated mean). RAGGED
    dimensions inside one group raise (an element-wise mean across
    mismatched dims is meaningless and zip-style padding would
    silently truncate).

    Scale shape: one (group, dim) explode + map-side-combining
    aggregate + one collect_list bounded by the dimension — shuffles
    carry (group, dim, value) triples; no vector is ever broadcast or
    collected."""
    if not group_cols:
        raise ValueError(
            "group_cols must be non-empty — a global mean is "
            "mean_embedding over a constant group"
        )
    key_leaves = {g.split(".")[-1] for g in group_cols}
    clash = (
        {"__vec", "__dim", "__val", "__ndim", out_col, "n_vecs"}
        | {f"__g_{k}" for k in key_leaves}
    ) & (set(df.columns) | key_leaves)
    if clash:
        raise ValueError(
            f"mean_embedding: columns {sorted(clash)} collide with "
            "output/internal columns — rename them first"
        )
    keys = [qcol(g).alias(g.split(".")[-1]) for g in group_cols]
    key_names = [g.split(".")[-1] for g in group_cols]
    vecs = df.filter(qcol(vec_col).isNotNull()).select(
        *keys, qcol(vec_col).alias("__vec")
    )
    # ragged-dimension guard rides the same scan (lazy raise_error):
    # every group must agree on size(vec)
    sizes = vecs.groupBy(*key_names).agg(
        F.count_distinct(F.size("__vec")).alias("__ndim")
    )
    checked = vecs.join(
        sizes.select(
            *[F.col(k).alias(f"__g_{k}") for k in key_names], "__ndim"
        ),
        on=[
            vecs[k].eqNullSafe(F.col(f"__g_{k}")) for k in key_names
        ],
        how="inner",
    ).select(
        *key_names,
        F.when(
            F.col("__ndim") > 1,
            F.raise_error(
                F.lit(
                    "mean_embedding: ragged vector dimensions within one "
                    "group — element-wise mean is undefined"
                )
            ).cast("array<double>"),
        ).when(
            # a NULL element would SILENTLY deflate that dimension's
            # mean: F.sum skips the NULL but the per-dim divisor counts
            # the row — raise instead (fill or drop the vector first)
            F.exists("__vec", lambda x: x.isNull()),
            F.raise_error(
                F.lit(
                    "mean_embedding: NULL element inside a vector — "
                    "the mean of that dimension would silently exclude "
                    "it; fill or drop the vector first"
                )
            ).cast("array<double>"),
        ).otherwise(F.col("__vec")).alias("__vec"),
    )
    exploded = checked.select(
        *key_names, F.posexplode("__vec").alias("__dim", "__val")
    )
    per_dim = exploded.groupBy(*key_names, "__dim").agg(
        (
            F.sum(F.col("__val").cast("decimal(38,12)"))
            / F.count(F.lit(1))
        ).cast("double").alias("__mean"),
        F.count(F.lit(1)).alias("__n"),
    )
    return per_dim.groupBy(*key_names).agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("__dim"), F.col("__mean")))
            ),
            lambda s: s["__mean"],
        ).alias(out_col),
        F.max("__n").alias("n_vecs"),
    )


def pq_train(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    every: int = 97,
    sample_offset: int = 0,
) -> list[list[tuple[int, list[float]]]]:
    """Product-quantization codebooks (Jégou et al. 2011): split each
    vector into ``m`` contiguous subvectors and train an independent
    ``k``-centroid L2 codebook per subspace — the compression step
    beyond SQ8 (``quantize_embeddings``): dim doubles → m small ints
    per vector (dim 64, m=4, k=16 → 512 bytes to 4), which is what
    lets a 100 TB embedding store keep its ANN candidates in memory.
    Returns ``m`` lists of ``(code, subcentroid)`` with codes 0..k-1,
    the shape :func:`pq_encode` / :func:`pq_topk` consume.

    Deterministic init (no RNG): the ``ivf_centroids`` discipline —
    every ``every``-th corpus vector by id (shifted by
    ``sample_offset`` — residual training passes ``every // 2`` so the
    sample cannot coincide with the coarse-centroid rows, whose
    residuals are identically zero), capped at ``k``, sliced
    into subspaces (all subspaces share the sample rows). Each Lloyd
    iteration is ONE Spark job for ALL subspaces: per-row best-code
    expressions (argmin over k literal reduced-L2 distances,
    -2·dot(v,c)+|c|² — the |v|² term is constant within a subspace so
    it cannot change the argmin; ties to the SMALLER code via struct
    min), a stack() fan-out to (subspace, code, subvec) rows, then one
    map-side-combining groupBy whose shuffle carries k·dim partial
    sums — vectors are never shuffled, the driver holds m·k·(dim/m) =
    k·dim doubles. An emptied code keeps its previous centroid (the
    ``kmeans_centroids`` no-respawn rule). Mean floats combine in
    partition order — trained values reproduce to float tolerance
    only, the same caveat as ``kmeans_centroids``; encode/ADC with a
    FIXED codebook are bit-deterministic (strict left folds).

    Rows with NULL or wrong-dimension embeddings are ignored by
    training (encode is where mismatches must fail loudly).

    Cites /root/reference scope: no vector surface there; this extends
    the engine's ANN family (IVF routing, SQ8 storage, PQ codes).
    """
    if m < 1 or k < 1 or iters < 0:
        raise ValueError(f"need m >= 1, k >= 1, iters >= 0; got m={m} k={k} iters={iters}")
    if k > 64:
        raise ValueError(
            f"k={k} exceeds the literal-expression plan cap (64); larger "
            "codebooks need the broadcast-join assignment form"
        )
    # sample_offset shifts the deterministic sample off the
    # ``id % every == 0`` rows — REQUIRED for residual-index training,
    # where those exact rows are the coarse centroids and their
    # residuals are all zero (an all-zero init collapses the codebook
    # to one effective code)
    sample = (
        corpus.filter((qcol(id_col) % every) == (sample_offset % every))
        .select(qcol(id_col).alias("cid"), as_double_array(vec_col).alias("cv"))
        .filter(F.col("cv").isNotNull())
    )
    first = sample.orderBy("cid").select(F.size("cv").alias("d")).first()
    if first is None:
        return []
    dim = int(first["d"])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    # the dimension filter runs IN-PLAN, BEFORE the limit (dim probed
    # from the first sampled row): a ragged sampled vector must not
    # consume a sample slot — the python slice would silently truncate
    # a short centroid, and an engine that filters before LIMIT (the
    # oracle does) would train a DIVERGENT codebook from the same
    # corpus. Dropping post-limit (the old shape) also silently
    # returned < k codes on a mixed-dimension corpus.
    init = (
        sample.filter(F.size("cv") == dim).orderBy("cid").limit(k).collect()
    )
    if not init:
        return []
    sub = dim // m
    books: list[list[tuple[int, list[float]]]] = [
        [
            (c, [float(x) for x in r["cv"][s * sub : (s + 1) * sub]])
            for c, r in enumerate(init)
        ]
        for s in range(m)
    ]
    if iters == 0:
        return books
    base = corpus.select(as_double_array(vec_col).alias("__v")).filter(
        F.col("__v").isNotNull() & (F.size("__v") == dim)
    )
    for _ in range(iters):
        # stage subvector slices once; the best-code expressions and the
        # stack() fan-out both reference the staged columns (HOF folds
        # sit outside codegen subexpression elimination)
        staged = base.selectExpr(
            *[f"slice(__v, {s * sub + 1}, {sub}) AS __s{s}" for s in range(m)]
        )
        best_cols = []
        for s in range(m):
            cells = ", ".join(
                f"named_struct('d', {_dlit(_py_dot(cv, cv))} - 2.0D * "
                f"{_sql_dot(f'__s{s}', _sql_array_lit(cv))}, 'c', {int(c)})"
                for c, cv in books[s]
            )
            best_cols.append(f"array_min(array({cells})).c AS __c{s}")
        assigned = staged.selectExpr(*best_cols, *[f"__s{s}" for s in range(m)])
        stack_args = ", ".join(f"{s}, __c{s}, __s{s}" for s in range(m))
        exploded = assigned.selectExpr(
            f"stack({m}, {stack_args}) AS (__sp, __code, __sub)"
        )
        mean_arr = ", ".join(
            f"avg(element_at(__sub, {i + 1}))" for i in range(sub)
        )
        rows = (
            exploded.groupBy("__sp", "__code")
            .agg(F.expr(f"array({mean_arr})").alias("__means"))
            .collect()
        )
        trained: dict[tuple[int, int], list[float]] = {
            (int(r["__sp"]), int(r["__code"])): [float(x) for x in r["__means"]]
            for r in rows
        }
        books = [
            [(c, trained.get((s, c), prev)) for c, prev in books[s]]
            for s in range(m)
        ]
    return books


# one definition of the strict-fold contract: the PQ family's driver
# folds are the SAME accumulation as the IVF family's (sequential IEEE
# double adds in index order) — an alias, not a second implementation
_py_dot = _py_fold_dot


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_codes",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """(id, pq_codes array<int>, *keep_cols) — assign each vector's m
    subvectors to their nearest codebook centroid (reduced-L2 argmin,
    ties to the smaller code — identical arithmetic to
    :func:`pq_train`'s assignment, strict left folds, so encoding with
    a fixed codebook is bit-deterministic under any partitioning or
    engine). NULL embeddings keep a NULL code array (total); a
    wrong-dimension row raises loudly (lazy raise_error — silently
    padding the fold with NULLs would corrupt codes instead of
    failing). ``keep_cols`` ride through unchanged (e.g. the IVF
    cluster id for a partitioned code table)."""
    if not codebooks:
        raise ValueError("pq_encode: empty codebooks")
    m = len(codebooks)
    sub = len(codebooks[0][0][1])
    dim = m * sub
    best_exprs = []
    for s in range(m):
        cells = ", ".join(
            f"named_struct('d', {_dlit(_py_dot(cv, cv))} - 2.0D * "
            f"{_sql_dot(f'slice(__v, {s * sub + 1}, {sub})', _sql_array_lit(cv))}, "
            f"'c', {int(c)})"
            for c, cv in codebooks[s]
        )
        best_exprs.append(f"array_min(array({cells})).c")
    codes = "array(" + ", ".join(best_exprs) + ")"
    guarded = (
        f"CASE WHEN __v IS NULL THEN NULL "
        f"WHEN size(__v) <> {dim} THEN cast(raise_error(concat("
        f"'pq_encode: embedding dimension ', cast(size(__v) as string), "
        f"' != codebook dimension {dim}')) as array<int>) "
        f"ELSE {codes} END"
    )
    keep = list(keep_cols or [])
    return corpus.select(
        qcol(id_col).alias(id_col),
        as_double_array(vec_col).alias("__v"),
        *[qcol(c) for c in keep],
    ).selectExpr(
        _qident(id_col),
        f"{guarded} AS {_qident(code_col)}",
        *[_qident(c) for c in keep],
    )


def pq_topk(
    encoded: DataFrame,
    query_vec: list[float],
    codebooks: list[list[tuple[int, list[float]]]],
    id_col: str = "vec_id",
    code_col: str = "pq_codes",
    k: int = 10,
) -> DataFrame:
    """Approximate L2 top-k by asymmetric distance computation (ADC):
    the query stays FLOAT, each corpus vector is its m PQ codes, and
    the score is a sum of m driver-precomputed table lookups — the scan
    reads only the code column (m ints/row), never touches float
    vectors, and the plan is one codegen'd projection +
    TakeOrderedAndProject. The 100 TB shape: candidate generation over
    codes at ~1/64th the bytes, exact re-rank of the short list
    downstream (compose with ``cosine_topk`` over the survivors).

    ``adc_dist`` = Σ_s ||q_s - c_{s,code_s}||² with each term computed
    driver-side in the module's strict-fold order and shipped as a
    literal lookup array — bit-deterministic for a fixed codebook.
    NULL code rows are skipped (they carry no information, matching
    the SQ8 scorer's NULL-qvec rule). Ties resolve by id ascending."""
    if not codebooks:
        raise ValueError("pq_topk: empty codebooks")
    m = len(codebooks)
    sub = len(codebooks[0][0][1])
    if len(query_vec) != m * sub:
        raise ValueError(
            f"pq_topk: query dimension {len(query_vec)} != codebook "
            f"dimension {m * sub}"
        )
    q = [float(x) for x in query_vec]
    terms = []
    oob = [f"size({_qident(code_col)}) <> {m}"]
    for s in range(m):
        qs = q[s * sub : (s + 1) * sub]
        table = []
        for c, cv in codebooks[s]:
            diff = [a - b for a, b in zip(qs, cv)]
            table.append(_py_dot(diff, diff))
        # codes are 0-based, element_at is 1-based
        terms.append(
            f"element_at({_sql_array_lit(table)}, "
            f"element_at({_qident(code_col)}, {s + 1}) + 1)"
        )
        # a code outside this subspace's table (encoded with a
        # DIFFERENT codebook of the same total dim) must raise, not
        # look up NULL — adc_dist sorts ascending, so a silent NULL
        # would float garbage rows to the TOP of the result
        ce = f"element_at({_qident(code_col)}, {s + 1})"
        oob.append(
            f"{ce} IS NULL OR {ce} < 0 OR {ce} >= {len(codebooks[s])}"
        )
    score = " + ".join(terms)
    guarded = (
        f"CASE WHEN {' OR '.join(oob)} THEN cast(raise_error("
        f"concat('pq_topk: codes do not fit the codebook shape "
        f"(m={m}, sizes {[len(b) for b in codebooks]}): ', "
        f"cast({_qident(code_col)} as string))) as double) "
        f"ELSE {score} END"
    )
    return (
        encoded.filter(qcol(code_col).isNotNull())
        .selectExpr(_qident(id_col), f"{guarded} AS adc_dist")
        .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
        .limit(k)
    )


def _subtract_centroid(
    frame: DataFrame,
    cents: list[tuple[int, list[float]]],
    vec_col: str,
) -> DataFrame:
    """Replace ``vec_col`` with ``vec − centroid(cluster)`` via one
    broadcast join on the ``cluster`` column — the residual transform
    shared by the residual index's write, append, and stats paths
    (readers subtract on the QUERY side instead). Exact IEEE
    subtraction elementwise; NULL vectors stay NULL. A wrong-dimension
    vector raises (r13): zip_with would otherwise NULL-pad it to
    centroid length, slip past pq_encode's exact-size guard, and feed
    NULL elements into the argmin fold — silently corrupt codes where
    the plain path raises loudly."""
    spark = frame.sparkSession
    cdf = spark.createDataFrame(
        [(int(cid), [float(x) for x in cv]) for cid, cv in cents],
        "cluster int, __cent array<double>",
    )
    v, c = _qident(vec_col), "__cent"
    return (
        frame.join(F.broadcast(cdf), "cluster")
        .withColumn(
            vec_col,
            F.expr(
                f"CASE WHEN {v} IS NULL THEN NULL "
                f"WHEN size({v}) <> size({c}) THEN "
                f"cast(raise_error(concat("
                f"'_subtract_centroid: vector dim ', "
                f"cast(size({v}) as string), ' <> centroid dim ', "
                f"cast(size({c}) as string))) as array<double>) "
                f"ELSE zip_with({v}, {c}, (x, y) -> x - y) END"
            ),
        )
        .drop("__cent")
    )


def _read_index_meta(spark, path: str) -> dict:
    """The optional ``_meta`` sidecar as a dict ({} when absent — a
    pre-r12 index is a plain, non-residual one). Only a MISSING sidecar
    downgrades to {}: any other read failure (permissions, corrupt
    footer) propagates, because silently treating a residual index as
    plain would return wrong distances, not an error (r13). "Missing"
    is ``plans.fs``'s rule 2."""
    from ..plans.fs import read_if_present

    meta = read_if_present(spark, path + "_meta")
    return {} if meta is None else {r["key"]: r["value"] for r in meta.collect()}


def _index_is_residual(spark, path: str) -> bool:
    return _read_index_meta(spark, path).get("residual") == "true"


def write_ivf_pq_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    every: int = 97,
    max_centroids: int = 8,
    m: int = 4,
    pq_k: int = 16,
    pq_iters: int = 2,
    centroids: list[tuple[int, list[float]]] | None = None,
    codebooks: list[list[tuple[int, list[float]]]] | None = None,
    residual: bool = False,
):
    """Materialize an IVF-PQ index (the faiss IVFPQ shape): the corpus
    lands as a cluster-PARTITIONED parquet table holding ONLY
    (id, pq_codes) — m small ints per vector, no float vectors — plus
    two tiny sidecars (coarse centroids, PQ codebooks). The 100 TB
    composition of the engine's two ANN levers: partition pruning cuts
    the scan to nprobe/|C| of the files, and inside a probed partition
    the ADC scan reads m bytes-ish per row instead of dim floats. A
    re-rank over the true vectors (e.g. ``cosine_topk`` on the probe's
    survivors joined back to the source table) is the standard third
    stage when exactness of the short list matters.

    Routing is the IVF family's cosine rule; in-cluster ranking is
    PQ's L2 ADC — normalize embeddings first if cosine-faithful
    ranking is required (unit vectors make the two orders agree).
    Returns ``(centroids, codebooks)`` for the in-memory probe path.

    ``residual=True`` (r12) is the REAL faiss-IVFPQ refinement: codes
    quantize ``v − centroid(cluster(v))`` instead of ``v``, so the
    codebooks only have to cover the within-cluster spread — lower
    reconstruction error from the same code budget WHEN the data
    actually clusters, routing is faithful (normalize embeddings:
    routing is cosine, residuals are L2), and clusters outnumber the
    per-subspace codebook (pq_k codes that already cover every cluster
    pattern leave residuals nothing to win — and isotropic random data
    gains nothing). Measured on planted 32-direction unit clusters vs
    pq_k=8: 46% lower mean reconstruction error (pinned ≥30% in
    tests). ALWAYS measure with ``ivf_pq_index_stats`` before
    committing to the mode. Training then happens AFTER assignment,
    on the residual frame; a ``_meta`` sidecar records the mode and
    every reader (probe / nn join / append / stats) adapts
    automatically — the query enters each probed cluster as
    ``q − centroid_c``, which preserves exact L2 semantics:
    ‖(q−c) − (v̂−c)‖² = ‖q − v̂‖². Never mix readers and indexes
    across engines that disagree on the sidecar.
    """
    spark = corpus.sparkSession
    cents = centroids if centroids is not None else ivf_centroids(
        corpus, id_col, vec_col, every, max_centroids
    )
    if not cents:
        raise ValueError(
            "write_ivf_pq_index: empty centroid sample — "
            "corpus too small for the `every` stride"
        )
    assigned = ivf_assign(corpus, cents, id_col, vec_col)
    if residual:
        to_encode = _subtract_centroid(
            assigned.select(qcol(id_col), "__v", "cluster"),
            cents, "__v",
        ).select(qcol(id_col), F.col("__v").alias(vec_col), "cluster")
    else:
        to_encode = assigned.select(
            qcol(id_col), F.col("__v").alias(vec_col), "cluster"
        )
    # residual training must see the residual frame — train AFTER
    # assignment in that mode (the plain mode trains on the corpus,
    # identical to the pre-r12 behavior)
    books = codebooks if codebooks is not None else pq_train(
        to_encode, id_col, vec_col, m, pq_k, pq_iters, every,
        # residual training must NOT sample the coarse-centroid rows —
        # their residuals are zero by construction (see pq_train)
        sample_offset=(every // 2 if residual else 0),
    )
    if not books:
        raise ValueError(
            "write_ivf_pq_index: empty codebook sample — "
            "corpus too small for the `every` stride"
        )
    encoded = pq_encode(
        to_encode, books, id_col, vec_col, keep_cols=["cluster"],
    )
    encoded.write.mode("overwrite").partitionBy("cluster").parquet(path)
    _write_centroid_sidecar(spark, cents, path)
    spark.createDataFrame(
        [(s, c, cv) for s, book in enumerate(books) for c, cv in book],
        "sp int, code int, cvec array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(path + "_codebooks")
    # ALWAYS record the mode (r13): a rebuild with residual=False at a
    # path that previously held a residual index must overwrite the
    # stale `residual=true` sidecar, or every reader (probe / nn join /
    # append / stats) would silently treat the new plain codes as
    # residual ones and return wrong distances.
    spark.createDataFrame(
        [("residual", "true" if residual else "false")],
        "key string, value string",
    ).coalesce(1).write.mode("overwrite").parquet(path + "_meta")
    return cents, books


def read_pq_codebooks(spark, path: str) -> list[list[tuple[int, list[float]]]]:
    """Reconstruct the PQ codebooks sidecar written by
    :func:`write_ivf_pq_index` in (subspace, code) order — the exact
    shape :func:`pq_topk` consumes."""
    rows = spark.read.parquet(path + "_codebooks").collect()
    by_sp: dict[int, list[tuple[int, list[float]]]] = {}
    for r in rows:
        by_sp.setdefault(int(r["sp"]), []).append(
            (int(r["code"]), [float(x) for x in r["cvec"]])
        )
    return [sorted(by_sp[s]) for s in sorted(by_sp)]


def ivf_pq_probe(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    code_col: str = "pq_codes",
) -> DataFrame:
    """Query a ``write_ivf_pq_index`` index: pick the nprobe nearest
    coarse centroids driver-side (tiny sidecar reads), scan ONLY their
    partitions (cluster is a partition column → PartitionFilters on
    the scan, asserted in tests), ADC-score the codes against
    driver-precomputed lookup tables, return the ascending-distance
    top-k as (id, adc_dist). A RESIDUAL index (the ``_meta`` sidecar)
    probes each cluster with ``q − centroid_c`` — per-cluster lookup
    tables, union of per-cluster top-k, global re-limit; exact L2
    semantics are preserved (‖(q−c)−(v̂−c)‖² = ‖q−v̂‖²)."""
    cents = _read_ivf_centroids(spark, path)
    books = read_pq_codebooks(spark, path)
    probe_ids = _probe_ids(cents, query_vec, nprobe)
    if _index_is_residual(spark, path):
        by_cid = dict(cents)
        parts = []
        for cid in probe_ids:
            qres = [
                float(a) - float(b)
                for a, b in zip(query_vec, by_cid[cid])
            ]
            scan = spark.read.parquet(path).filter(
                F.col("cluster") == cid
            )
            parts.append(
                pq_topk(scan, qres, books, id_col, code_col, k)
            )
        from functools import reduce as _reduce

        return (
            _reduce(lambda a, b: a.unionByName(b), parts)
            .orderBy(F.col("adc_dist").asc(), qcol(id_col).asc())
            .limit(k)
        )
    idx = spark.read.parquet(path).filter(F.col("cluster").isin(probe_ids))
    return pq_topk(idx, query_vec, books, id_col, code_col, k)


def ivf_pq_index_append(
    new_df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Append a new batch of vectors to an existing
    ``write_ivf_pq_index`` index WITHOUT rebuilding: read both
    sidecars, assign the batch with the SAME coarse centroids and
    encode with the SAME codebooks, append into the cluster partition
    directories. Probes see the new codes immediately and score them
    with the identical ADC tables — correctness never depends on when
    a row arrived, because probe, assignment, and encoding all share
    the frozen sidecars (the ``ivf_index_append`` contract, extended
    to the code table). Returns the appended row count.

    Drift caveat, doubled: appended vectors may be better served by
    retrained centroids AND by retrained codebooks (quantization error
    grows as the corpus distribution moves off the training sample);
    recall-sensitive deployments rebuild on a cadence — routing and
    scoring stay CORRECT regardless."""
    spark = new_df.sparkSession
    cents = _read_ivf_centroids(spark, path)
    if not cents:
        raise ValueError(f"no centroid sidecar at {path}_centroids")
    books = read_pq_codebooks(spark, path)
    if not books:
        raise ValueError(f"no codebook sidecar at {path}_codebooks")
    assigned = ivf_assign(new_df, cents, id_col, vec_col)
    to_encode = assigned.select(
        qcol(id_col), F.col("__v").alias(vec_col), "cluster"
    )
    if _index_is_residual(spark, path):
        # the _meta sidecar is part of the frozen-sidecar contract:
        # appended codes quantize the SAME residual space as the build
        to_encode = _subtract_centroid(to_encode, cents, vec_col)
    encoded = pq_encode(
        to_encode, books, id_col, vec_col, keep_cols=["cluster"],
    ).persist()
    n = encoded.count()
    encoded.write.mode("append").partitionBy("cluster").parquet(path)
    encoded.unpersist()
    return n


def ivf_pq_index_stats(
    spark,
    path: str,
    corpus: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_codes",
) -> DataFrame:
    """Per-cluster health profile of a ``write_ivf_pq_index`` index —
    the MEASUREMENT face of the lifecycle (build/append/probe/nnjoin/
    compact/purge all exist; this tells you WHEN to act):
    ``(cluster, n_rows, n_files)`` plus, when ``corpus`` (the float
    vectors) is given, ``(avg_sq_err, max_sq_err)`` — the PQ
    reconstruction error ||v − recon(codes)||² per cluster, which is
    exactly each vector's ADC distance to its OWN codes. Rising error
    on fresh clusters = codebook drift (the documented rebuild-on-a-
    cadence trigger, now measurable); skewed n_rows = routing
    imbalance (consider more centroids); n_files ≫ 1 = run compact.

    Engine-exact discipline: row counts and file counts are integers;
    per-row squared error is the module's strict fold (deterministic),
    quantized to DECIMAL(28,9) before the per-cluster SUM so the
    aggregate is order-independent; ``avg_sq_err`` ships rounded to 9
    decimals from the exact decimal sum. Rows with NULL codes are
    excluded; a corpus row missing from the index (or vice versa)
    simply doesn't pair — stats cover the intersection.

    Scale shape: one codes scan (+ ``input_file_name`` — no listing
    RPCs), one candidate-free equi-join on the id when ``corpus`` is
    given, one groupBy on cluster. Nothing collects but the sidecars.

    Cites /root/reference scope: no vector surface there; the
    measurement face of the engine's ANN lifecycle."""
    books = read_pq_codebooks(spark, path)
    if not books:
        raise ValueError(f"no codebook sidecar at {path}_codebooks")
    m = len(books)
    sub = len(books[0][0][1])
    codes = spark.read.parquet(path).filter(qcol(code_col).isNotNull())
    # input_file_name() is non-deterministic to Catalyst — project it
    # to a real column BEFORE aggregating (same value semantics)
    base = codes.withColumn("__f", F.input_file_name()).groupBy(
        "cluster"
    ).agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("__f").alias("n_files"),
    )
    if corpus is None:
        return base.select(
            "cluster",
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("n_files").cast("long").alias("n_files"),
        )
    vecs = corpus.select(
        qcol(id_col).alias(id_col), as_double_array(vec_col).alias("__v")
    ).filter(F.col("__v").isNotNull())
    residual = _index_is_residual(spark, path)
    terms = []
    for s in range(m):
        lo = s * sub + 1
        cvs = (
            "element_at(array("
            + ", ".join(_sql_array_lit(cv) for _, cv in books[s])
            + f"), element_at({_qident(code_col)}, {s + 1}) + 1)"
        )
        terms.append(
            f"aggregate(zip_with(slice(__v, {lo}, {sub}), {cvs}, "
            "(x, y) -> (x - y) * (x - y)), 0.0D, (acc, x) -> acc + x)"
        )
    err = " + ".join(terms)
    paired = codes.join(vecs, id_col)
    if residual:
        # a residual index's codes reconstruct v − centroid(cluster):
        # measure the error in the SAME space the codes live in
        cents = _read_ivf_centroids(spark, path)
        paired = _subtract_centroid(paired, cents, "__v")
    scored = paired.selectExpr(
        "cluster",
        f"CAST(round({err}, 9) AS DECIMAL(28,9)) AS __e",
    )
    agg = scored.groupBy("cluster").agg(
        F.count("*").alias("__n"),
        F.sum("__e").alias("__sum"),
        F.max("__e").alias("__max"),
    )
    return base.join(agg, "cluster", "left").select(
        "cluster",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_files").cast("long").alias("n_files"),
        F.round(
            (F.col("__sum") / F.col("__n")).cast("double"), 9
        ).alias("avg_sq_err"),
        F.col("__max").cast("double").alias("max_sq_err"),
    )


def ann_recall_at_k(
    queries: DataFrame,
    path: str,
    corpus: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``(query_id, n_hits, recall)`` — per-query recall@k of the
    IVF-PQ index against the EXACT squared-L2 top-k over the true
    float vectors: the evaluation loop that closes the ANN lifecycle
    (build → measure → tune nprobe/centroids → rebuild). Recall =
    |approx top-k ∩ exact top-k| / k; approx is
    :func:`ivf_pq_nn_join` (the index's own metric and tie rule),
    exact is strict-fold squared L2 with ties to the smaller id —
    the same order the ADC would produce with a perfect codebook, so
    recall isolates routing + quantization loss, not metric mismatch.

    ``queries`` should be a bounded SAMPLE (tens to hundreds): the
    exact baseline joins every query against the WHOLE corpus — that
    is the price of ground truth, linear in |corpus|·|sample|, and
    the reason this is an offline evaluation operator, not a serving
    path. n_hits is an exact integer; recall is one exact division.

    Scale shape: the exact side broadcasts the query sample against
    one corpus scan (no corpus shuffle), ranks per query; the approx
    side is the batched join; the intersection is a candidate-bounded
    equi-join on (query, id).

    Cites /root/reference scope: no vector surface there; the
    evaluation face of the engine's ANN lifecycle."""
    if k < 1:
        raise ValueError(f"ann_recall_at_k: k must be >= 1, got {k}")
    from pyspark.sql import Window

    qv = queries.select(
        qcol(query_id_col).alias("__qid"),
        as_double_array(query_vec_col).alias("__qv"),
    ).filter(F.col("__qv").isNotNull())
    cv = corpus.select(
        qcol(id_col).alias("__cid"),
        as_double_array(vec_col).alias("__cv"),
    ).filter(F.col("__cv").isNotNull())
    l2 = F.expr(
        "aggregate(zip_with(__qv, __cv, (x, y) -> (x - y) * (x - y)), "
        "0.0D, (acc, x) -> acc + x)"
    )
    w = Window.partitionBy("__qid").orderBy(
        F.col("__d").asc(), F.col("__cid").asc()
    )
    exact = (
        cv.join(F.broadcast(qv))
        .select("__qid", "__cid", l2.alias("__d"))
        .withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= k)
        .select("__qid", "__cid")
    )
    approx = ivf_pq_nn_join(
        queries, path, k=k, nprobe=nprobe,
        query_id_col=query_id_col, query_vec_col=query_vec_col,
        id_col=id_col,
    ).select(
        qcol(query_id_col).alias("__qid"), qcol(id_col).alias("__cid")
    )
    hits = exact.join(approx, ["__qid", "__cid"]).groupBy("__qid").agg(
        F.count("*").alias("n_hits")
    )
    return (
        qv.select("__qid")
        .join(hits, "__qid", "left")
        .select(
            F.col("__qid").alias(query_id_col),
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) / F.lit(float(k))).alias(
                "recall"
            ),
        )
    )


def ivf_pq_index_compact(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files_to_compact: int = 2,
) -> dict:
    """Compact the small files streaming ingest accumulates inside an
    IVF-PQ index — the OPTIMIZE half of the index lifecycle
    (``write_ivf_pq_index`` = build, ``ivf_pq_index_append`` /
    ``vectors_maintain_run`` = ingest, ``purge_rows`` = delete, this =
    maintenance): every micro-batch append commits its own files into
    each ``cluster=`` partition directory, and a thousand batches make
    probes listing-and-open bound long before the bytes matter.

    Per cluster partition with at least ``min_files_to_compact`` data
    files, rewrite that directory to ~``target_file_bytes`` files via
    ``operators.layout.compact_small_files`` — a narrow coalesce
    through the .tmp/.old two-rename swap, so concurrent probes never
    observe a missing path. Partitions below the threshold are never
    read or written (cost scales with partitions TOUCHED); the
    centroid/codebook sidecars are untouched, and codes survive
    byte-identical (rows are rewritten as-read — assert with
    ``operators.quality.table_fingerprint`` in doubt, as the tests
    do). Returns ``{"partitions_compacted", "files_before",
    "files_after"}``.
    """
    import os

    from ..plans.fs import file_local, local_data_files
    from .layout import compact_small_files

    root = file_local(path)
    parts = sorted(
        d for d in os.listdir(root)
        if d.startswith("cluster=") and os.path.isdir(os.path.join(root, d))
    )
    if not parts:
        raise ValueError(
            f"ivf_pq_index_compact: no cluster= partitions under {path}"
        )

    def _n_files(d: str) -> int:
        return sum(1 for _ in local_data_files(d))

    before = {p: _n_files(os.path.join(root, p)) for p in parts}
    compacted = 0
    for p in parts:
        if before[p] >= min_files_to_compact:
            compact_small_files(
                spark, os.path.join(root, p), target_file_bytes
            )
            compacted += 1
    after = {p: _n_files(os.path.join(root, p)) for p in parts}
    return {
        "partitions_compacted": compacted,
        "files_before": sum(before.values()),
        "files_after": sum(after.values()),
    }


def ivf_pq_nn_join(
    queries: DataFrame,
    path: str,
    k: int = 10,
    nprobe: int = 2,
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
    id_col: str = "vec_id",
    code_col: str = "pq_codes",
    broadcast_queries: bool = True,
) -> DataFrame:
    """Batched ANN over a materialized ``write_ivf_pq_index`` index —
    the RELATIONAL form of :func:`ivf_pq_probe`: a whole query TABLE
    joins against the persisted index and every query row gets its
    per-query ADC top-``k``. Output: ``(query_id, vec_id, adc_dist,
    rank)`` with ``rank`` 1..k per query ordered by (adc_dist asc, id
    asc) — the exact pq_topk tie rule, so each query's rows equal the
    single-query probe's, bit-for-bit.

    The 100 TB consumer is semantic dedup of a NEW corpus against a
    persisted index: one driver-side vector per call cannot express
    that; this can. Plan, stage by stage:

    1. ROUTE — each query row picks its ``nprobe`` nearest coarse
       centroids by the probe's exact rule (cosine desc, ties to the
       larger cid; degenerate zero-norm/NaN similarities pinned to
       -inf so they rank LAST deterministically — ``_py_cos_key``'s
       rule, in-plan). Centroids enter as literals (≤
       ``ASSIGN_LITERAL_MAX``): one codegen'd
       slice(reverse(array_sort)) per row, no shuffle. Above the cap,
       a broadcast-centroids join + per-query row_number window —
       the ``ivf_assign`` two-forms discipline.
    2. PRUNE-BY-JOIN — the routed (query, cluster) table equi-joins
       the codes table on ``cluster``: what partition pruning does for
       one query becomes join pruning for a table of them. With
       ``broadcast_queries`` (default) the routed side broadcasts, the
       index never shuffles, and Spark's dynamic partition pruning
       skips unprobed ``cluster=`` directories entirely.
    3. ADC — per surviving (query, code) pair, Σ_s ||q_s −
       c_{s,code_s}||² with the codebooks as in-plan literals
       (pq_k·dim doubles — bounded like the rp projection cap) and
       every fold the module's strict left accumulation, so scores
       are bit-identical to the driver-precomputed pq_topk tables.
       Codes that do not fit the codebook shape raise (pq_topk's OOB
       rule); NULL-code rows are skipped.
    4. RANK — one row_number window per query over (adc_dist, id):
       the only shuffle of candidate rows, carrying (qid, id, dist).

    NULL query vectors are dropped (they carry no information);
    wrong-dimension query vectors raise IN-PLAN before ranking (a
    silent NULL fold would float garbage to the top — the pq_topk
    posture). Set ``broadcast_queries=False`` when the routed query
    table is too large to broadcast — the join then shuffles both
    sides on ``cluster`` (few distinct keys: pre-salt or bump
    shuffle partitions if one cluster dominates).

    Cites /root/reference scope: no vector surface there; completes
    the ANN lifecycle (build/append/probe/compact) with the batched
    read path."""
    if k < 1 or nprobe < 1:
        raise ValueError(f"need k >= 1, nprobe >= 1, got k={k} nprobe={nprobe}")
    from pyspark.sql import Window

    spark = queries.sparkSession
    cents = _read_ivf_centroids(spark, path)
    if not cents:
        raise ValueError(f"no centroid sidecar at {path}_centroids")
    books = read_pq_codebooks(spark, path)
    if not books:
        raise ValueError(f"no codebook sidecar at {path}_codebooks")
    m = len(books)
    sub = len(books[0][0][1])
    dim = m * sub
    for cid, cv in cents:
        if len(cv) != dim:
            raise ValueError(
                f"ivf_pq_nn_join: centroid {cid} has dim {len(cv)}, "
                f"codebooks imply {dim}"
            )
    nprobe = min(nprobe, len(cents))
    prepped = (
        queries.select(
            qcol(query_id_col).alias("__qid"),
            as_double_array(query_vec_col).alias("__qv"),
        )
        .filter(F.col("__qv").isNotNull())
        .selectExpr(
            "__qid",
            f"CASE WHEN size(__qv) <> {dim} THEN cast(raise_error(concat("
            f"'ivf_pq_nn_join: query dimension ', cast(size(__qv) as "
            f"string), ' != index dimension {dim}')) as array<double>) "
            "ELSE __qv END AS __qv",
        )
        .selectExpr("__qid", "__qv", f"{_sql_norm('__qv')} AS __nq")
    )
    # ---- ROUTE: per-query top-nprobe centroids, the _probe_ids rule
    neg_inf = "CAST('-inf' AS DOUBLE)"
    if len(cents) <= ASSIGN_LITERAL_MAX:
        # nanvl(coalesce(s, -inf), -inf): zero-norm (NULL via nullif)
        # and NaN similarities both pin to -inf — _py_cos_key's rule
        cells = ", ".join(
            "named_struct('s', nanvl(coalesce("
            f"{_sql_dot('__qv', _sql_array_lit(cvec))} / "
            f"nullif(__nq * {_dlit(_py_norm(cvec))}, 0.0D), {neg_inf}), "
            f"{neg_inf}), 'c', {int(cid)})"
            for cid, cvec in cents
        )
        routed = prepped.selectExpr(
            "__qid",
            "__qv",
            f"explode(slice(reverse(array_sort(array({cells}))), 1, "
            f"{nprobe})) AS __pr",
        ).select("__qid", "__qv", F.col("__pr.c").alias("cluster"))
    else:
        cdf = spark.createDataFrame(
            [(int(cid), [float(x) for x in cv], _py_norm(cv))
             for cid, cv in cents],
            "cid int, cv array<double>, ncv double",
        )
        simmed = prepped.join(F.broadcast(cdf)).selectExpr(
            "__qid",
            "__qv",
            "cid",
            f"nanvl(coalesce({_sql_dot('__qv', 'cv')} / "
            f"nullif(__nq * ncv, 0.0D), {neg_inf}), {neg_inf}) AS __s",
        )
        w = Window.partitionBy("__qid").orderBy(
            F.col("__s").desc(), F.col("cid").desc()
        )
        routed = (
            simmed.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") <= nprobe)
            .select("__qid", "__qv", F.col("cid").alias("cluster"))
        )
    # a RESIDUAL index scores each (query, cluster) pair in the
    # cluster's residual space: subtract the routed centroid from the
    # query vector — downstream ADC is unchanged because
    # ‖(q−c)−(v̂−c)‖² = ‖q−v̂‖²
    if _index_is_residual(spark, path):
        routed = _subtract_centroid(routed, cents, "__qv")
    # ---- PRUNE-BY-JOIN + ADC + RANK
    codes = spark.read.parquet(path).filter(qcol(code_col).isNotNull())
    rhs = F.broadcast(routed) if broadcast_queries else routed
    pairs = codes.join(rhs, "cluster")
    terms = []
    oob = [f"size({_qident(code_col)}) <> {m}"]
    for s in range(m):
        lo = s * sub + 1
        cvs = (
            "element_at(array("
            + ", ".join(_sql_array_lit(cv) for _, cv in books[s])
            + f"), element_at({_qident(code_col)}, {s + 1}) + 1)"
        )
        # same strict fold as pq_topk's driver-side table entries:
        # (x−y) exact-rounded, squared, accumulated in index order
        terms.append(
            f"aggregate(zip_with(slice(__qv, {lo}, {sub}), {cvs}, "
            "(x, y) -> (x - y) * (x - y)), 0.0D, (acc, x) -> acc + x)"
        )
        ce = f"element_at({_qident(code_col)}, {s + 1})"
        oob.append(
            f"{ce} IS NULL OR {ce} < 0 OR {ce} >= {len(books[s])}"
        )
    score = " + ".join(terms)
    guarded = (
        f"CASE WHEN {' OR '.join(oob)} THEN cast(raise_error("
        f"concat('ivf_pq_nn_join: codes do not fit the codebook shape "
        f"(m={m}, sizes {[len(b) for b in books]}): ', "
        f"cast({_qident(code_col)} as string))) as double) "
        f"ELSE {score} END"
    )
    scored = pairs.selectExpr(
        "__qid", _qident(id_col), f"{guarded} AS adc_dist"
    )
    w = Window.partitionBy("__qid").orderBy(
        F.col("adc_dist").asc(), qcol(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__qid").alias(query_id_col),
            qcol(id_col).alias(id_col),
            "adc_dist",
            "rank",
        )
    )


def nn_rerank_exact(
    candidates: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: str = "cosine",
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    corpus_vec_col: str = "embedding",
    query_vec_col: str = "embedding",
) -> DataFrame:
    """The standard THIRD ANN stage, as a real operator: exact re-rank
    of approximate candidates over the TRUE float vectors —
    ``(query_id, vec_id, score, rank)``, rank 1..k per query.
    ``candidates`` is any (query_id, vec_id) pair table (typically
    :func:`ivf_pq_nn_join`'s output — ADC quantization error decides
    the shortlist, this decides the final order), ``corpus`` the
    source float vectors, ``queries`` the query vectors.

    ``metric='cosine'`` ranks descending by the module's strict-fold
    cosine (ties → smaller id); ``'l2'`` ranks ascending by strict
    squared L2. Both are fixed-order double folds — deterministic
    under any partitioning and expressible verbatim in a SQL oracle.
    Rows whose corpus OR query vector is NULL are dropped (they carry
    no information — the family's rule); duplicate candidate pairs are
    collapsed (a pair's exact score is pair-determined, so dedup is
    semantically free and keeps rank dense).

    Scale shape: every join and shuffle is CANDIDATE-bounded — one
    equi-join on the id pulls |cand| float vectors out of the corpus
    (never a corpus scan fan-out; AQE broadcasts small candidate
    sets), one equi-join on the query id attaches query vectors, and
    the final rank window partitions on the query id it just joined
    on. At 100 TB the expensive side (corpus) is touched exactly once,
    filtered to the shortlist.

    Cites /root/reference scope: no vector surface there; completes
    the ANN read path (candidates → exact order)."""
    if k < 1:
        raise ValueError(f"nn_rerank_exact: k must be >= 1, got {k}")
    if metric not in ("cosine", "l2"):
        raise ValueError(
            f"nn_rerank_exact: metric must be 'cosine' or 'l2', "
            f"got {metric!r}"
        )
    from pyspark.sql import Window

    cand = candidates.select(
        qcol(query_id_col).alias("__qid"), qcol(id_col).alias("__cid")
    ).distinct()
    cv = corpus.select(
        qcol(id_col).alias("__cid"),
        as_double_array(corpus_vec_col).alias("__cv"),
    ).filter(F.col("__cv").isNotNull())
    qv = queries.select(
        qcol(query_id_col).alias("__qid"),
        as_double_array(query_vec_col).alias("__qv"),
    ).filter(F.col("__qv").isNotNull())
    paired = cand.join(cv, "__cid").join(qv, "__qid")
    if metric == "cosine":
        score = F.expr(_sql_cosine("__qv", "__cv"))
        order = [F.col("score").desc(), F.col("__cid").asc()]
    else:
        score = F.expr(
            "aggregate(zip_with(__qv, __cv, (x, y) -> (x - y) * (x - y)), "
            "0.0D, (acc, x) -> acc + x)"
        )
        order = [F.col("score").asc(), F.col("__cid").asc()]
    w = Window.partitionBy("__qid").orderBy(*order)
    return (
        paired.select("__qid", "__cid", score.alias("score"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__qid").alias(query_id_col),
            F.col("__cid").alias(id_col),
            "score",
            "rank",
        )
    )


def ann_index_dup_hits(
    batch: DataFrame,
    path: str,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index_id_col: str = "vec_id",
    max_l2: float | None = None,
    min_cosine: float | None = None,
    corpus: DataFrame | None = None,
) -> DataFrame:
    """``(batch_id, index_id, score)`` — new-batch vectors whose
    nearest persisted-index neighbors score within a duplicate
    threshold: the 100 TB consumer the batched read path exists for
    (semantic dedup of a NEW corpus against an IVF-PQ index), as one
    named operator. Exactly ONE threshold mode:

    - ``max_l2``: hits are candidate pairs with ADC squared-L2 <=
      max_l2 — the codes-only fast path. APPROXIMATE by construction
      (quantization error shifts distances); calibrate the threshold
      against the codebook's distortion or use the exact mode.
    - ``min_cosine`` (requires ``corpus``, the float vectors the index
      was built from): candidates are re-ranked EXACTLY over the true
      vectors (:func:`nn_rerank_exact`) and hits are pairs with strict
      fold cosine >= min_cosine — the verify-then-act discipline the
      MinHash family applies (candidates estimate, exact join decides).

    Self-matches (batch_id == index_id) are excluded: replayed batches
    — rows already appended to the index — must not mark themselves
    duplicates (ids are the identity, the vector family's rule; run
    dedup BEFORE append in the ingest order). The shortlist requests
    ``k+1`` from the index and re-ranks to ``k`` AFTER dropping the
    self-match (r13), so a replayed row's self-hit never consumes one
    of its k candidate slots — with k=1 a replayed batch still sees
    its true nearest duplicate. Candidate recall is bounded by ``k``
    per batch row and ``nprobe`` routing — a dup whose index twin is
    outside the probed clusters or the top-k is missed, exactly the
    IVF recall trade documented on the probe.

    Scale shape: one :func:`ivf_pq_nn_join` (broadcast routing + DPP,
    index never shuffles) + candidate-bounded joins; nothing touches
    more than nprobe/|C| of the codes.

    Cites /root/reference scope: no vector surface there; the ANN
    twin of the MinHash ``dedup.dedup_batch_against_index``."""
    if (max_l2 is None) == (min_cosine is None):
        raise ValueError(
            "ann_index_dup_hits: set exactly one of max_l2 (approximate "
            "ADC gate) or min_cosine (exact verify over corpus vectors)"
        )
    if min_cosine is not None and corpus is None:
        raise ValueError(
            "ann_index_dup_hits: min_cosine needs corpus= (the float "
            "vectors to verify against — ADC alone cannot certify an "
            "exact cosine)"
        )
    b = batch.select(
        qcol(id_col).alias("__bid"),
        as_double_array(vec_col).alias("__bv"),
    )
    cands = ivf_pq_nn_join(
        b, path, k=k + 1, nprobe=nprobe,
        query_id_col="__bid", query_vec_col="__bv",
        id_col=index_id_col,
    ).filter(F.col("__bid") != qcol(index_id_col))
    if max_l2 is not None:
        w = Window.partitionBy("__bid").orderBy(
            F.col("adc_dist").asc(), qcol(index_id_col).asc()
        )
        hits = (
            cands.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= k)
            .filter(F.col("adc_dist") <= float(max_l2))
            .select(
                F.col("__bid").alias("batch_id"),
                qcol(index_id_col).alias("index_id"),
                F.col("adc_dist").alias("score"),
            )
        )
        return hits
    rer = nn_rerank_exact(
        cands, corpus, b, k=k, metric="cosine",
        query_id_col="__bid", id_col=index_id_col,
        corpus_vec_col=vec_col, query_vec_col="__bv",
    )
    return rer.filter(F.col("score") >= float(min_cosine)).select(
        F.col("__bid").alias("batch_id"),
        qcol(index_id_col).alias("index_id"),
        "score",
    )


def dedup_batch_against_ann_index(
    batch: DataFrame,
    path: str,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index_id_col: str = "vec_id",
    max_l2: float | None = None,
    min_cosine: float | None = None,
    corpus: DataFrame | None = None,
) -> DataFrame:
    """Surviving ``batch`` rows after dropping every row
    :func:`ann_index_dup_hits` matches in the persisted IVF-PQ index —
    the vector twin of ``dedup.dedup_batch_against_index`` (MinHash),
    schema unchanged. Within-batch semantic twins BOTH survive (the
    index doesn't hold them yet) — compose ``semantic_dedup`` /
    ``semantic_dup_pairs`` on the survivors before appending, the same
    ``dedup_within`` caveat the MinHash face automates."""
    hits = ann_index_dup_hits(
        batch, path, k=k, nprobe=nprobe, id_col=id_col,
        vec_col=vec_col, index_id_col=index_id_col,
        max_l2=max_l2, min_cosine=min_cosine, corpus=corpus,
    )
    return batch.join(
        hits.select(F.col("batch_id").alias("__hit")).distinct(),
        on=qcol(id_col) == F.col("__hit"),
        how="left_anti",
    )


def project_embeddings_rp(
    df: DataFrame,
    out_dim: int,
    vec_col: str = "embedding",
    out_col: str = "projection",
    planes: list[list[float]] | None = None,
    plane_start: int = 0,
    scale_dim: int | None = None,
) -> DataFrame:
    """Append a Johnson–Lindenstrauss sign random projection of the
    embedding: ``out[j] = (Σ_i v_i · s_ij) / sqrt(out_dim)`` with
    ``s_ij ∈ {±1}`` from the engine's xxhash64 plane derivation
    (``hyperplane_matrix`` — no stored model, reproducible across
    runs/sessions/engines). The DENSE-reduction sibling of
    ``rhp_signature``'s bit hashing: it keeps continuous geometry
    (pairwise distances within (1±ε) w.h.p., Achlioptas 2003), so the
    downstream k-means / IVF / SemDeDup / brute re-rank machinery runs
    unchanged in the reduced space — at 100 TB, projecting 1024→128
    dims cuts every embedding shuffle, cache, and scan 8× BEFORE any
    index is built.

    Deterministic: each output coordinate is one fixed-order fold in
    DOUBLE over literal ±1 weights — identical under any partitioning
    and expressible verbatim in the SQL oracle. NULL embeddings keep a
    NULL projection (total); a wrong-dimension row raises loudly
    (zip_with would silently NULL-pad the fold). ``planes`` accepts a
    precomputed matrix (e.g. to project a query literal driver-side
    with the corpus's exact weights); default derives out_dim planes
    for the first non-NULL row's dimensionality.

    Wide targets (in_dim × out_dim over the literal-plan cap) run as
    BLOCKS: ``plane_start`` offsets the derived plane indices so each
    block computes DIFFERENT coordinates, and ``scale_dim`` fixes the
    1/sqrt divisor to the TOTAL output dimensionality so the assembled
    vector equals the single-shot definition bit-for-bit — e.g.
    1024→128 is 8 calls with out_dim=16, plane_start=16·b,
    scale_dim=128, ``concat``-ed. The cap error spells this out."""
    if out_dim < 1:
        raise ValueError(f"out_dim must be >= 1, got {out_dim}")
    if scale_dim is not None and scale_dim < out_dim:
        raise ValueError(
            f"scale_dim {scale_dim} < out_dim {out_dim} — scale_dim is "
            "the TOTAL output dimensionality across blocks"
        )
    # cheap driver-side guards FIRST — a collision must not cost a
    # corpus scan (the dimensionality probe below) before raising
    if out_col in df.columns:
        raise ValueError(f"column {out_col!r} already exists — rename it")
    if "__v" in df.columns:
        raise ValueError(
            "column '__v' collides with the projection's staged "
            "column — rename it first"
        )
    if planes is None:
        first = (
            df.select(as_double_array(vec_col).alias("__v"))
            .filter(F.col("__v").isNotNull())
            .first()
        )
        if first is None:
            raise ValueError(
                "project_embeddings_rp: no non-NULL vectors to derive "
                "the input dimensionality from — pass planes="
            )
        in_dim = len(first["__v"])
        if in_dim * out_dim > 16384:
            raise ValueError(
                f"in_dim {in_dim} × out_dim {out_dim} = "
                f"{in_dim * out_dim} literal weights exceeds the "
                "expression-plan cap (16384); run in blocks of B "
                "coordinates: for block b, call with out_dim=B, "
                "plane_start=b*B, scale_dim=<total out_dim>, then "
                "concat the outputs — each block derives DIFFERENT "
                "planes and the assembled vector equals the "
                "single-shot definition"
            )
        planes = hyperplane_matrix(
            df.sparkSession, in_dim, out_dim, start=plane_start
        )
    else:
        if len(planes) != out_dim:
            raise ValueError(
                f"planes has {len(planes)} rows, out_dim is {out_dim}"
            )
        in_dim = len(planes[0])
        if in_dim * out_dim > 16384:
            raise ValueError(
                f"in_dim {in_dim} × out_dim {out_dim} = "
                f"{in_dim * out_dim} literal weights exceeds the "
                "expression-plan cap (16384); pass plane SLICES per "
                "block with scale_dim=<total out_dim>"
            )
    import math

    inv = _dlit(1.0 / math.sqrt(float(scale_dim or out_dim)))
    coords = ", ".join(
        f"{_sql_dot('__v', _sql_array_lit(p))} * {inv}" for p in planes
    )
    guarded = (
        f"CASE WHEN __v IS NULL THEN NULL "
        f"WHEN size(__v) <> {in_dim} THEN cast(raise_error(concat("
        f"'project_embeddings_rp: embedding dimension ', "
        f"cast(size(__v) as string), ' != plane dimension {in_dim}')) "
        f"as array<double>) "
        f"ELSE array({coords}) END"
    )
    staged = df.withColumn("__v", as_double_array(vec_col))
    return staged.selectExpr(
        *[_qident(c) for c in df.columns],
        f"{guarded} AS {_qident(out_col)}",
    )
