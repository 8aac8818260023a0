"""Iterative graph operators — near-dup cluster resolution.

A training-data dedup pipeline doesn't stop at pairs: near-dup PAIRS
must become CLUSTERS (connected components), and each cluster keeps one
canonical representative. The reference has nothing iterative; this is
the engine's iterative-algorithm surface, built as a driver-side loop
of DataFrame joins (each iteration is a Spark job; the loop is bounded
and converges in O(diameter) iterations — near-dup graphs are
clique-ish, so typically 2-3).

Scale notes: each iteration shuffles (node, label) pairs — never
payloads. Label propagation with min-label converges deterministically
regardless of partitioning. The pointer-doubling loop behind
``dedup_clusters`` iterates over the edge endpoints only and attaches
every other node with one final left join, so its rounds scale with the
near-dup population (typically a small share of the corpus), not with
the document count. For billion-edge graphs swap the loop body for the
large-star/small-star optimization (same join shapes); the driver-side
loop structure stays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import release_frame
from .project import qcol


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    node_id: str = "id",
    edge_src: str = "id_a",
    edge_dst: str = "id_b",
    max_iter: int = 25,
    pins: list[DataFrame] | None = None,
) -> DataFrame:
    """(id, component) — min reachable node id per node.

    ``nodes``: one row per node id (isolated nodes become singleton
    components). ``edges``: undirected pairs (any orientation).
    Deterministic: the component id is the minimum node id reachable,
    independent of partitioning or iteration order.

    Raises RuntimeError if labels are still changing after ``max_iter``
    productive rounds (graph diameter > max_iter) — silently returning
    unconverged labels would split long-chain components and let a dedup
    pipeline keep extra "canonical" survivors. One extra quiet round is
    allowed so a graph of diameter exactly ``max_iter`` converges (the
    check can only observe stability one round late). Label propagation
    needs O(diameter) rounds; for long chains use
    ``connected_components_fast`` (pointer doubling, O(log n)).
    """
    # persist the symmetrized edge list: every propagation round joins
    # against it, and ``edges`` is often a LAZY near-dup pipeline —
    # without pinning, each round re-runs that entire upstream plan
    # (measured: the end-to-end curation plan spent minutes re-deriving
    # LSH pairs per round before this persist)
    sym = (
        edges.select(qcol(edge_src).alias("src"), qcol(edge_dst).alias("dst"))
        .union(edges.select(qcol(edge_dst).alias("src"), qcol(edge_src).alias("dst")))
        .distinct()
        .persist()
    )
    labels = nodes.select(
        qcol(node_id).alias("id"), qcol(node_id).alias("component")
    )
    changed = 1
    prev_ckpt = None
    # max_iter productive rounds + 1 quiet confirmation round
    for _ in range(max_iter + 1):
        # labels each neighbor could offer, merged with current labels
        offers = (
            sym.join(labels, sym["src"] == labels["id"])
            .select(F.col("dst").alias("id"), F.col("component"))
        )
        new_labels = (
            labels.unionByName(offers)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
        )
        # checkpoint FIRST (flat lineage), then test convergence against
        # the checkpointed frame — one execution per round, not two
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), F.col("n.id") == F.col("o.id"))
            .filter(F.col("n.component") < F.col("o.component"))
            .limit(1)
            .count()
        )
        # the previous round's checkpoint has no remaining consumer —
        # release it NOW, or a d-round graph pins d label tables at
        # once (a real cost when the label table is billions of rows)
        if prev_ckpt is not None:
            release_frame(prev_ckpt)
        prev_ckpt = new_labels
        labels = new_labels
        if changed == 0:
            break
    sym.unpersist()
    # the final checkpoint IS the result — the caller's pins list (if
    # given) takes ownership of releasing it after materialization
    if pins is not None and prev_ckpt is not None:
        pins.append(prev_ckpt)
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "iterations (graph diameter exceeds max_iter); raise "
            "max_iter or use connected_components_fast"
        )
    return labels


def _moved(labels: DataFrame) -> bool:
    """Whether any row of a round's label checkpoint has ``__moved``.
    ``isEmpty`` reads partitions only until it finds a row: one job
    over a one-partition checkpoint, where ``limit(1).count()`` costs
    two under AQE (the limit exchange, then the final stage)."""
    return not labels.filter(F.col("__moved")).isEmpty()


def connected_components_fast(
    nodes: DataFrame,
    edges: DataFrame,
    node_id: str = "id",
    edge_src: str = "id_a",
    edge_dst: str = "id_b",
    max_iter: int = 12,
    pins: list[DataFrame] | None = None,
) -> DataFrame:
    """(id, component) via pointer doubling — O(log n) rounds, iterated
    over the edge endpoints only.

    Same deterministic labels as ``connected_components`` (min reachable
    node id), but each round follows the label chain one extra hop
    (L(v) ← min over neighbors' labels, then L(v) ← L(L(v))), so a
    chain of length d resolves in ~log2(d) rounds instead of d. This is
    the billion-edge form the plain propagation loop documents: 12
    rounds cover components of diameter ~4000; the default suits any
    real near-dup graph (clique-ish, diameter ≤ a few dozen).

    One row per ``nodes`` row: a node in no edge labels itself, and an
    edge endpoint that is not a node still connects its component but
    gets no row.

    Scale shape: the label table holds only ids that appear in an edge
    (at most 2·|edges| rows), so the work per round follows the near-dup
    population, not the node count. The symmetric edge list comes from
    one scan of ``edges`` (each row exploded into both orientations) and
    is localCheckpointed once up front, so a lazy upstream pipeline, such
    as LSH candidate generation, runs once, in its own job. Per round: one
    neighbor-offer join, one min aggregate that also carries each row's
    previous label, and one pointer-jump join — equi-joins on (id,
    label) pairs, payloads never shuffled; the round is
    localCheckpointed and convergence is read off that checkpoint
    (``_moved``: one emptiness probe), not by a second join. One extra quiet
    round is allowed so convergence on the final productive round is
    still recognized. One left join then attaches every node
    (``coalesce(component, id)``): the returned frame reads ``nodes``
    and the final label checkpoint (appended to ``pins``), never the
    edge list.
    """
    a, b = qcol(edge_src), qcol(edge_dst)
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(a.alias("src"), b.alias("dst")),
                    F.struct(b.alias("src"), a.alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = None
    changed = True
    for _ in range(max_iter + 1):
        if labels is None:
            # round 1 joins nothing: every endpoint still carries its own
            # id, so its neighbors offer their ids
            current = sym.select(F.col("src").alias("id"), F.col("src").alias("component"))
            offers = sym.select(F.col("src").alias("id"), F.col("dst").alias("component"))
        else:
            current = labels.select("id", "component")
            offers = sym.join(current, sym["src"] == current["id"]).select(
                F.col("dst").alias("id"), F.col("component")
            )
        merged = (
            current.withColumn("__own", F.lit(True))
            .unionByName(offers.withColumn("__own", F.lit(False)))
            .groupBy("id")
            .agg(
                F.min("component").alias("component"),
                F.min(F.when(F.col("__own"), F.col("component"))).alias("__prev"),
            )
        )
        # pointer jump: component ← component's own component
        parent = merged.select(
            F.col("id").alias("p_id"), F.col("component").alias("p_comp")
        )
        jump = F.least("component", "p_comp")
        jumped = (
            merged.join(parent, merged["component"] == parent["p_id"], "left")
            .select("id", jump.alias("component"), (jump < F.col("__prev")).alias("__moved"))
            .localCheckpoint(eager=True)
        )
        changed = _moved(jumped)
        # release the superseded round's checkpoint (see the plain
        # propagation loop) — at most two label tables pinned at once
        if labels is not None:
            release_frame(labels)
        labels = jumped
        if not changed:
            break
    release_frame(sym)
    # the final checkpoint is read by the returned frame — the caller's
    # pins list (if given) takes ownership of releasing it after
    # materialization
    if pins is not None and labels is not None:
        pins.append(labels)
    if changed:
        raise RuntimeError(
            f"connected_components_fast did not converge in {max_iter} "
            "doubling rounds (component diameter > ~2^max_iter)"
        )
    return (
        nodes.select(qcol(node_id).alias("id"))
        .join(labels.select("id", "component"), on="id", how="left")
        .select("id", F.coalesce(F.col("component"), F.col("id")).alias("component"))
    )


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    pins: list[DataFrame] | None = None,
) -> DataFrame:
    """(id, cluster, is_canonical) — resolve near-dup pairs into
    clusters; the minimum id in each component is the canonical
    survivor (the row a dedup pipeline keeps). Uses the pointer-doubling
    components (same deterministic labels, O(log n) rounds): the rounds
    touch only documents that appear in a pair, and every other
    document joins once at the end as its own singleton cluster."""
    nodes = df.select(qcol(id_col).alias("id"))
    comp = connected_components_fast(nodes, pairs, pins=pins)
    return comp.select(
        F.col("id").alias(id_col),
        F.col("component").alias("cluster"),
        (F.col("id") == F.col("component")).alias("is_canonical"),
    )


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    node_id: str = "id",
    edge_src: str = "src",
    edge_dst: str = "dst",
    damping: float = 0.85,
    iterations: int = 10,
    pins: list[DataFrame] | None = None,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """(id, rank_units, rank) — PageRank by power iteration with a
    FIXED iteration count and pinned, engine-exact INTEGER arithmetic.
    With ``seeds`` (r12): PERSONALIZED PageRank — teleport AND
    dangling mass restart uniformly over the seed set instead of all
    nodes, and the walk starts from the seeds; rank then measures
    proximity-weighted reachability FROM the seeds (seed-based
    curation: propagate trust from known-good documents through a
    link/citation graph, then select by rank). Same integer units:

        teleport(v) = ((1000-d)·M) div (1000·|S|)   if v ∈ S else 0
        rank'(v)    = teleport(v)
                    + (d · (inflow(v) + [v∈S]·(dangling div |S|))) div 1000

    ``seeds = all nodes`` reduces EXACTLY to plain PageRank (same
    floor divisions, same constants — pinned in tests). ``seeds`` must
    carry the id under the SAME ``node_id`` column name as ``nodes``;
    seeds outside the node universe are dropped (the universe
    contract); an empty effective seed set raises.

    Floating-point PageRank is reduction-order-dependent (the inflow
    sum), so two engines — or two partitionings of one engine — drift
    in the last ulps and can even swap near-tied ranks. Here every
    rank is an integer number of mass units (total mass = 10^12), and
    every step is integer multiply / floor-divide / sum:

        share(u)   = rank(u) div outdeg(u)
        inflow(v)  = Σ_{u→v} share(u)
        dangling   = Σ_{outdeg(u)=0} rank(u)
        rank'(v)   = ((1000-d)·M) div (1000·N)
                   + (d · (inflow(v) + dangling div N)) div 1000

    with M = 10^12 and d = round(damping·1000) (per-mille damping —
    0.85 is exactly 850/1000). Floor divisions leak sub-unit mass
    (total rank sums to slightly under M, bounded by N + #edges units
    per iteration ≈ 10^-6 of the mass at a million nodes) — the
    deliberate price for bit-reproducibility on any engine and any
    partitioning; ``rank`` = rank_units / 10^12 is the convenience
    double (one exact division).

    Semantics pinned: directed edges; parallel edges count multiply
    (dedupe upstream if unwanted); self-loops are ordinary edges;
    contributions to a ``dst`` absent from ``nodes`` are DROPPED and
    edges whose ``src`` is absent contribute nothing (the node table
    is the universe); node ids must be unique.

    Scale shape: per iteration ONE equi-join of edges onto (id, rank)
    pairs + one map-side-combining sum on dst + one 1-row dangling
    aggregate — shuffles carry (id, long) pairs only. The rank frame
    is localCheckpointed each round with the superseded round released
    (at most two pinned, the repo's iterative-loop contract); the edge
    list is persisted once (probed every round).
    """
    M = 10**12
    d_pm = int(round(damping * 1000))
    if not 0 <= d_pm <= 1000:
        raise ValueError(f"damping must be in [0, 1], got {damping}")
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    n_nodes = nodes.count()
    if n_nodes == 0:
        raise ValueError("pagerank: empty node table")

    e = edges.select(
        qcol(edge_src).alias("src"), qcol(edge_dst).alias("dst")
    ).persist()
    outdeg = e.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("__deg")
    )
    ids = nodes.select(qcol(node_id).alias("id"))
    base_nodes = ids.join(outdeg, on="id", how="left")
    if seeds is not None:
        sd = (
            seeds.select(qcol(node_id).alias("id"))
            .distinct()
            .join(ids, on="id", how="left_semi")
            .select("id", F.lit(True).alias("__seed"))
        )
        n_restart = sd.count()
        if n_restart == 0:
            raise ValueError(
                "pagerank: no seeds inside the node universe"
            )
        base_nodes = base_nodes.join(sd, on="id", how="left").select(
            "id", "__deg", F.coalesce("__seed", F.lit(False)).alias("__seed")
        )
    else:
        n_restart = n_nodes
        base_nodes = base_nodes.select(
            "id", "__deg", F.lit(True).alias("__seed")
        )
    base_nodes = base_nodes.persist()

    teleport = ((1000 - d_pm) * M) // (1000 * n_restart)
    ranks = base_nodes.select(
        "id", "__deg", "__seed",
        F.when(F.col("__seed"), F.lit(M // n_restart))
        .otherwise(F.lit(0)).cast("long").alias("__r"),
    ).localCheckpoint(eager=True)
    prev = ranks
    for _ in range(iterations):
        dangling = (
            ranks.filter(F.col("__deg").isNull())
            .agg(F.coalesce(F.sum("__r"), F.lit(0)).alias("s"))
            .first()["s"]
        )
        shares = ranks.filter(F.col("__deg").isNotNull()).select(
            F.col("id").alias("src"),
            F.expr("__r div __deg").alias("__share"),
        )
        inflow = (
            e.join(shares, on="src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("__share").alias("__in"))
        )
        ranks = (
            base_nodes.join(inflow, on="id", how="left")
            .select(
                "id",
                "__deg",
                "__seed",
                (
                    F.when(F.col("__seed"), F.lit(int(teleport)))
                    .otherwise(F.lit(0))
                    + F.expr(
                        f"({d_pm} * (coalesce(__in, 0) "
                        f"+ CASE WHEN __seed THEN "
                        f"{int(dangling) // n_restart} ELSE 0 END)) "
                        "div 1000"
                    )
                ).cast("long").alias("__r"),
            )
            .localCheckpoint(eager=True)
        )
        release_frame(prev)
        prev = ranks
    e.unpersist()
    base_nodes.unpersist()
    if pins is not None:
        pins.append(ranks)
    return ranks.select(
        F.col("id").alias(node_id),
        F.col("__r").alias("rank_units"),
        (F.col("__r") / F.lit(float(M))).alias("rank"),
    )


def triangle_counts(
    nodes: DataFrame,
    edges: DataFrame,
    node_id: str = "id",
    edge_src: str = "id_a",
    edge_dst: str = "id_b",
) -> DataFrame:
    """(id, n_triangles) — per-node triangle counts over the UNDIRECTED
    simple graph induced by ``edges`` (direction, duplicates, and
    self-loops are canonicalized away first; every node in ``nodes``
    gets a row, 0 for triangle-free — totality like the rest of the
    graph family). The graph-quality primitive next to
    :func:`pagerank`: clustering structure separates organic link
    neighborhoods from spam farms and near-dup cliques.

    Scale shape — the standard degree-ordered orientation (Chiba-
    Nishizeki / Latapy): each undirected edge is oriented from the
    endpoint with the SMALLER (degree, id) pair to the larger, so every
    triangle is enumerated exactly once as a wedge at its lowest-degree
    vertex and the wedge fan-out per node is bounded by its ORIENTED
    out-degree ≤ O(√E) — a hub with a million neighbors produces no
    million² wedge explosion (the reason a naive a<b orientation dies
    on power-law graphs). Joins shuffle (node, node) id pairs only:
    one distinct for canonicalization, one degree count, one wedge
    self-join, one closing-edge semi-check, one explode+count.

    Deterministic integers end-to-end — a DuckDB mirror reproduces
    every count bit-for-bit."""
    e = edges.select(
        qcol(edge_src).alias("__x"), qcol(edge_dst).alias("__y")
    ).filter(F.col("__x").isNotNull() & F.col("__y").isNotNull())
    canon = (
        e.filter(F.col("__x") != F.col("__y"))
        .select(
            F.least("__x", "__y").alias("u"),
            F.greatest("__x", "__y").alias("v"),
        )
        .distinct()
    )
    deg = (
        canon.select(F.col("u").alias("id"))
        .unionAll(canon.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("__deg"))
    )
    # orient by (degree, id): struct comparison is lexicographic in
    # both Spark and DuckDB, so the orientation — and therefore the
    # wedge enumeration — is engine-identical
    du = deg.select(F.col("id").alias("u"), F.col("__deg").alias("__du"))
    dv = deg.select(F.col("id").alias("v"), F.col("__deg").alias("__dv"))
    ku = F.struct(F.col("__du"), F.col("u"))
    kv = F.struct(F.col("__dv"), F.col("v"))
    oriented = (
        canon.join(du, on="u")
        .join(dv, on="v")
        .select(
            F.when(ku < kv, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(ku < kv, F.col("v")).otherwise(F.col("u")).alias("t"),
            F.when(ku < kv, F.col("__dv")).otherwise(F.col("__du")).alias(
                "__dt"
            ),
        )
    )
    w1 = oriented.select(
        F.col("s"), F.col("t").alias("a"), F.col("__dt").alias("__da")
    )
    w2 = oriented.select(
        F.col("s"), F.col("t").alias("b"), F.col("__dt").alias("__db")
    )
    wedges = w1.join(w2, on="s").filter(
        F.struct(F.col("__da"), F.col("a")) < F.struct(F.col("__db"), F.col("b"))
    )
    closing = oriented.select(
        F.col("s").alias("a"), F.col("t").alias("b")
    )
    tris = wedges.join(closing, on=["a", "b"], how="left_semi").select(
        "s", "a", "b"
    )
    per_node = (
        tris.select(
            F.explode(F.array(F.col("s"), F.col("a"), F.col("b"))).alias("id")
        )
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        nodes.select(qcol(node_id).alias("id"))
        .join(per_node, on="id", how="left")
        .select(
            F.col("id").alias(node_id),
            F.coalesce(F.col("n_triangles"), F.lit(0).cast("long")).alias(
                "n_triangles"
            ),
        )
    )


def k_core(
    nodes: DataFrame,
    edges: DataFrame,
    k: int,
    node_id: str = "id",
    edge_src: str = "id_a",
    edge_dst: str = "id_b",
    max_iter: int = 200,
    pins: list[DataFrame] | None = None,
) -> DataFrame:
    """(id, core_degree) — the k-core of the undirected simple graph:
    the maximal subgraph in which EVERY node has degree ≥ k, with each
    surviving node's degree inside that subgraph. The classic
    link-graph quality trim (Seidman 1983; web-spam and crawl-frontier
    literature prune to a core before ranking): peripheral pages,
    guestbook chains, and one-shot link spam peel away, the densely
    interlinked region remains. ``k=0`` returns every node (isolated
    ones with degree 0). Deterministic — the k-core is a unique
    subgraph, independent of peel order, partitioning, or engine.

    Algorithm: iterative peeling. Each round drops ALL nodes whose
    current degree is below k, recomputes degrees over the induced
    subgraph, and repeats until a fixpoint. Each round is one
    map-side-combining degree count + two semi-joins shuffling
    (node, node) pairs only; the survivor table is localCheckpointed
    per round with the superseded round released (the repo's
    iterative-loop contract — at most two pinned), and the canonical
    edge list is persisted once (probed every round). Rounds are
    data-dependent (a path graph peels two ends per round), bounded by
    ``max_iter`` with a loud RuntimeError — an unconverged silent
    return would hand a dedup/ranking pipeline a superset of the core.

    Cites /root/reference scope: the reference has no graph surface;
    this extends the engine's iterative family (connected_components,
    pagerank, triangle_counts) for link-graph curation.
    """
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    e = edges.select(
        qcol(edge_src).alias("__x"), qcol(edge_dst).alias("__y")
    ).filter(F.col("__x").isNotNull() & F.col("__y").isNotNull())
    canon = (
        e.filter(F.col("__x") != F.col("__y"))
        .select(
            F.least("__x", "__y").alias("u"),
            F.greatest("__x", "__y").alias("v"),
        )
        .distinct()
    )
    all_nodes = nodes.select(qcol(node_id).alias("id"))
    # restrict to the node universe BEFORE the loop (``nodes`` is the
    # universe, the family contract): an edge endpoint absent from
    # ``nodes`` must not inflate round-0 degrees — the count-based
    # convergence test assumes degrees are always induced-subgraph
    # degrees (count unchanged ⇒ no edge died ⇒ fixpoint), and a
    # foreign edge dying between rounds 0 and 1 would break exactly
    # that invariant (premature convergence with stale degrees)
    canon = canon.join(
        all_nodes.withColumnRenamed("id", "u"), on="u", how="left_semi"
    ).join(
        all_nodes.withColumnRenamed("id", "v"), on="v", how="left_semi"
    )
    # symmetrized once, persisted once: every round's degree count and
    # both induced-subgraph semi-joins probe it
    sym = canon.select(F.col("u").alias("src"), F.col("v").alias("dst")).union(
        canon.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    ).persist()
    deg0 = sym.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("core_degree")
    )
    # totality at k=0: isolated nodes carry degree 0
    survivors = (
        all_nodes.join(deg0, on="id", how="left")
        .select(
            "id",
            F.coalesce(F.col("core_degree"), F.lit(0).cast("long")).alias(
                "core_degree"
            ),
        )
        .localCheckpoint(eager=True)
    )
    prev_ckpt = survivors
    n_prev = survivors.count()
    converged = False
    for _ in range(max_iter):
        keep = survivors.filter(F.col("core_degree") >= k).select("id")
        alive = (
            sym.join(keep.withColumnRenamed("id", "src"), on="src", how="left_semi")
            .join(keep.withColumnRenamed("id", "dst"), on="dst", how="left_semi")
        )
        new_survivors = (
            keep.join(
                alive.groupBy(F.col("src").alias("id")).agg(
                    F.count(F.lit(1)).alias("core_degree")
                ),
                on="id",
                how="left",
            )
            .select(
                "id",
                F.coalesce(
                    F.col("core_degree"), F.lit(0).cast("long")
                ).alias("core_degree"),
            )
            .localCheckpoint(eager=True)
        )
        n_new = new_survivors.count()
        release_frame(prev_ckpt)
        prev_ckpt = new_survivors
        survivors = new_survivors
        if n_new == n_prev:
            converged = True
            break
        n_prev = n_new
    sym.unpersist()
    if pins is not None:
        pins.append(prev_ckpt)
    if not converged:
        raise RuntimeError(
            f"k_core did not converge in {max_iter} peeling rounds; "
            "raise max_iter (long path-like graphs peel slowly)"
        )
    # at the fixpoint every survivor already has core_degree >= k
    # EXCEPT the k=0 isolated-node face (degree 0 is the answer there)
    return survivors.filter(F.col("core_degree") >= F.lit(int(k)))


def select_canonical(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    score_col: str,
    pins: list[DataFrame] | None = None,
) -> DataFrame:
    """(id, cluster, is_canonical) — like :func:`dedup_clusters`, but
    the survivor of each near-dup cluster is the HIGHEST-``score_col``
    member (ties → smallest id) instead of the smallest id: the
    RefinedWeb/DCLM practice of keeping the best-quality copy of a
    duplicated document (longest, highest classifier score, newest)
    rather than an arbitrary one.

    Cluster labels stay min-reachable-id (deterministic, partition-
    independent); only the survivor CHOICE consults the score. NULL
    scores sort below every non-NULL score (a doc with no score never
    beats a scored one; an all-NULL cluster falls back to min id —
    exactly ``dedup_clusters``). Scores are compared as given — the
    usual float caveat applies: equal-to-the-last-ulp scores are a
    stable tie (broken by id), but scores that differ across reruns
    (re-trained classifier) move survivors; freeze scores first.

    Scale shape: the components loop (pointer doubling), then ONE
    window over (cluster) ordered by (score DESC NULLS LAST, id) —
    shuffles carry (id, cluster, score) triples only."""
    from pyspark.sql import Window

    # no collision guard needed: both inputs are immediately aliased
    # into a fixed two-column frame, every other df column is dropped
    nodes = df.select(qcol(id_col).alias("id"), qcol(score_col).alias("__score"))
    comp = connected_components_fast(
        nodes.select("id"), pairs, pins=pins
    )
    labeled = comp.join(nodes, on="id")
    w = Window.partitionBy("component").orderBy(
        F.col("__score").desc_nulls_last(), F.col("id").asc()
    )
    return (
        labeled.withColumn("__rn", F.row_number().over(w))
        .select(
            F.col("id").alias(id_col),
            F.col("component").alias("cluster"),
            (F.col("__rn") == 1).alias("is_canonical"),
        )
    )


def label_propagation(
    nodes: DataFrame,
    edges: DataFrame,
    node_id: str = "id",
    edge_src: str = "id_a",
    edge_dst: str = "id_b",
    rounds: int = 5,
    weight: str | None = None,
    pins: list[DataFrame] | None = None,
) -> DataFrame:
    """(id, community) — synchronous label propagation (Raghavan et al.
    2007), the COMMUNITY detector next to the components family: each
    round every node adopts the label held by the most of its
    neighbors (ties → smallest label; isolated nodes keep their own).
    ``weight`` names an optional EXACT-INTEGER edge-weight column
    (co-occurrence counts, shared-shingle counts — the strengths the
    engine's candidate generators emit); votes then sum weights
    instead of counting edges. Integer weights keep the argmax
    engine-exact — float weights would reintroduce the
    reduction-order drift the graph family's integer discipline
    (see ``pagerank``) exists to avoid, so they raise. Weighted
    duplicates are SUMMED per direction; with symmetric input the two
    directions' weights add like parallel edges.
    Where ``connected_components`` answers "reachable at all?" — one
    bridge edge merges two 1000-doc near-dup cliques — this answers
    "densely tied?": the cliques keep separate labels because one
    bridge vote never outweighs in-clique majorities. The domain/topic
    clustering primitive for data-recipe mixing over link or
    co-citation graphs.

    DETERMINISTIC by construction, unlike textbook asynchronous LPA:
    updates are synchronous (all nodes vote on the PREVIOUS round's
    labels), the tie rule is total, and the round count is FIXED —
    label(v, r) is a pure function of the graph and r, identical
    under any partitioning or engine (the oracle unrolls the same
    rounds). The fixed count is semantic, not a convergence shortcut:
    synchronous LPA can 2-cycle (bipartite oscillation), so "run to
    convergence" is not well-defined; small r (3-7) is the practical
    community horizon. Parallel edges are collapsed (simple-graph
    votes) and edges are symmetrized, the components family's rule.

    Scale shape per round: one (src→label) equi-join + one map-side-
    combining (id, label) vote count + one argmax groupBy — shuffles
    carry (id, label, count), payloads never move; per-round
    localCheckpoint with release keeps lineage flat (≤ 2 label tables
    pinned at once). Cites /root/reference scope: no graph surface
    there; extends the engine's graph family.
    """
    if rounds < 0:
        raise ValueError(f"label_propagation: rounds must be >= 0, got {rounds}")
    if weight is None:
        sym = (
            edges.select(qcol(edge_src).alias("src"), qcol(edge_dst).alias("dst"))
            .union(edges.select(qcol(edge_dst).alias("src"), qcol(edge_src).alias("dst")))
            .distinct()
            .select("src", "dst", F.lit(1).cast("long").alias("w"))
            .persist()
        )
    else:
        pairs = edges.select(
            qcol(edge_src).alias("src"),
            qcol(edge_dst).alias("dst"),
            qcol(weight).alias("w"),
        )
        wtype = dict(pairs.dtypes)["w"]
        if wtype not in ("tinyint", "smallint", "int", "bigint"):
            raise ValueError(
                f"label_propagation: weight column {weight!r} must be an "
                f"exact integer type (got {wtype}) — float vote sums are "
                "reduction-order-dependent and break the engine-exact "
                "argmax contract"
            )
        # NULL weights raise IN-PLAN (no extra scan): F.sum would
        # silently skip them — zero votes with no error — which is
        # inconsistent with the loud float-type rejection above
        w_checked = F.when(
            F.col("w").isNull(),
            F.expr(
                "cast(raise_error('label_propagation: NULL edge weight "
                "— a NULL-weight edge would contribute zero votes "
                "silently; filter or fill weights upstream') as long)"
            ),
        ).otherwise(F.col("w").cast("long"))
        sym = (
            pairs.union(
                edges.select(
                    qcol(edge_dst).alias("src"),
                    qcol(edge_src).alias("dst"),
                    qcol(weight).alias("w"),
                )
            )
            .select("src", "dst", w_checked.alias("w"))
            .groupBy("src", "dst")
            .agg(F.sum("w").alias("w"))
            .persist()
        )
    labels = nodes.select(
        qcol(node_id).alias("id"), qcol(node_id).alias("community")
    )
    prev_ckpt = None
    for _ in range(rounds):
        votes = (
            sym.join(labels, sym["src"] == labels["id"])
            .select(F.col("dst").alias("id"), F.col("community"), F.col("w"))
            .groupBy("id", "community")
            .agg(F.sum("w").alias("__n"))
        )
        # argmax by (votes desc, label asc) as ONE max over a struct —
        # (n, -community) orders exactly that way, no second window
        # shuffle on a different key
        best = (
            votes.groupBy("id")
            .agg(
                F.max(
                    F.struct(
                        F.col("__n"), (-F.col("community")).alias("__negc")
                    )
                ).alias("__b")
            )
            .select("id", (-F.col("__b.__negc")).alias("__new"))
        )
        new_labels = (
            labels.join(best, on="id", how="left")
            .select(
                "id",
                F.coalesce(F.col("__new"), F.col("community")).alias(
                    "community"
                ),
            )
            .localCheckpoint(eager=True)
        )
        if prev_ckpt is not None:
            release_frame(prev_ckpt)
        prev_ckpt = new_labels
        labels = new_labels
    sym.unpersist()
    if pins is not None and prev_ckpt is not None:
        pins.append(prev_ckpt)
    return labels


def merge_components(
    labels: DataFrame,
    new_nodes: DataFrame,
    new_pairs: DataFrame,
    node_id: str = "id",
    comp_col: str = "component",
    edge_src: str = "id_a",
    edge_dst: str = "id_b",
    max_iter: int = 12,
    pins: list[DataFrame] | None = None,
) -> DataFrame:
    """(id, component) — incrementally fold a NEW batch of nodes and
    near-dup pairs into a persisted component labeling, recomputing
    ONLY the components the batch touches. The cross-batch face of the
    components family: at 100 TB the accumulated pair log is itself
    corpus-sized, and re-running connected components over all of it
    per ingest batch is a full-graph job — this touches the batch's
    reach instead (same idea as the surgical parquet upsert: rewrite
    only affected files; here, relabel only affected components).

    Correctness rests on one invariant of this family's labels: a
    component label is the MIN member id, and therefore itself a
    member. That makes the star edges (member — label) connectivity-
    preserving, so components over {star edges of affected components}
    ∪ {new pairs} equal components over {all original edges} ∪ {new
    pairs} restricted to the affected region — and the result is
    IDENTICAL to a one-shot run over the full edge log (min-id labels
    are history-independent). ``labels`` must come from
    ``connected_components{,_fast}`` / ``dedup_clusters`` / a prior
    ``merge_components`` — feeding arbitrary labels breaks both the
    invariant and the untouched-rows shortcut.

    Semantics: the node universe is old ids ∪ ``new_nodes``; pair
    endpoints outside the universe are dropped (the family's
    universe contract — see ``k_core``); NULL endpoints dropped;
    ``new_nodes`` already labeled are NOT relabeled unless touched by
    a pair. Untouched components pass through without a shuffle of
    their members beyond one broadcast-sized anti-join probe.

    Scale shape: the batch's endpoints are batch-sized, so the
    affected-component id set is batch-sized (broadcast by AQE into
    both the member semi-join and the untouched anti-join); the
    pointer-doubling loop runs over the endpoints of the affected
    components' star edges and the batch's pairs only.
    Shuffles carry (id, component) pairs — never payloads.

    Cites /root/reference scope: the reference maintains production
    tables incrementally (mabna_tables_update.py watermark deltas);
    this extends the same maintain-don't-recompute discipline to the
    engine's cluster state.
    """
    old, affected_comps, recomputed = _merge_components_core(
        labels, new_nodes, new_pairs, node_id, comp_col,
        edge_src, edge_dst, max_iter, pins,
    )
    untouched = old.join(affected_comps, on="component", how="left_anti").select(
        "id", "component"
    )
    return untouched.unionByName(recomputed.select("id", "component")).select(
        F.col("id").alias(node_id), F.col("component").alias(comp_col)
    )


def merge_components_delta(
    labels: DataFrame,
    new_nodes: DataFrame,
    new_pairs: DataFrame,
    node_id: str = "id",
    comp_col: str = "component",
    edge_src: str = "id_a",
    edge_dst: str = "id_b",
    max_iter: int = 12,
    pins: list[DataFrame] | None = None,
) -> DataFrame:
    """Changed-labels-only face of :func:`merge_components`: the rows
    whose label the batch CREATES (new ids) or CHANGES (relabeled
    members of merged components) — nothing else. This is the
    surgical-upsert feed: apply it with ``operators.layout.upsert_rows``
    and the persisted label table is maintained rewriting only affected
    files, the same touched-not-total cost model as the recompute
    itself. Batch-reach-sized by construction (a subset of the
    recomputed region), so the old-vs-new comparison join is bounded
    by the batch's reach, never the table."""
    old, _affected_comps, recomputed = _merge_components_core(
        labels, new_nodes, new_pairs, node_id, comp_col,
        edge_src, edge_dst, max_iter, pins,
    )
    prev = old.select("id", F.col("component").alias("__prev"))
    return (
        recomputed.join(prev, on="id", how="left")
        .filter(
            F.col("__prev").isNull()
            | (F.col("__prev") != F.col("component"))
        )
        .select(
            F.col("id").alias(node_id), F.col("component").alias(comp_col)
        )
    )


def _merge_components_core(
    labels: DataFrame,
    new_nodes: DataFrame,
    new_pairs: DataFrame,
    node_id: str,
    comp_col: str,
    edge_src: str,
    edge_dst: str,
    max_iter: int,
    pins: list[DataFrame] | None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared core: (old labels, affected component ids, recomputed
    affected-region labels) — see :func:`merge_components` for the
    correctness argument."""
    old = labels.select(qcol(node_id).alias("id"), qcol(comp_col).alias("component"))
    new_ids = new_nodes.select(qcol(node_id).alias("id")).distinct()
    universe = old.select("id").union(new_ids).distinct()
    pairs = (
        new_pairs.select(qcol(edge_src).alias("id_a"), qcol(edge_dst).alias("id_b"))
        .filter(F.col("id_a").isNotNull() & F.col("id_b").isNotNull())
        .join(universe.withColumnRenamed("id", "id_a"), on="id_a", how="left_semi")
        .join(universe.withColumnRenamed("id", "id_b"), on="id_b", how="left_semi")
    )
    # pinned: touched/affected are probed twice each (members semi-join
    # + untouched anti-join), and pairs feeds both the touched set and
    # the recompute loop — without pinning, a lazy upstream candidate
    # pipeline would re-run per probe
    pairs = pairs.persist()
    touched = (
        pairs.select(F.col("id_a").alias("id"))
        .union(pairs.select(F.col("id_b").alias("id")))
        .distinct()
    )
    # eagerly checkpointed, not persisted: the untouched anti-join is
    # LAZY in the returned plan, and a persist would be re-derivable
    # from (unpersisted) pairs on eviction — the checkpoint severs that
    # lineage so pairs can be released before the caller materializes.
    # Batch-sized (one row per affected component id).
    affected_comps = (
        old.join(touched, on="id", how="left_semi")
        .select("component")
        .distinct()
        .localCheckpoint(eager=True)
    )
    affected = old.join(affected_comps, on="component", how="left_semi")
    # star edges reconstruct each affected component's connectivity
    # from its labeling alone (label is a member — the invariant)
    star = affected.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias("id_a"), F.col("component").alias("id_b")
    )
    new_only = new_ids.join(old.select("id"), on="id", how="left_anti")
    sub_nodes = affected.select("id").union(new_only).distinct()
    recomputed = connected_components_fast(
        sub_nodes,
        star.union(pairs.select("id_a", "id_b")),
        max_iter=max_iter,
        pins=pins,
    )
    # safe NOW: the CC loop materialized eagerly (per-round checkpoints)
    # and ``recomputed`` reads only sub_nodes and its final label
    # checkpoint, never the edge list — so every returned plan reads
    # old/affected_comps/new_nodes and checkpoints, none of which
    # re-derive from pairs
    pairs.unpersist()
    if pins is not None:
        pins.append(affected_comps)
    return old, affected_comps, recomputed
