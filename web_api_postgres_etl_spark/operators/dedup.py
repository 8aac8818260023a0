"""Deduplication operators.

Reference surface (O1+O2): last-wins version compaction after
incremental appends — pandas ``ORDER BY "meta.version"`` then
``drop_duplicates(subset=keys, keep='last')`` and full-table rewrite
(mabna_tables_update.py:262-287, 310-330, 359-379).

North-star surface (100 TB training-data pipeline): exact dedup,
MinHash-LSH, SimHash, and n-gram Jaccard near-dup over a documents
table. All are pure DataFrame ops — the hash primitives are md5-based
(portable to the ANSI-SQL oracle) and stay inside codegen.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..caching import pin
from .project import qcol


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition ONLY when the scan yields fewer partitions
    than cores (small files → single-task stages that serialize all
    per-row compute). At 100 TB inputs already arrive with thousands of
    splits and this is a no-op; locally it turns a 1-thread 15s shingle
    stage into a 32-thread sub-second one."""
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    # the probe forces a driver-side physical planning of df's whole
    # subtree (df.rdd), so stamp the answer on the DataFrame object:
    # a DataFrame is an immutable plan, its scan split count cannot
    # change behind it — re-probing the SAME object is pure waste
    # (fresh objects, the normal case, still probe; only long-lived
    # memoized frames like the entry layer's _t tables hit the stamp)
    n = getattr(df, "_sg_scan_parts", None)
    if n is None:
        n = df.rdd.getNumPartitions()
        try:
            df._sg_scan_parts = n
        except Exception:  # pragma: no cover - frozen DataFrame object
            pass
    if n < target:
        return df.repartition(target)
    return df


# ---------------------------------------------------------------- O1+O2
def dedup_last_wins(
    df: DataFrame,
    keys: Sequence[str],
    version_col: str = "meta.version",
    tiebreaker: str | None = "id",
) -> DataFrame:
    """Keep the newest version per natural key (upsert compaction).

    Spark ``dropDuplicates`` keeps an *arbitrary* row, so the reference's
    ``keep='last'``-after-sort must be a window: row_number over
    partitionBy(keys) orderBy(version DESC) == 1 (SURVEY.md §7.4.2).

    Tie behavior on equal versions is nondeterministic in the reference
    (physical row order); we pin ``tiebreaker`` DESC (default ``id``) so
    re-runs are idempotent — documented divergence.

    Scale note: this shuffles on ``keys`` once. For a partitioned 100 TB
    sink, run it per freshly-touched partition (plans/pipeline.py
    compacts only partitions present in the delta), never whole-table
    like the reference's full rewrite (mabna_tables_update.py:271-280).
    """
    order = [qcol(version_col).desc()]
    if tiebreaker and tiebreaker in df.columns:
        order.append(qcol(tiebreaker).desc())
    w = Window.partitionBy(*[qcol(k) for k in keys]).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------- exact
def dedup_exact(
    df: DataFrame, on: Sequence[str], id_col: str, keep: str = "min"
) -> DataFrame:
    """Exact dedup on content columns, keeping a deterministic survivor
    (min/max id). Hash-shuffle on ``on``; at scale pre-hash long text to
    a digest column first (``dedup_exact_hashed``) so the shuffle moves
    16-byte keys, not document bodies.
    """
    agg = F.min(qcol(id_col)) if keep == "min" else F.max(qcol(id_col))
    survivors = df.groupBy(*[qcol(c) for c in on]).agg(agg.alias(id_col))
    return df.join(survivors, on=[*on, id_col], how="left_semi")


def dedup_exact_hashed(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact-content dedup via md5 digest — the 100 TB shape: group on a
    fixed-width digest instead of shuffling full document bodies."""
    hashed = df.withColumn("__h", F.md5(qcol(text_col)))
    survivors = hashed.groupBy("__h").agg(F.min(qcol(id_col)).alias(id_col))
    return (
        hashed.join(survivors, on=["__h", id_col], how="left_semi").drop("__h")
    )


# ------------------------------------------------------------- near-dup
from ..functions.text import normalized_tokens  # noqa: E402 (shared tokenizer)


def repetition_signals(
    df: DataFrame, id_col: str, text_col: str, n: int = 2
) -> DataFrame:
    """Per-document repetition quality signals (Gopher-style): the
    fraction of all word n-grams taken by the single most frequent
    n-gram (``top_ngram_frac``) and the fraction of n-gram occurrences
    belonging to n-grams that occur more than once (``dup_ngram_frac``
    — ALL occurrences of a duplicated gram count, not just the repeats).
    Boilerplate/spam/SEO text scores high on both; clean prose scores
    low. Documents with zero n-grams get NULL signals (kept).

    Scale shape: explode n-grams → count per (doc, gram) → per-doc
    aggregate — shuffles (id, gram) pairs with map-side combine, never
    document bodies; same skeleton as ``minhash_table``.
    """
    grams = _shingled(df, id_col, text_col, n).select(
        "__id", F.explode_outer("__sh").alias("__g")
    )
    per_gram = grams.groupBy("__id", "__g").agg(F.count("*").alias("__c"))
    agg = per_gram.groupBy("__id").agg(
        F.sum(F.when(F.col("__g").isNotNull(), F.col("__c"))).alias("__total"),
        F.max(F.when(F.col("__g").isNotNull(), F.col("__c"))).alias("__top"),
        F.sum(
            F.when(F.col("__g").isNotNull() & (F.col("__c") > 1), F.col("__c"))
            .otherwise(0)
        ).alias("__dup"),
    )
    return agg.select(
        F.col("__id").alias(id_col),
        F.round(F.col("__top") / F.col("__total"), 6).alias("top_ngram_frac"),
        F.round(F.col("__dup") / F.col("__total"), 6).alias("dup_ngram_frac"),
    )


def mine_boilerplate_ngrams(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    min_doc_frac: float = 0.05,
    min_docs: int = 2,
) -> DataFrame:
    """(gram, n_docs, doc_frac) — word n-grams whose DOCUMENT frequency
    crosses a corpus-fraction threshold: the corpus-level boilerplate
    miner (cookie banners, nav bars, license footers, signature blocks
    recur verbatim across a large fraction of a crawl — CCNet/C4 strip
    them by frequency, not by per-document repetition, which
    ``repetition_signals`` covers). The output is a persistable ban
    table for the strip/dedup family (e.g. the segment-level siblings
    of ``dedup_corpus_sentences``'s count-derived ban set).

    Document frequency, not term frequency: each doc contributes each
    gram at most once (per-doc distinct BEFORE the corpus count), so a
    single spammy document repeating one gram 10k times cannot promote
    it. Threshold = max(min_docs, ceil(min_doc_frac · total_docs)) —
    compared against the exact integer n_docs, so the only float in
    the operator is the reported doc_frac. total_docs counts every
    input row (shingle-less docs still sit in the denominator).

    Scale shape: tokenize → n-gram → per-doc distinct (map-side) →
    one map-side-combining count per gram — shuffles (gram, count)
    only, never bodies. total_docs rides along as a broadcast 1-row
    frame (the tfidf_table rule), so the whole build is ONE lazy plan
    — no eager df.count() driver job, no second corpus pass.

    Cites /root/reference scope: no corpus analysis surface there;
    this extends the curation family's ban-set machinery.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if not (0.0 < min_doc_frac <= 1.0):
        raise ValueError(f"min_doc_frac must be in (0, 1], got {min_doc_frac}")
    if min_docs < 1:
        raise ValueError(f"min_docs must be >= 1, got {min_docs}")
    total = df.agg(F.count(F.lit(1)).alias("__total"))
    per_doc = (
        _shingled(df, id_col, text_col, n, drop_empty=True)
        .select("__id", F.explode(F.array_distinct("__sh")).alias("gram"))
    )
    # threshold = max(min_docs, ceil(frac · total)), computed in-plan
    # against the broadcast total — the double product matches the
    # driver-side math.ceil(frac * total) bit-for-bit (same multiply)
    return (
        per_doc.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .crossJoin(F.broadcast(total))
        .filter(
            F.col("n_docs")
            >= F.greatest(
                F.lit(min_docs).cast("long"),
                F.ceil(F.lit(float(min_doc_frac)) * F.col("__total")),
            )
        )
        .select(
            "gram",
            "n_docs",
            F.round(
                F.col("n_docs") / F.col("__total").cast("double"), 6
            ).alias("doc_frac"),
        )
    )


def word_shingles(tokens_col, n: int = 3):
    """Column: token array → array of space-joined word n-grams.

    Built from sequence+transform+slice (no explode, no UDF): one row in,
    one array out.

    PERF TRAP: pass a *bound column* (a projected alias), never an
    inline expression tree. Higher-order-function lambdas are
    interpreted, and ``slice(c, i, n)`` re-evaluates ``c`` once PER
    ELEMENT — an inline tokenize subtree turns shingling quadratic
    (measured 18× slower at 5k docs). ``_shingled`` below does the
    two-step projection correctly; the alias is referenced twice
    (sequence-size + slice) so CollapseProject keeps the projection.
    """
    c = qcol(tokens_col) if isinstance(tokens_col, str) else tokens_col
    m = F.size(c) - (n - 1)
    # guard m < 1: sequence(1, 0) is a DESCENDING [1, 0] in Spark, and
    # the ensuing slice(c, 0, n) throws — sub-n-token docs must yield
    # an empty shingle array instead
    idx = F.when(m >= 1, F.sequence(F.lit(1), m)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(c, i, n)))


def _shingled(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    drop_empty: bool = False,
    ensure_par: bool = True,
) -> DataFrame:
    """(__id, __sh: array<string>) word n-gram shingles per document.

    The shingle step runs through ``pyspark.ml.feature.NGram`` — a JVM
    Scala function over the token array. Its output (space-joined
    consecutive word n-grams, empty array below n tokens) is
    bit-identical to ``word_shingles`` but ~4× faster: Catalyst
    higher-order-function lambdas are interpreted per element, while
    NGram runs one compiled sliding pass per row. Being opaque to the
    optimizer it also cannot be re-inlined by filter pushdown, which
    closes the quadratic HOF-inline trap ``word_shingles`` documents.

    ``drop_empty`` removes shingle-less documents via a TOKEN-COUNT
    pre-filter on the source (zero shingles ⇔ fewer than n tokens).

    ``ensure_par=False`` skips the parallelism probe/repartition — for
    inputs that are already join/shuffle outputs (their partitioning is
    set by the upstream plan, and the ``df.rdd`` probe would force a
    driver-side physical planning of that whole subtree per call)."""
    from pyspark.ml.feature import NGram

    src = ensure_parallelism(df) if ensure_par else df
    if drop_empty:
        src = src.filter(F.size(normalized_tokens(text_col)) >= n)
    toks = src.select(
        qcol(id_col).alias("__id"),
        # coalesce: NULL text tokenizes to NULL, and NGram's Scala UDF
        # NPEs on a NULL array where word_shingles yields [] — keep that
        # empty-array behavior
        F.coalesce(
            normalized_tokens(text_col), F.array().cast("array<string>")
        ).alias("__toks"),
    )
    sh = NGram(n=n, inputCol="__toks", outputCol="__sh").transform(toks)
    return sh.select("__id", "__sh")


def minhash_signature(shingles_col, num_hashes: int = 16):
    """Column: shingle array → array of ``num_hashes`` minhash values.

    Portable construction: hash_i(s) = md5(i || '|' || s); the minimum
    md5 hex digest per seed is an order statistic over a uniform hash —
    the standard MinHash estimator. md5 (not xxhash/murmur) because the
    DuckDB oracle computes the identical digest, making near-dup results
    bit-reproducible across engines. Swap in xxhash64 for raw speed once
    oracle parity is not needed (same plan shape).

    Shape note: ONE nested-lambda transform over a seed array — not
    ``num_hashes`` separate array_min expressions. The latter inlines
    the (tokenize→shingle) subtree k times and blows up whole-stage
    codegen (20×+ slowdown from Janino compile + re-evaluation).
    """
    c = qcol(shingles_col) if isinstance(shingles_col, str) else shingles_col
    seeds = F.array(*[F.lit(str(i)) for i in range(num_hashes)])
    return F.transform(
        seeds,
        lambda seed: F.array_min(
            F.transform(c, lambda s: F.md5(F.concat_ws("|", seed, s)))
        ),
    )


def lsh_bands(sig_col, bands: int, rows_per_band: int):
    """Column: minhash signature → array of band-bucket keys.

    Band key = md5(band_index || joined band slice). Docs sharing any
    band key are near-dup candidates (standard LSH banding).
    """
    c = qcol(sig_col) if isinstance(sig_col, str) else sig_col
    keys = [
        F.md5(
            F.concat_ws(
                "#", F.lit(str(b)), F.concat_ws(",", F.slice(c, b * rows_per_band + 1, rows_per_band))
            )
        )
        for b in range(bands)
    ]
    return F.array(*keys)


def minhash_agg_exprs(
    num_hashes: int, shingle_col: str = "__s", guard_nulls: bool = True
) -> list:
    """The ONE definition of the minhash aggregate: per seed i,
    ``min(md5(i || '|' || shingle))`` over the exploded shingle rows,
    aliased ``mh_i``. ``guard_nulls`` wraps each term in an
    isNotNull guard so a document whose explode_outer produced a single
    NULL shingle row (zero shingles) aggregates to a NULL signature;
    callers that pre-drop shingle-less docs skip the guard. Shared by
    ``minhash_table`` and ``near_dup_pairs`` so the standalone operator
    and the fused pipeline can never drift."""
    # one F.expr per seed with the alias INSIDE the parsed string
    # (8 py4j calls total), not ~7 Column calls per seed — driver-side
    # construction latency, same Catalyst tree
    out = []
    for i in range(num_hashes):
        digest = f"md5(concat_ws('|', '{i}', {shingle_col}))"
        if guard_nulls:
            digest = f"CASE WHEN {shingle_col} IS NOT NULL THEN {digest} END"
        out.append(F.expr(f"min({digest}) AS mh_{i}"))
    return out


def _band_keys_sql(num_hashes: int, bands: int) -> str:
    """The SQL text behind ``minhash_band_keys`` — callers that parse a
    larger expression around it (e.g. ``explode(array(...)) AS __band``
    in one round trip) embed this string; the Column wrapper below and
    every embedder therefore share one definition."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes={num_hashes} not divisible by bands={bands}: the "
            "trailing signature hashes would be silently dropped"
        )
    rows = num_hashes // bands
    keys = ", ".join(
        "md5(concat_ws(',', '"
        + f"{b}#', "
        + ", ".join(f"mh_{b * rows + j}" for j in range(rows))
        + "))"
        for b in range(bands)
    )
    return f"array({keys})"


def minhash_band_keys(num_hashes: int, bands: int):
    """Column: array of LSH band-bucket keys over the ``mh_i`` signature
    COLUMNS (the scale shape's layout) — band key = md5 of the band
    index + the band's signature slice. The single definition consumed
    by both ``minhash_lsh_candidates`` and ``near_dup_pairs``."""
    return F.expr(_band_keys_sql(num_hashes, bands))


def _band_self_join(banded: DataFrame) -> DataFrame:
    """(__id, __band) → distinct candidate pairs (id_a < id_b) sharing
    ≥1 band bucket — the LSH banding both candidate generators funnel
    through.

    r15 (guide §2.4; r14 verdict #3/#5): the shape is still the band
    self-join + distinct, but its inputs must arrive UNPERSISTED — the
    r14 callers persisted the signature frame to pay for the double
    read, and that persist was exactly what made this expensive:
    an InMemoryRelation over an AQE plan reports unknown partitioning,
    so the pair distinct forced a third exchange, and the cache build
    was a pipeline barrier. Unpersisted, (a) AQE stage reuse computes
    the shared subtree under the two sides' identical canonical
    exchange ONCE (runtime-verified: the heavy signature stage runs a
    single time), and (b) the probe side keeps its hashpartitioning —
    every duplicate of a pair shares id_a, so HashPartitioning(id_a)
    satisfies the distinct's ClusteredDistribution(id_a, id_b) and the
    distinct collapses into the join stage with NO exchange (two
    back-to-back HashAggregates in the executed plan).

    An alternative single-shuffle form — groupBy(band) + collect_list +
    in-bucket pair generation — was built and measured this round: it
    saves the at-scale SMJ sorts but loses locally (interleaved A/B:
    near_dup 3.4 s vs 1.8 s, candidates-only 1.005 s vs 0.825 s) —
    AQE coalesces its tiny band/distinct exchanges to 1 partition and
    that single-partition cache cascades serial stages into the verify
    tail, while the join form gets a broadcast + map-side distinct.
    At scale the join degrades to SMJ with the band exchange REUSED
    (same shuffled bytes once, plus two sorts of (band, id) rows) —
    an acceptable trade for the local win; revisit with real-cluster
    numbers before flipping to the bucket form.
    """
    left = banded.alias("l")
    right = banded.alias("r")
    # F.expr/selectExpr parse the same (=, <, AND) and Alias trees the
    # Column calls built — one round trip per clause instead of ~20
    return (
        left.join(
            right, F.expr("l.__band = r.__band AND l.__id < r.__id")
        )
        .selectExpr("l.__id AS id_a", "r.__id AS id_b")
        .distinct()
    )


def minhash_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 16,
) -> DataFrame:
    """(id, mh_0..mh_{k-1}) minhash signature table — the SCALE shape.

    explode(shingles) → k codegen'd md5 columns per shingle row →
    groupBy(id).agg(min per seed). Shingles are computed exactly once
    per document (the pure-expression form re-evaluates the
    tokenize→shingle subtree per seed, interpreted, ~20× slower), md5
    runs inside whole-stage codegen, and the shuffle moves only
    (id, k×32B digests) — never text. Map-side partial min keeps the
    shuffle tiny at 100 TB.

    Documents with zero shingles keep a row with NULL signature
    (explode_outer + null guard) — matching the SQL semantics of
    list_min over an empty list.
    """
    sh = _shingled(df, id_col, text_col, shingle_n).selectExpr(
        "__id", "explode_outer(__sh) AS __s"
    )
    out = sh.groupBy("__id").agg(*minhash_agg_exprs(num_hashes))
    # public schema carries the caller's id name, not the internal alias
    return out.select(
        F.col("__id").alias(id_col), *[f"mh_{i}" for i in range(num_hashes)]
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """MinHash+LSH near-duplicate candidate pairs.

    Pipeline: minhash_table → band keys (md5 of each band's slice) →
    explode bands → self-join per band bucket → distinct (a<b) pairs.
    The self-join shuffles only (band_key, id) pairs and bucket sizes
    are bounded by hash uniformity, so the plan scales linearly in
    corpus size. Exact Jaccard verification of candidates is
    ``ngram_jaccard_pairs`` restricted to this output (at 100 TB, via a
    semi-join on the candidate pairs).

    The signatures stay unpersisted: the two join sides' identical
    signature subtree is computed once by AQE stage reuse, the probe
    side keeps its id partitioning so the pair distinct collapses into
    the join stage (no third exchange), and there is no cache-build
    barrier — see ``_band_self_join``.
    """
    mh = minhash_table(df, id_col, text_col, shingle_n, num_hashes)
    # shingle-less docs (NULL signature) can never be near-dups — drop
    # before banding (concat_ws would otherwise give them equal keys,
    # diverging from SQL's NULL-propagating ||)
    banded = mh.filter("mh_0 IS NOT NULL").select(
        qcol(id_col).alias("__id"),
        F.expr(f"explode({_band_keys_sql(num_hashes, bands)}) AS __band"),
    )
    return _band_self_join(banded)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs above a threshold.

    Shape: doc → distinct shingles → explode → self-join on shingle →
    count(shared) per pair → |A∪B| = |A|+|B|−shared → filter. The
    explode/self-join is the exact-verification path — at 100 TB run it
    only on LSH candidates (feed ``minhash_lsh_candidates`` output as a
    semi-join filter); on its own it is quadratic in bucket size.
    """
    shingled = _shingled(
        df, id_col, text_col, shingle_n, drop_empty=True
    ).select("__id", F.array_distinct("__sh").alias("__sh"))
    sizes = shingled.select("__id", F.size("__sh").alias("__n"))
    # explode_outer: see near_dup_pairs — plain explode infers a
    # size(__sh) > 0 filter that re-inlines the tokenize chain.
    exploded = shingled.select("__id", F.explode_outer("__sh").alias("__s"))
    a = exploded.alias("a")
    b = exploded.alias("b")
    shared = (
        a.join(b, (F.col("a.__s") == F.col("b.__s")) & (F.col("a.__id") < F.col("b.__id")))
        .groupBy(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .agg(F.count("*").alias("__shared"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        shared.join(sa, F.col("id_a") == F.col("sa.__id"))
        .join(sb, F.col("id_b") == F.col("sb.__id"))
        .select(
            "id_a",
            "id_b",
            (
                F.col("__shared")
                / (F.col("sa.__n") + F.col("sb.__n") - F.col("__shared"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _candidate_shingles(
    df: DataFrame, pairs: DataFrame, id_col: str, text_col: str,
    shingle_n: int,
) -> DataFrame:
    """(__id, __sh) distinct-shingle sets for exactly the documents
    appearing in ``pairs`` — the shared candidate-bounding head of
    every pairwise verifier.

    The semi-join runs against the RAW (id, text) source BEFORE any
    tokenize/shingle work, so the expensive per-row chain touches only
    candidate documents instead of the whole corpus, and no corpus-wide
    shingle-array frame is ever shuffled into the join (r14: this was
    previously shingle-first/join-second, which re-tokenized every
    document and exchanged the heaviest intermediate against a
    candidate table orders of magnitude smaller). The semi-join carries
    no strategy hint: AQE sees the candidate-id table's true (small)
    size at runtime and picks a broadcast semi-join itself, while a
    pathological candidate population still has the shuffle fallback —
    and, unlike a hard ``broadcast()`` hint, the planner keeps the
    candidate branch off the blocking broadcast-build path (measured:
    the hinted variant serialized the whole pipeline behind the
    broadcast build, +35% wall; the unhinted one is plan-equal to the
    old shape locally and strictly less work at scale)."""
    cand_ids = (
        pairs.selectExpr("id_a AS __cand_id")
        .union(pairs.selectExpr("id_b AS __cand_id"))
        .distinct()
    )
    cand_src = df.join(
        cand_ids, qcol(id_col) == F.col("__cand_id"), "left_semi"
    )
    # empty-shingle drop via size(__sh) > 0 ABOVE the NGram projection,
    # NOT drop_empty's token-count pre-filter: that deterministic source
    # filter would be pushed below the semi-join by Catalyst and
    # re-tokenize the ENTIRE corpus in the (often single-split) scan
    # stage — the exact work this helper exists to avoid. The NGram
    # output is opaque to pushdown, and zero shingles ⇔ fewer than n
    # tokens, so the surviving rows are identical.
    return (
        _shingled(cand_src, id_col, text_col, shingle_n, ensure_par=False)
        .filter("size(__sh) > 0")
        .selectExpr("__id", "array_distinct(__sh) AS __sh")
    )


def _paired_shingles(sh: DataFrame, pairs: DataFrame) -> DataFrame:
    """``pairs`` with both sides' shingle sets attached (__sha, __shb)
    — the shared two-sided join of the pairwise verifiers."""
    a = sh.selectExpr("__id AS id_a", "__sh AS __sha")
    b = sh.selectExpr("__id AS id_b", "__sh AS __shb")
    return pairs.join(a, "id_a").join(b, "id_b")


def _jaccard_on_shingled(
    sh: DataFrame, pairs: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard over candidate ``pairs`` given a (__id, __sh)
    distinct-shingle-set frame — the shared verification tail of
    ``jaccard_on_pairs`` and ``near_dup_pairs``."""
    joined = _paired_shingles(sh, pairs)
    # one parsed projection — same Divide/Size/ArrayIntersect tree the
    # Column arithmetic built (codegen CSE collapses the repeated
    # intersect), a dozen fewer py4j round trips
    jac_sql = (
        "size(array_intersect(__sha, __shb)) / "
        "(size(__sha) + size(__shb) - size(array_intersect(__sha, __shb)))"
    )
    return (
        joined.selectExpr("id_a", "id_b", f"{jac_sql} AS jaccard")
        .filter(F.col("jaccard") >= threshold)
    )


def jaccard_on_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 2,
    threshold: float = 0.5,
    cache_pairs: bool = True,
) -> DataFrame:
    """Exact Jaccard ONLY on given candidate pairs — the 100 TB shape.

    ``pairs`` (id_a, id_b) — typically ``minhash_lsh_candidates``
    output — is joined twice against per-doc distinct shingle sets;
    similarity is ``|A∩B| / (|A|+|B|−|A∩B|)`` via ``array_intersect``
    per pair. No shingle explode self-join: work is linear in candidate
    count. Shingle sets are semi-joined down to candidate docs first,
    so the two-sided pair join touches a candidate-bounded frame (the
    corpus is scanned once to build it) — same shape as the fused
    ``near_dup_pairs`` verify tail. ``pairs`` is read twice (candidate
    ids + the verify join), so ``cache_pairs`` pins it by default;
    without the persist a lazy ``minhash_lsh_candidates`` input would
    run its banding pipeline once per read. Pass False when the caller
    already persisted (or will unpersist) the pairs frame — same
    switch as ``near_dup_pairs``'s ``cache_intermediates``, so a
    long-lived session doesn't accumulate pinned RDDs.
    """
    if cache_pairs:
        pairs = pairs.persist()
    sh = _candidate_shingles(df, pairs, id_col, text_col, shingle_n)
    return _jaccard_on_shingled(sh, pairs, threshold)


def containment_on_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 2,
    threshold: float = 0.8,
    cache_pairs: bool = True,
) -> DataFrame:
    """One-sided overlap on candidate pairs: ``|A∩B| / min(|A|,|B|)``
    — the Broder CONTAINMENT measure. Symmetric Jaccard dilutes when
    sizes differ (an article fully embedded in article+comments scores
    ``|A|/|B|`` ≈ small), so containment is the verifier for
    subset-style duplication; winnowing candidates pair such docs
    (contiguous shared passages survive size asymmetry) where MinHash
    sketches under-sample the smaller side.

    Output (id_a, id_b, containment, contained_id) with containment >=
    ``threshold``; ``contained_id`` is the smaller set's id — the
    document a subset-dedup policy would drop (size ties resolve to
    id_b, matching the min-id-survives convention elsewhere). Same
    candidate-bounded shape and ``cache_pairs`` contract as
    ``jaccard_on_pairs``; the ratio is one exact int/int double
    division, reproducible in any engine.
    """
    if cache_pairs:
        pairs = pairs.persist()
    sh = _candidate_shingles(df, pairs, id_col, text_col, shingle_n)
    joined = _paired_shingles(sh, pairs)
    na, nb = F.size("__sha"), F.size("__shb")
    inter = F.size(F.array_intersect("__sha", "__shb"))
    return (
        joined.select(
            "id_a",
            "id_b",
            (inter / F.least(na, nb)).alias("containment"),
            F.when(na < nb, F.col("id_a")).otherwise(F.col("id_b")).alias(
                "contained_id"
            ),
        )
        .filter(F.col("containment") >= threshold)
    )


def near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 2,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    cache_intermediates: bool = True,
    pins: list[DataFrame] | None = None,
) -> DataFrame:
    """End-to-end near-duplicate detection, composed the way it runs at
    100 TB: MinHash+LSH generates candidate pairs (linear shuffle of
    (band_key, id)), exact Jaccard verifies only those candidates
    (``jaccard_on_pairs``). Output: verified (id_a, id_b, jaccard).

    The signature aggregate, band keys, bucket self-join and Jaccard
    tail all compile from the same definitions as the standalone
    operators (minhash_agg_exprs / minhash_band_keys / _band_self_join
    / _jaccard_on_shingled) — no drift possible.

    ``cache_intermediates`` pins the two SMALL frames the plan reads
    more than once — the candidate pairs (read by the verify join AND
    the candidate-id semi-join build) and the candidate-doc shingle
    sets (read by both sides of the pair join; bounded by the near-dup
    population) — because two-sided verify joins otherwise recompute
    their build subtree per branch: measured 18 s → 8 s at 50k docs.
    The pins are eager local checkpoints (``caching.pin``), appended
    to ``pins`` candidates first, then shingles: the LSH stage and the
    candidate shingling run inside this call, and the returned plan
    reads two one-node scans instead of carrying the signature and
    band-join plan into every consumer.
    The signature table is NOT persisted since r15: AQE stage reuse
    computes the band self-join's shared signature subtree once, and
    dropping the persist lets the pair distinct fuse into the join
    stage (``_band_self_join``). The corpus-sized shingled
    frame is NEVER persisted: the corpus is tokenized/shingled exactly
    ONCE (feeding signatures); the verify stage re-reads only the raw
    (id, text) source, semi-joined to candidates BEFORE any shingle
    work (_candidate_shingles, r14 — previously the whole corpus was
    re-shingled and that heaviest intermediate shuffled into the
    candidate semi-join). Pass False to keep the plan fully lazy
    (no job runs until the caller's action; e.g. composing into a
    larger cached pipeline).
    """
    base = _shingled(df, id_col, text_col, shingle_n, drop_empty=True)

    # --- stage 1: minhash signatures → band keys → bucket self-join
    # explode_outer, NOT explode: plain explode triggers Catalyst's
    # InferFiltersFromGenerate, which synthesizes size(__sh) > 0 and
    # pushes it below the projection — re-inlining the tokenize chain
    # into the lambda (the quadratic trap, third variant). drop_empty
    # already guarantees non-empty arrays, so guard_nulls=False: no
    # NULL shingle rows can reach the aggregate.
    exploded = base.selectExpr("__id", "explode_outer(__sh) AS __s")
    mh = exploded.groupBy("__id").agg(
        *minhash_agg_exprs(num_hashes, guard_nulls=False)
    )
    # r15: the signature frame is no longer persisted. The band
    # self-join still reads it on both sides, but unpersisted those
    # sides share one canonical exchange that AQE stage reuse computes
    # ONCE — and without the InMemoryRelation (whose AQE plan reports
    # unknown partitioning) the probe side's id partitioning reaches
    # the pair distinct, which collapses into the join stage with no
    # extra exchange (see _band_self_join). The persist bought nothing
    # and cost a cache-build barrier + the distinct exchange.
    banded = mh.selectExpr(
        "__id", f"explode({_band_keys_sql(num_hashes, bands)}) AS __band"
    )
    cands = _band_self_join(banded)
    if cache_intermediates:
        # read twice below (pair join + candidate-id semi-join build);
        # bounded by the near-dup population like sh. Pinned BEFORE sh
        # (callers read pins[-2] as the candidates)
        cands = pin(cands, pins)

    # --- stage 2: exact Jaccard on candidates only. The raw source is
    # semi-joined down to candidate docs BEFORE tokenize/shingle
    # (_candidate_shingles), so the second pass's per-row work and the
    # verify joins touch a candidate-bounded frame — never a
    # corpus-wide shingle recompute or shuffle.
    sh = _candidate_shingles(df, cands, id_col, text_col, shingle_n)
    if cache_intermediates:
        sh = pin(sh, pins)
    return _jaccard_on_shingled(sh, cands, threshold)


def dedup_corpus_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_docs: int = 1,
    sep: str = "\n",
    broadcast_banned: bool = True,
) -> DataFrame:
    """Corpus-level line dedup (C4/CCNet-style boilerplate strip):
    remove every line that occurs in MORE than ``max_docs`` distinct
    documents, preserving the remaining lines' order. Returns
    (id, text) with the cleaned text; a document whose every line was
    boilerplate survives with empty text (drop separately if desired).

    Scale shape: lines are counted by md5 digest — the count shuffle
    moves 16-byte keys, never line bodies; repeated lines within one
    document count once (distinct doc-line pairs). The banned set is
    only the FREQUENT lines — tiny by construction — and ships as a
    broadcast anti-join, so the corpus itself is shuffled exactly once
    (the per-document reassembly groupBy). Set
    ``broadcast_banned=False`` if a pathological corpus makes the
    banned set large; the anti-join then runs as a shuffle join.

    ``sep`` is a regex for splitting but a literal for rejoining —
    the newline default is both; pass only regex-neutral separators.

    Cost note: the corpus is READ twice (once to count line digests,
    once to probe the anti-join) — deliberate: materializing the
    exploded line frame to avoid the second pass would write a
    corpus-sized intermediate to executor storage, which loses to
    recomputing split+md5 for text-shaped data. ``.persist()`` the
    input yourself for small corpora if the scan dominates.
    """
    lines = ensure_parallelism(df).select(
        qcol(id_col).alias("__id"),
        F.posexplode(F.split(qcol(text_col), sep)).alias("__pos", "__line"),
    ).withColumn("__k", F.md5(F.col("__line")))
    banned = (
        lines.select("__id", "__k")
        .distinct()
        .groupBy("__k")
        .agg(F.count("*").alias("__docs"))
        .filter(F.col("__docs") > max_docs)
        .select("__k")
    )
    if broadcast_banned:
        banned = F.broadcast(banned)
    kept = lines.join(banned, "__k", "left_anti")
    assembled = kept.groupBy("__id").agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("__pos").alias("p"), F.col("__line").alias("l")
                        )
                    )
                ),
                lambda s: s.getField("l"),
            ),
        ).alias("__clean")
    )
    # preserve the NULL/empty distinction: only docs that HAD text get
    # the empty-string backfill when every line was boilerplate
    ids = df.select(
        qcol(id_col).alias("__id"), qcol(text_col).isNotNull().alias("__had")
    )
    return (
        ids.join(assembled, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.when(
                F.col("__had"), F.coalesce(F.col("__clean"), F.lit(""))
            ).alias(text_col),
        )
    )


def duplicated_window_positions(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 32,
    min_count: int = 2,
) -> DataFrame:
    """(id, pos) — 1-based word positions whose k-word window occurs at
    least ``min_count`` times across the corpus (within-document
    repeats count). The discovery half of ``exact_substring_dedup``,
    exposed separately so pipelines can audit WHAT would be cut before
    cutting it.

    Scale shape: one sliding NGram pass per row (compiled JVM, no HOF
    re-evaluation), then the count shuffle carries (16-byte digest)
    keys — window text never moves; the duplicated-digest set is
    joined back as a semi-join (AQE broadcasts it when small).

    Cost note: the window frame feeds BOTH sides of that semi-join, so
    the split+NGram+md5 pass runs twice — deliberate, the same
    read-twice trade ``dedup_corpus_lines`` documents: materializing
    the exploded window frame (one row PER WORD of the corpus) to
    avoid the second pass would write an intermediate larger than the
    corpus itself. ``.persist()`` the input df for small corpora if
    the source scan dominates."""
    from pyspark.ml.feature import NGram

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    words = ensure_parallelism(df).select(
        qcol(id_col).alias("__id"),
        F.coalesce(
            F.filter(F.split(qcol(text_col), r"\s+"), lambda w: w != ""),
            F.array().cast("array<string>"),
        ).alias("__w"),
    )
    grams = NGram(n=k, inputCol="__w", outputCol="__g").transform(words)
    windows = grams.select(
        "__id", F.posexplode("__g").alias("__p0", "__gram")
    ).select(
        "__id",
        (F.col("__p0") + 1).cast("int").alias("pos"),
        F.md5("__gram").alias("__k"),
    )
    dup = (
        windows.groupBy("__k")
        .agg(F.count("*").alias("__c"))
        .filter(F.col("__c") >= min_count)
        .select("__k")
    )
    return windows.join(dup, "__k", "left_semi").select(
        F.col("__id").alias(id_col), "pos"
    )


def exact_substring_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 32,
    min_count: int = 2,
) -> DataFrame:
    """Exact-substring dedup (the ExactSubstr pass of Lee et al. 2021,
    arXiv:2107.06499 — 'Deduplicating Training Data Makes Language
    Models Better'): any k-word window occurring ``min_count``+ times
    in the corpus is cut from EVERY document containing it (the
    released tool's all-occurrences semantics; near-dup dedup keeps a
    canonical copy, this pass targets boilerplate/licenses/templates
    that repeat inside otherwise-unique pages).

    Returns (id, text, n_words_removed, n_dup_windows) — text is the
    surviving words re-joined by single spaces (whitespace-normalized,
    the same trade ``chunk_documents`` makes), NULL in → NULL out, a
    fully-duplicated document survives as an empty string (drop
    separately if desired).

    Scale shape: the window-digest count shuffles 16-byte keys only.
    Per-document masking first merges the SORTED duplicated-start
    list into disjoint cut intervals via linear boundary detection
    (overlapping/adjacent k-windows coalesce, so the merged list is
    tiny even on fully-duplicated boilerplate pages — the exact rows
    this operator targets), then
    reassembles the survivors by slicing the gaps BETWEEN intervals:
    O(words + intervals) per document, vs the O(words x dup-starts)
    interpreted exists-per-word form this replaced (a 50k-word
    fully-duplicated doc would have cost ~2.5e9 lambda evaluations in
    one row — an unkillable straggler at 100 TB). Each intermediate
    array is bound to a projected column before the next expression
    consumes it — the HOF-inline trap ``word_shingles`` documents."""
    dup_pos = duplicated_window_positions(df, id_col, text_col, k, min_count)
    starts = dup_pos.groupBy(id_col).agg(
        F.array_sort(F.collect_list("pos")).alias("__ss")
    )
    words = df.select(
        qcol(id_col).alias("__id"),
        qcol(text_col).isNotNull().alias("__had"),
        F.coalesce(
            F.filter(F.split(qcol(text_col), r"\s+"), lambda w: w != ""),
            F.array().cast("array<string>"),
        ).alias("__w"),
    )
    base = words.join(
        starts.select(qcol(id_col).alias("__id"), "__ss"), "__id", "left"
    ).select(
        "__id", "__had", "__w",
        F.coalesce("__ss", F.array().cast("array<int>")).alias("__ss"),
    )
    # merge the sorted starts into disjoint cut intervals: start s cuts
    # [s, s+k-1]. With EQUAL-length windows over a sorted list, whether
    # s_i opens a new interval is a purely LOCAL property — it merges
    # into the running interval iff s_i <= s_{i-1} + k (the previous
    # start is always the running interval's last member). So interval
    # bounds fall out of two linear transform+filter passes, with no
    # fold and no per-step accumulator copy (an aggregate-based merge
    # is O(intervals²) per document — scattered non-adjacent boilerplate
    # would still have produced stragglers). CaseWhen evaluates lazily,
    # so element_at never sees index 0 / past-the-end.
    ssc = F.col("__ss")
    lo_arr = F.filter(
        F.transform(
            ssc,
            lambda s, i: F.when(i == 0, s)
            .when(s > F.element_at(ssc, i) + F.lit(k), s)
            .cast("int"),
        ),
        lambda x: x.isNotNull(),
    )
    hi_arr = F.filter(
        F.transform(
            ssc,
            lambda s, i: F.when(i == F.size(ssc) - 1, s + F.lit(k - 1))
            .when(F.element_at(ssc, i + 2) > s + F.lit(k), s + F.lit(k - 1))
            .cast("int"),
        ),
        lambda x: x.isNotNull(),
    )
    iv = base.select(
        "__id", "__had", "__w",
        F.size("__w").alias("__n"),
        F.size("__ss").alias("__ndw"),
        lo_arr.alias("__lo"),
        hi_arr.alias("__hi"),
    )
    # the kept gaps: before the first interval, between intervals, after
    # the last (__lo and __hi are index-aligned: one entry per merged
    # interval)
    gaps = iv.select(
        "__id", "__had", "__w", "__n", "__ndw",
        F.filter(
            F.transform(
                F.sequence(F.lit(0), F.size("__lo")),
                lambda i: F.struct(
                    F.when(i == 0, F.lit(1))
                    .otherwise(F.element_at(F.col("__hi"), i) + 1)
                    .alias("a"),
                    F.when(i == F.size("__lo"), F.col("__n"))
                    .otherwise(F.element_at(F.col("__lo"), i + 1) - 1)
                    .alias("b"),
                ),
            ),
            lambda g: g.getField("a") <= g.getField("b"),
        ).alias("__gaps"),
    )
    masked = gaps.select(
        "__id", "__had", "__n", "__ndw",
        F.flatten(
            F.transform(
                F.col("__gaps"),
                lambda g: F.slice(
                    F.col("__w"),
                    g.getField("a"),
                    g.getField("b") - g.getField("a") + 1,
                ),
            )
        ).alias("__kept"),
    )
    return masked.select(
        F.col("__id").alias(id_col),
        F.when(F.col("__had"), F.concat_ws(" ", F.col("__kept"))).alias(
            text_col
        ),
        (F.col("__n") - F.size("__kept")).cast("int").alias("n_words_removed"),
        F.col("__ndw").cast("int").alias("n_dup_windows"),
    )


def _bit_mask(bit: int) -> int:
    """Signed-BIGINT mask for bit i (bit 63 is the sign bit)."""
    return 1 << bit if bit < 63 else -(2**63)


def simhash_bits(hash_fn: str) -> int:
    """Signature width per token-hash function: xxhash64 fills all 64
    bits; the md5 variant takes the first 15 hex chars (60 bits) so the
    value fits a signed BIGINT identically in Spark (conv/cast) and in
    the ANSI oracle (hex-literal cast) — the price of an engine-portable
    SimHash is 4 bits of signature."""
    return 64 if hash_fn == "xxhash64" else 60


def _token_hash(hash_fn: str):
    if hash_fn == "xxhash64":
        return F.xxhash64("__t")
    if hash_fn == "md5":
        # first 60 bits of md5, identical on any engine with md5+hex
        return F.conv(F.substring(F.md5(F.col("__t")), 1, 15), 16, 10).cast(
            "long"
        )
    raise ValueError(f"unknown simhash hash_fn {hash_fn!r}")


def simhash_table(
    df: DataFrame, id_col: str, text_col: str, hash_fn: str = "xxhash64"
) -> DataFrame:
    """(id, simhash) SimHash table — the SCALE shape.

    explode(tokens) → one codegen'd hash per token → groupBy(id) with
    per-bit ±1 vote sums (one agg expression per bit, all inside
    whole-stage codegen with map-side partial aggregation) → assemble
    the signature from vote signs. An expression-level per-bit fold over
    the token array would run interpreted and re-walk the array per bit
    — this shape hashes each token exactly once.

    ``hash_fn``: 'xxhash64' (fastest, 64 bits, engine-specific) or
    'md5' (60 bits from the digest prefix — bit-identical in any engine
    with md5, so near-dup results verify exactly against a SQL oracle).

    Token-less documents get simhash NULL (kept via left join).
    """
    nbits = simhash_bits(hash_fn)
    ids = df.select(qcol(id_col).alias("__id"))
    toks = ensure_parallelism(df).select(
        qcol(id_col).alias("__id"),
        F.explode(normalized_tokens(text_col)).alias("__t"),
    ).withColumn("__h", _token_hash(hash_fn))
    # the per-bit vote sums and the sign assembly are rendered as two
    # SQL strings (2 py4j calls instead of ~500 for 60+ bits); each
    # sum() stays an independent aggregate with map-side partial agg.
    # shiftleft(1L, b) == _bit_mask(b) for every b incl. the sign bit.
    vote_sql = ", ".join(
        f"sum(CASE WHEN (__h & shiftleft(1L, {b})) != 0 THEN 1 ELSE -1 END)"
        for b in range(nbits)
    )
    votes = toks.groupBy("__id").agg(F.expr(f"array({vote_sql})").alias("__votes"))
    sig_sql = " | ".join(
        f"(CASE WHEN element_at(__votes, {b + 1}) > 0 "
        f"THEN shiftleft(1L, {b}) ELSE 0L END)"
        for b in range(nbits)
    )
    signed = votes.selectExpr("__id", f"({sig_sql}) AS __sh")
    return ids.join(signed, "__id", "left")


def simhash64(tokens_col):
    """Column form of SimHash (small arrays only — interpreted
    evaluation; prefer ``simhash_table`` for corpus-scale use)."""
    c = qcol(tokens_col) if isinstance(tokens_col, str) else tokens_col
    bits = []
    for bit in range(64):
        votes = F.aggregate(
            c,
            F.lit(0),
            lambda acc, t: acc
            + F.when(F.xxhash64(t).bitwiseAND(F.lit(_bit_mask(bit))) != 0, 1).otherwise(-1),
        )
        bits.append(F.when(votes > 0, F.lit(_bit_mask(bit))).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


def simhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    hash_fn: str = "xxhash64",
    cache_signatures: bool = True,
) -> DataFrame:
    """SimHash near-dup pairs with Hamming distance ≤ ``max_hamming``.

    Blocking: split the simhash into ``max_hamming+1`` bands — by
    pigeonhole, any pair within the distance agrees exactly on ≥1 band,
    so the self-join runs per band bucket (linear shuffle), then the
    exact Hamming distance (bit_count of xor) filters candidates. The
    blocking is LOSSLESS for the ≤ max_hamming result (every qualifying
    pair shares a band), so with ``hash_fn='md5'`` the output verifies
    exactly against a plain all-pairs SQL oracle.
    """
    nbands = max_hamming + 1
    width = simhash_bits(hash_fn) // nbands
    # cached by default: the banded self-join below reads this frame on
    # both sides, and the simhash aggregate (tokenize + per-token hash +
    # 60-64 bit votes) is the expensive subtree; (id, int64) rows are
    # the cheapest cacheable shape in the codebase. Pass
    # cache_signatures=False to stay fully lazy (composing into a
    # larger cached pipeline).
    sh = simhash_table(df, id_col, text_col, hash_fn).filter(
        F.col("__sh").isNotNull()
    )
    if cache_signatures:
        sh = sh.persist()
    # one (band, key) struct array exploded in a single pass — a
    # unionAll of per-band projections would scan the simhash subplan
    # nbands times per join side (2 × nbands subplans; measured 16
    # exchanges at nbands=4) where this shape plans it once per side
    bands_arr = F.array(
        *[
            F.struct(
                F.lit(bnd).alias("bnd"),
                F.shiftrightunsigned(F.col("__sh"), bnd * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("key"),
            )
            for bnd in range(nbands)
        ]
    )
    banded = sh.select(
        "__id", "__sh", F.explode(bands_arr).alias("__b")
    ).select(
        "__id",
        "__sh",
        F.col("__b.bnd").alias("__bnd"),
        F.col("__b.key").alias("__key"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.__bnd") == F.col("b.__bnd"))
            & (F.col("a.__key") == F.col("b.__key"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.bit_count(F.col("a.__sh").bitwiseXOR(F.col("b.__sh"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ------------------------------------------------------- decontamination
def benchmark_ngram_digests(
    bench_df: DataFrame, text_col: str, ngram_n: int = 13
) -> DataFrame:
    """Distinct md5 digests of a benchmark set's word n-grams — the
    probe side of train/test decontamination (GPT-3 appendix C-style
    13-gram collision scrub). Output: one column ``__bg``.

    Benchmarks are tiny next to a 100 TB corpus (MBs of text → at most
    a few million digests), so the result is broadcast-joined against
    the corpus; only the corpus side ever shuffles — and it shuffles
    16-byte digests, not text."""
    sh = _shingled(
        bench_df.select(F.lit(0).alias("__bid"), qcol(text_col).alias("__bt")),
        "__bid",
        "__bt",
        ngram_n,
        drop_empty=True,
    )
    return (
        sh.select(F.explode("__sh").alias("__g"))
        .select(F.md5("__g").alias("__bg"))
        .distinct()
    )


def contamination_hits(
    train_df: DataFrame,
    bench_df: DataFrame,
    id_col: str,
    text_col: str,
    bench_text_col: str | None = None,
    ngram_n: int = 13,
    broadcast_bench: bool = True,
) -> DataFrame:
    """Per-document benchmark-overlap counts: (id, n_hits) for every
    training document sharing ≥1 word ``ngram_n``-gram with the
    benchmark set; clean documents are absent from the output.

    Scale shape: the corpus explodes to distinct (doc, gram-digest)
    pairs — one pass, digests not bodies — and inner-joins the
    broadcast benchmark digest set; the surviving rows (hits only, a
    vanishing fraction of the corpus) group per document. Set
    ``broadcast_bench=False`` for a pathologically large benchmark
    union; the join then degrades gracefully to a shuffle join on the
    digest."""
    bench = benchmark_ngram_digests(
        bench_df, bench_text_col or text_col, ngram_n
    )
    if broadcast_bench:
        bench = F.broadcast(bench)
    grams = (
        _shingled(train_df, id_col, text_col, ngram_n, drop_empty=True)
        .select("__id", F.explode("__sh").alias("__g"))
        .select("__id", F.md5("__g").alias("__d"))
        .distinct()
    )
    return (
        grams.join(bench, grams["__d"] == bench["__bg"], "inner")
        .groupBy("__id")
        .agg(F.count("*").alias("n_hits"))
        .select(F.col("__id").alias(id_col), "n_hits")
    )


def contamination_report(
    train_df: DataFrame,
    bench_df: DataFrame,
    id_col: str,
    text_col: str,
    bench_id_col: str,
    bench_text_col: str | None = None,
    ngram_n: int = 13,
    broadcast_bench: bool = True,
) -> DataFrame:
    """PROVENANCE face of decontamination (r13): ``(train_id,
    bench_id, n_shared_ngrams)`` — for every contaminated pair, WHICH
    benchmark document leaked and how many distinct word n-grams the
    two share. ``contamination_hits`` answers "how contaminated is
    this doc"; this answers the audit questions behind a scrub —
    which eval set leaked into the corpus, through which documents,
    with what overlap mass — so the drop list is attributable instead
    of a bare id set. Clean pairs are absent.

    Scale shape: both sides reduce to DISTINCT (id, 16-byte gram
    digest) pairs — digests, never text, exactly the
    ``contamination_hits`` discipline — and the benchmark side
    (id-carrying now, still benchmark-sized) broadcasts; the join
    output is bounded by true contamination, and the pair count is
    one map-side-combining groupBy. ``broadcast_bench=False`` degrades
    gracefully to a digest-shuffle join for pathologically large
    benchmark unions.

    Cites /root/reference scope: no corpus surface there; completes
    the decontamination family (gate → counts → provenance)."""
    if id_col == bench_id_col:
        raise ValueError(
            f"contamination_report: id_col and bench_id_col are both "
            f"{id_col!r} — alias one side (the output carries both)"
        )
    bsh = _shingled(
        bench_df, bench_id_col, bench_text_col or text_col, ngram_n,
        drop_empty=True,
    )
    bench = (
        bsh.select("__id", F.explode("__sh").alias("__g"))
        .select(F.col("__id").alias("__bid"), F.md5("__g").alias("__bg"))
        .distinct()
    )
    if broadcast_bench:
        bench = F.broadcast(bench)
    grams = (
        _shingled(train_df, id_col, text_col, ngram_n, drop_empty=True)
        .select("__id", F.explode("__sh").alias("__g"))
        .select("__id", F.md5("__g").alias("__d"))
        .distinct()
    )
    return (
        grams.join(bench, grams["__d"] == bench["__bg"], "inner")
        .groupBy("__id", "__bid")
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
        .select(
            F.col("__id").alias(id_col),
            F.col("__bid").alias(bench_id_col),
            "n_shared_ngrams",
        )
    )


def decontaminate(
    train_df: DataFrame,
    bench_df: DataFrame,
    id_col: str,
    text_col: str,
    bench_text_col: str | None = None,
    ngram_n: int = 13,
    min_hits: int = 1,
    broadcast_bench: bool = True,
) -> DataFrame:
    """Remove training documents that overlap the benchmark set by at
    least ``min_hits`` distinct word n-grams (train/test leakage
    scrub). Returns the surviving training rows, schema unchanged.

    The anti-join probes only the contaminated-id set — bounded by the
    hit count, effectively tiny — so the corpus passes through once
    for gram hashing and once for the anti-join, with no corpus-sized
    intermediate state.

    ``min_hits == 1`` (the common scrub) takes a cheaper plan: a
    semi-join against the benchmark digests needs NO corpus-wide
    distinct of (doc, gram) pairs — the only corpus-sized shuffle of
    the counting path — because existence doesn't care about
    multiplicity; only the surviving hit ids are distinct'd."""
    if min_hits <= 1:
        grams = _shingled(
            train_df, id_col, text_col, ngram_n, drop_empty=True
        ).select("__id", F.explode("__sh").alias("__g"))
        bench = benchmark_ngram_digests(
            bench_df, bench_text_col or text_col, ngram_n
        )
        if broadcast_bench:
            bench = F.broadcast(bench)
        hits = (
            grams.join(bench, F.md5(grams["__g"]) == bench["__bg"], "left_semi")
            .select(F.col("__id").alias(id_col))
            .distinct()
        )
    else:
        hits = contamination_hits(
            train_df, bench_df, id_col, text_col, bench_text_col,
            ngram_n, broadcast_bench,
        ).filter(F.col("n_hits") >= min_hits).select(qcol(id_col))
    # no forced broadcast: the hit set is bounded by the CONTAMINATED
    # population, which on a heavily contaminated corpus approaches
    # corpus scale — AQE broadcasts at runtime when it is actually small
    return train_df.join(hits, on=id_col, how="left_anti")


# ------------------------------------------------- cross-corpus dedup
def dedup_against_corpus(
    new_df: DataFrame,
    corpus_sigs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental near-dup dedup: drop new-batch documents that are
    near-duplicates of an EXISTING corpus, given only the corpus's
    persisted minhash signature table (``minhash_table`` output — the
    only state a 100 TB pipeline keeps between ingests; re-deduping
    the whole corpus per batch would re-scan everything ever ingested).

    Pipeline: sign the new batch with the same (shingle_n, num_hashes)
    family → band both sides with the shared ``minhash_band_keys``
    definition → per-band equi-join new×corpus (linear shuffle of
    (band_key, id)) → estimate Jaccard as the matching-minhash
    fraction (the unbiased MinHash estimator; corpus TEXT is not
    retained, so exact verification is impossible by design) → drop
    new docs with any estimate ≥ ``threshold``. Returns surviving
    new-batch rows, schema unchanged.
    """
    sig_cols = [f"mh_{i}" for i in range(num_hashes)]
    missing = [c for c in sig_cols if c not in corpus_sigs.columns]
    if missing:
        raise ValueError(
            f"corpus_sigs lacks signature columns {missing}: was it built "
            f"with num_hashes={num_hashes}?"
        )
    new_sigs = minhash_table(new_df, id_col, text_col, shingle_n, num_hashes)

    def _banded(sigs: DataFrame, side: str) -> DataFrame:
        return sigs.filter(F.col("mh_0").isNotNull()).select(
            qcol(id_col).alias(f"__{side}_id"),
            *[F.col(c).alias(f"__{side}_{c}") for c in sig_cols],
            F.explode(minhash_band_keys(num_hashes, bands)).alias("__band"),
        )

    n = _banded(new_sigs, "n")
    c = _banded(corpus_sigs, "c")
    matches = F.expr(
        "("
        + " + ".join(
            f"CASE WHEN __n_mh_{i} = __c_mh_{i} THEN 1 ELSE 0 END"
            for i in range(num_hashes)
        )
        + f") / CAST({num_hashes} AS DOUBLE)"
    )
    dup_ids = (
        n.join(c, "__band")
        .select(F.col("__n_id"), matches.alias("__est"))
        .filter(F.col("__est") >= threshold)
        .select(F.col("__n_id").alias(id_col))
        .distinct()
    )
    # no forced broadcast: the dup-id set scales with the NEW BATCH
    # (a mostly-duplicate ingest makes it batch-sized); AQE picks
    # broadcast at runtime when it is actually small
    return new_df.join(dup_ids, on=id_col, how="left_anti")


# ------------------------------------------- persisted minhash index
def write_minhash_index(
    corpus: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 16,
) -> None:
    """Materialize the corpus's minhash signature table as the
    persisted dedup index — the build-once half of the incremental
    ingest story (``dedup_against_corpus`` is the score half). The
    index stores (id, k×8B signature mins) per document, NEVER text:
    at 100 TB of corpus, the index is ~10⁻⁴ of it and is the ONLY
    state kept between ingest batches.

    The signature family (shingle_n, num_hashes) is written to a
    one-row ``_meta`` sidecar; readers take the family FROM the
    sidecar, so a batch can never be signed with a mismatched family
    silently (the failure mode of ad-hoc signature tables). The md5
    seed family is deterministic, so signatures written today match
    signatures computed against the index years later.
    """
    sigs = minhash_table(corpus, id_col, text_col, shingle_n, num_hashes)
    sigs.write.mode("overwrite").parquet(path)
    corpus.sparkSession.createDataFrame(
        [(id_col, int(shingle_n), int(num_hashes))],
        "id_col string, shingle_n int, num_hashes int",
    ).coalesce(1).write.mode("overwrite").parquet(path + "_meta")


def read_minhash_index(spark, path: str) -> tuple[DataFrame, dict]:
    """(signature table, family metadata) for a persisted index.
    Raises loudly on a missing/ambiguous sidecar rather than guessing
    the family from column names."""
    meta_rows = spark.read.parquet(path + "_meta").collect()
    if len(meta_rows) != 1:
        raise ValueError(
            f"minhash index at {path}: expected exactly 1 _meta row, "
            f"found {len(meta_rows)}"
        )
    meta = meta_rows[0].asDict()
    return spark.read.parquet(path), meta


def _check_index_id(meta: dict, batch: DataFrame, path: str) -> None:
    if meta["id_col"] not in batch.columns:
        raise ValueError(
            f"minhash index at {path} keys on {meta['id_col']!r}, "
            f"absent from the batch columns {batch.columns}"
        )


def minhash_index_append(
    new_df: DataFrame, path: str, text_col: str
) -> None:
    """Sign ``new_df`` with the index's OWN family (read from the
    sidecar — callers cannot desynchronize it) and append the
    signatures. The ingest loop is
    ``survivors = dedup_batch_against_index(batch); index_append(survivors)``
    — each batch shuffles only its own (id, digest) rows; the existing
    index is never rewritten (plain parquet append)."""
    _, meta = read_minhash_index(new_df.sparkSession, path)
    _check_index_id(meta, new_df, path)
    sigs = minhash_table(
        new_df, meta["id_col"], text_col, meta["shingle_n"], meta["num_hashes"]
    )
    sigs.write.mode("append").parquet(path)


def minhash_index_purge(spark, path: str, ids: DataFrame) -> dict:
    """Takedown face of the persisted minhash index (r14, the r13
    verdict #2): remove the SIGNATURES of deleted documents so future
    batches stop deduplicating against their ghosts. ``purge_rows``
    deletes a document's rows from the corpus table, but an
    append-only signature index would keep matching new documents
    against the deleted content forever — a right-to-be-forgotten
    purge is incomplete until the index forgets too (and a legitimate
    re-submission of takedown-removed content would be silently
    dropped as a "duplicate" of a document that no longer exists).

    Mirrors the IVF-PQ index purge contract exactly (the index IS a
    plain parquet table, so the deletion IS ``layout.purge_rows``):
    only signature files containing a matching id are rewritten,
    untouched files keep their bytes, the ``_meta`` family sidecar is
    never touched (it describes the hash family, not the rows), and a
    re-purge of the same ids is an idempotent no-op. ``ids`` must
    carry the index's OWN id column (recorded in the sidecar at build
    time — same rule as append). Returns ``purge_rows``'s stats dict.

    Scale shape: cost scales with signature files TOUCHED, not index
    size — one column-pruned semi-join scan finds affected files, and
    the index rows are (id, k×8B) so even a large takedown rewrites
    kilobytes per file."""
    from .layout import purge_rows

    _, meta = read_minhash_index(spark, path)
    id_col = meta["id_col"]
    if id_col not in ids.columns:
        raise ValueError(
            f"minhash index at {path} keys on {id_col!r}, absent from "
            f"the ids frame columns {ids.columns}"
        )
    return purge_rows(spark, path, ids, id_col)


def dedup_within_batch(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    pins: list[DataFrame] | None = None,
) -> DataFrame:
    """Estimate-based self-dedup: drop every document whose minhash
    Jaccard estimate against a LOWER-id document reaches ``threshold``
    (the min-id doc of each duplicate pair survives — deterministic,
    and transitively the least id of a duplicate chain always
    remains). Same estimator and banding as ``dedup_against_corpus``,
    so an ingest batch gets ONE consistent near-dup rule whether the
    duplicate is already in the corpus or arrived in the same batch.

    Scale shape: banded equi-self-join on (band_key, id) — linear
    shuffle; the signature table is persisted because the self-join
    reads it once per side (the repo's measured subplan-reuse trap).
    For exact-verify semantics use ``near_dup_pairs`` + a cluster
    pass instead; this is the estimate face. The persisted signature
    frame is appended to ``pins`` (the repo-wide release contract) —
    the ingest loop calls this once per batch for the session
    lifetime, so without the hook every batch would leak a pinned RDD.
    """
    sigs = minhash_table(df, id_col, text_col, shingle_n, num_hashes).persist()
    if pins is not None:
        pins.append(sigs)
    sig_cols = [f"mh_{i}" for i in range(num_hashes)]

    def _banded(side: str) -> DataFrame:
        return sigs.filter(F.col("mh_0").isNotNull()).select(
            qcol(id_col).alias(f"__{side}_id"),
            *[F.col(c).alias(f"__{side}_{c}") for c in sig_cols],
            F.explode(minhash_band_keys(num_hashes, bands)).alias("__band"),
        )

    matches = F.expr(
        "("
        + " + ".join(
            f"CASE WHEN __h_mh_{i} = __l_mh_{i} THEN 1 ELSE 0 END"
            for i in range(num_hashes)
        )
        + f") / CAST({num_hashes} AS DOUBLE)"
    )
    dup_ids = (
        _banded("h")
        .join(_banded("l"), "__band")
        .filter(F.col("__h_id") > F.col("__l_id"))
        .select(F.col("__h_id"), matches.alias("__est"))
        .filter(F.col("__est") >= threshold)
        .select(F.col("__h_id").alias(id_col))
        .distinct()
    )
    return df.join(dup_ids, on=id_col, how="left_anti")


def dedup_batch_against_index(
    new_df: DataFrame,
    path: str,
    text_col: str,
    bands: int = 4,
    threshold: float = 0.5,
    dedup_within: bool = True,
    pins: list[DataFrame] | None = None,
) -> DataFrame:
    """Drop new-batch documents that near-duplicate the persisted
    corpus index (``write_minhash_index``): reads the family from the
    sidecar and delegates to ``dedup_against_corpus``; then (by
    default) self-dedups the survivors with the SAME estimator
    (``dedup_within_batch``) — without this, two near-duplicates
    arriving in one batch would both survive and both enter the index
    permanently via ``minhash_index_append``. Returns surviving
    new-batch rows, schema unchanged. The id column name is the
    index's own (recorded at build time) and must exist on
    ``new_df``."""
    sigs, meta = read_minhash_index(new_df.sparkSession, path)
    _check_index_id(meta, new_df, path)
    kept = dedup_against_corpus(
        new_df,
        sigs,
        id_col=meta["id_col"],
        text_col=text_col,
        shingle_n=meta["shingle_n"],
        num_hashes=meta["num_hashes"],
        bands=bands,
        threshold=threshold,
    )
    if dedup_within:
        kept = dedup_within_batch(
            kept,
            id_col=meta["id_col"],
            text_col=text_col,
            shingle_n=meta["shingle_n"],
            num_hashes=meta["num_hashes"],
            bands=bands,
            threshold=threshold,
            pins=pins,
        )
    return kept


def contaminated_flag(
    text_col, bench_digests: Sequence[str], ngram_n: int = 13
):
    """Column: TRUE iff the text shares ≥1 word n-gram with the
    benchmark digest list — the PURE-EXPRESSION face of decontamination
    (no joins, no shuffles, single scan), usable on batch AND streaming
    frames alike (the join form needs df.rdd / anti-joins, both
    unavailable mid-stream).

    ``bench_digests`` (md5 hex of space-joined word n-grams, the
    ``benchmark_ngram_digests`` output) ships as an array literal —
    benchmark suites are MBs of text by nature, so the digest set is
    bounded and broadcast-sized; for corpus-scale "benchmarks" use the
    join form (``decontaminate``). NULL/short texts flag False.
    """
    toks = normalized_tokens(text_col)
    bench = F.array(*[F.lit(d) for d in bench_digests])
    # bind the token array to a lambda variable before shingling: the
    # HOF inline-subtree trap (see word_shingles) — slice() inside the
    # shingle lambda re-evaluates its child per element, and an inline
    # tokenize tree would re-run the regex chain per shingle per row.
    # transform(array(toks), t -> …) evaluates toks exactly once. The
    # arrays_overlap itself stays OUTSIDE the lambda: HOF lambda bodies
    # are interpreted, and probing a many-thousand-digest literal
    # interpreted per row measured 3× slower than the codegen'd form.
    grams = F.element_at(
        F.transform(
            F.array(toks),
            lambda t: F.transform(word_shingles(t, ngram_n), lambda g: F.md5(g)),
        ),
        1,
    )
    return F.coalesce(F.arrays_overlap(grams, bench), F.lit(False))


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """(id, status) — compare two corpus snapshots by content digest:
    ``added`` (id only in new), ``removed`` (id only in old),
    ``changed`` (both, digests differ — NULL↔non-NULL counts as a
    change), ``unchanged``. The audit primitive for corpus versioning:
    diff a re-crawl against the previous snapshot before re-running
    expensive downstream dedup, and a release note ("N docs changed")
    is one groupBy away.

    Scale shape: each side reduces to (id, 16-byte digest) before the
    single full-outer equi-join on id — document bodies never shuffle;
    the join carries two digests per id. Ids must be unique per
    snapshot (it is a keyed diff, not a multiset diff — run an exact
    dedup first if ids can repeat)."""
    o = old.select(
        qcol(id_col).alias("__id"), F.md5(qcol(text_col)).alias("__ho")
    )
    n = new.select(
        qcol(id_col).alias("__id"), F.md5(qcol(text_col)).alias("__hn")
    )
    j = o.withColumn("__in_o", F.lit(True)).join(
        n.withColumn("__in_n", F.lit(True)), "__id", "full_outer"
    )
    status = (
        F.when(F.col("__in_o").isNull(), "added")
        .when(F.col("__in_n").isNull(), "removed")
        .when(F.col("__ho").eqNullSafe(F.col("__hn")), "unchanged")
        .otherwise("changed")
    )
    return j.select(F.col("__id").alias(id_col), status.alias("status"))


def novelty_score(
    df: DataFrame,
    reference: DataFrame,
    id_col: str,
    text_col: str,
    ref_text_col: str | None = None,
    ngram_n: int = 8,
    broadcast_reference: bool = True,
) -> DataFrame:
    """(id, n_grams, n_novel, novelty) — per document, the fraction of
    its DISTINCT word n-grams that do not occur anywhere in the
    reference corpus. The continuous complement of ``decontaminate``'s
    binary verdict: novelty ≈ 0 flags near-verbatim recombinations of
    reference material the exact and MinHash dedups both miss (no
    single source document is similar enough), novelty ≈ 1 is genuinely
    new text — the "how much of this batch is actually new data"
    acquisition signal.

    Semantics pinned: DISTINCT grams per document (a repeated phrase
    inside one doc counts once — this scores coverage, not frequency);
    documents shorter than ``ngram_n`` words get NULL novelty with
    n_grams = 0 (nothing measurable — gate on length elsewhere), and
    the output keeps one row per input DOCUMENT ID present in the
    gram table.

    Scale shape: same digest machinery as decontamination — the
    reference reduces to a distinct 16-byte digest set (broadcast by
    default; set ``broadcast_reference=False`` when the reference is
    corpus-sized and let AQE shuffle both digest tables); the corpus
    side shuffles (id, digest) pairs once for the distinct and once
    for the count — never text.
    """
    grams = (
        _shingled(df, id_col, text_col, ngram_n, drop_empty=False)
        .select("__id", F.explode_outer("__sh").alias("__g"))
        .select("__id", F.md5("__g").alias("__d"))
        .distinct()
    )
    ref = (
        _shingled(
            reference.select(
                F.lit(0).alias("__rid"),
                qcol(ref_text_col or text_col).alias("__rt"),
            ),
            "__rid",
            "__rt",
            ngram_n,
            drop_empty=True,
        )
        .select(F.explode("__sh").alias("__g"))
        .select(F.md5("__g").alias("__rd"))
        .distinct()
    )
    if broadcast_reference:
        ref = F.broadcast(ref)
    hit = grams.join(ref, grams["__d"] == ref["__rd"], "left").select(
        "__id", "__d", F.col("__rd").isNotNull().alias("__seen")
    )
    # explode_outer left gram-less docs with one NULL-digest row:
    # count(__d real) gives 0 grams for them, keeping the row
    agg = hit.groupBy("__id").agg(
        F.count(F.when(F.col("__d").isNotNull(), 1)).alias("n_grams"),
        F.count(
            F.when(F.col("__d").isNotNull() & ~F.col("__seen"), 1)
        ).alias("n_novel"),
    )
    return agg.select(
        F.col("__id").alias(id_col),
        "n_grams",
        "n_novel",
        (
            F.col("n_novel") / F.nullif(F.col("n_grams"), F.lit(0))
        ).alias("novelty"),
    )


def jaccard_join_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 2,
    threshold: float = 0.5,
    cache_intermediates: bool = True,
    pins: list[DataFrame] | None = None,
) -> DataFrame:
    """(id_a, id_b, jaccard) — EXACT Jaccard pairs ≥ threshold via
    prefix filtering (Chaudhuri et al. 2006 / PPJoin's base filter):
    the scale path with a COMPLETENESS GUARANTEE, where the MinHash/
    SimHash/winnowing family trades recall for speed. Use it when a
    dedup decision must be provably lossless (legal holds, benchmark
    decontamination audits) and the threshold is high enough to prune.

    Why it is exact: order every document's distinct shingles by
    (global document frequency ASC, shingle ASC) — rarest first — and
    emit only the first ``p = |x| − ceil(t·|x|) + 1`` as that
    document's PREFIX. If two sets share NO prefix token, their
    intersection lives entirely in their suffixes of size
    ``ceil(t·|x|) − 1`` < t·|x|; but J(x,y) ≥ t forces
    |x∩y| ≥ t·|∪| ≥ t·|x| — contradiction. So every qualifying pair
    collides on at least one prefix token (the ceil is computed with a
    1e-9 slack DOWN, so float fuzz can only lengthen prefixes — extra
    candidates, never a lost pair), a symmetric length filter
    (t·max(|x|,|y|) ≤ min) prunes the rest, and the survivors get the
    exact array_intersect verification.

    Scale shape: rare-first ordering is the pruning engine — a
    stopword shingle never enters a prefix unless the document is
    almost entirely stopwords, so prefix-token buckets are small BY
    CONSTRUCTION (no max_df cap needed, unlike the winnowing band
    join). One document-frequency count, one per-doc sort (bounded by
    the doc's own shingle set), one equi-self-join on prefix tokens
    carrying (token, id, size) only, one distinct, then
    candidates-only verification. Shuffles never carry text bodies.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    # the corpus-sized shingle frame is NEVER persisted (the
    # near_dup_pairs rule) — it is read twice lazily (frequency count
    # + ordering) and the verification tail recomputes it
    # candidates-only via the shared _candidate_shingles semi-join
    sh = _shingled(df, id_col, text_col, shingle_n, drop_empty=True).select(
        "__id", F.array_distinct("__sh").alias("__sh")
    )
    # explode_outer, NOT explode: plain explode infers size(__sh) > 0
    # and re-inlines the tokenize chain (the documented quadratic
    # trap); drop_empty already guarantees non-empty arrays
    dfreq = (
        sh.select(F.explode_outer("__sh").alias("__s"))
        .groupBy("__s")
        .agg(F.count(F.lit(1)).alias("__df"))
    )
    ordered = (
        sh.select(
            "__id", F.size("__sh").alias("__n"),
            F.explode_outer("__sh").alias("__s"),
        )
        .join(dfreq, on="__s")
        .groupBy("__id", "__n")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("__df"), F.col("__s")))
            ).alias("__ord")
        )
    )
    # slack DOWN on the ceil: float fuzz may only LENGTHEN the prefix
    p = (
        F.col("__n")
        - F.ceil(F.lit(float(threshold)) * F.col("__n") - F.lit(1e-9))
        + F.lit(1)
    ).cast("int")
    prefixes = ordered.select(
        "__id",
        "__n",
        F.explode(
            F.transform(F.slice("__ord", F.lit(1), p), lambda s: s["__s"])
        ).alias("__s"),
    )
    # the self-join reads its build subtree PER SIDE (no automatic
    # subplan reuse) and the build here is the heavy stage (corpus df
    # count + per-doc sort) — persist the SMALL prefix frame
    # (~p tokens per doc), the same reason near_dup_pairs pins mh
    if cache_intermediates:
        prefixes = prefixes.persist()
        if pins is not None:
            pins.append(prefixes)
    a = prefixes.alias("a")
    b = prefixes.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.__s") == F.col("b.__s"))
            & (F.col("a.__id") < F.col("b.__id"))
            & (
                F.least(F.col("a.__n"), F.col("b.__n"))
                >= F.lit(float(threshold))
                * F.greatest(F.col("a.__n"), F.col("b.__n"))
                - F.lit(1e-9)
            ),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )
    if cache_intermediates:
        # read thrice (candidate-id union + both verify sides' pair
        # joins route through it) and bounded by the candidate set
        cand = cand.persist()
        if pins is not None:
            pins.append(cand)
    cand_sh = _candidate_shingles(df, cand, id_col, text_col, shingle_n)
    return _jaccard_on_shingled(cand_sh, cand, threshold)


def dedup_corpus_sentences(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_docs: int = 1,
    min_sentence_words: int = 4,
    broadcast_banned: bool = True,
) -> DataFrame:
    """Corpus-level SENTENCE dedup — the finer-grained sibling of
    :func:`dedup_corpus_lines` (CCNet/RefinedWeb strip repeated
    sentences, not just repeated lines: boilerplate frequently hides
    mid-line — "Click here to subscribe." glued to real prose).
    Removes every sentence (``functions.text.split_sentences``
    segmentation — regex-level, the documented abbreviation seam) that
    occurs in MORE than ``max_docs`` distinct documents, preserving
    sentence order; the cleaned text is the kept sentences rejoined
    with single spaces (sentence segmentation is lossy about original
    whitespace BY DESIGN — run line-level passes first if layout
    matters).

    ``min_sentence_words``: sentences shorter than this never count as
    boilerplate and are always kept — short interjections ("Yes.",
    "Thanks.") legitimately repeat across documents and stripping them
    mutilates dialogue (the CCNet length floor, same reasoning).

    Scale shape: identical to the line form — sentences are counted by
    md5 digest (16-byte shuffle keys, never bodies), the banned set is
    only the frequent sentences (tiny by construction; broadcast
    anti-join, ``broadcast_banned=False`` for pathological corpora),
    the corpus shuffles exactly once (per-document reassembly). The
    corpus is read twice (count + probe) — the line form's documented
    tradeoff, same reasoning."""
    from ..functions.text import split_sentences

    if max_docs < 1:
        raise ValueError(f"max_docs must be >= 1, got {max_docs}")
    if min_sentence_words < 0:
        raise ValueError(
            f"min_sentence_words must be >= 0, got {min_sentence_words}"
        )
    # posexplode_OUTER where the line form uses plain posexplode — a
    # deliberate divergence, not an oversight: split_sentences is an
    # expensive HOF chain, and plain explode makes Catalyst infer a
    # size(...) > 0 filter that RE-INLINES that whole chain (the
    # documented InferFiltersFromGenerate trap; F.split in the line
    # form is cheap enough not to care). The NULL rows the outer
    # variant adds are filtered back out in both consumers below.
    sents = ensure_parallelism(df).select(
        qcol(id_col).alias("__id"),
        F.posexplode_outer(split_sentences(qcol(text_col))).alias(
            "__pos", "__s"
        ),
    ).withColumn("__k", F.md5(F.col("__s")))
    # the length floor is part of the BAN criterion, not the keep
    # criterion: short repeats stay, long repeats go
    long_enough = F.size(F.split(F.col("__s"), r"\s+")) >= min_sentence_words
    banned = (
        sents.filter(F.col("__s").isNotNull() & long_enough)
        .select("__id", "__k")
        .distinct()
        .groupBy("__k")
        .agg(F.count(F.lit(1)).alias("__docs"))
        .filter(F.col("__docs") > max_docs)
        .select("__k")
    )
    if broadcast_banned:
        banned = F.broadcast(banned)
    kept = sents.filter(F.col("__s").isNotNull()).join(
        banned, "__k", "left_anti"
    )
    assembled = kept.groupBy("__id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("__pos").alias("p"), F.col("__s").alias("s")
                        )
                    )
                ),
                lambda s: s.getField("s"),
            ),
        ).alias("__clean")
    )
    ids = df.select(
        qcol(id_col).alias("__id"), qcol(text_col).isNotNull().alias("__had")
    )
    return (
        ids.join(assembled, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.when(
                F.col("__had"), F.coalesce(F.col("__clean"), F.lit(""))
            ).alias(text_col),
        )
    )
