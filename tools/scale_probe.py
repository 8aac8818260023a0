"""Scale probe: run the heavy curation/dedup operators on synthetic
corpora of increasing size and report wall time + output rows, as
evidence that the shapes scale linearly (shuffles carry digests/ids,
candidate generation is banded, verification is candidates-only).

    python tools/scale_probe.py [sizes ...]   # default: 5000 50000 500000

With two or more sizes the probe also prints the empirical scaling
exponent between consecutive points (log(t2/t1) / log(n2/n1)) and
between the two TOP points — the number that exposes superlinear
behavior (this probe caught fixed-k SemDeDup going quadratic in round
4; exponents are asserted < 1.5 in tests/test_scale_probe.py so the
protection is systematic, not one-off).

The corpus is generated deterministically JVM-side (spark.range →
seeded md5 word picks), so runs are reproducible and generation cost
is itself distributed. ~10% of documents are near-duplicates of an
earlier document (one word changed), giving the near-dup operators a
realistic hit rate at every size.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from web_api_postgres_etl_spark.operators.dedup import (  # noqa: E402
    dedup_against_corpus,
    decontaminate,
    minhash_table,
    near_dup_pairs,
)
from web_api_postgres_etl_spark.operators.similarity import (  # noqa: E402
    semantic_dup_pairs,
)
from web_api_postgres_etl_spark.session import get_spark  # noqa: E402

VOCAB = 500
WORDS_PER_DOC = 60


def synth_docs(spark, n: int):
    """n synthetic documents: 60 words drawn from a 500-word vocab by
    seeded md5 arithmetic. Every 10th doc is the previous doc with its
    first word replaced (a guaranteed near-duplicate)."""
    base = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.expr(
            "concat_ws(' ', transform(sequence(1, "
            f"{WORDS_PER_DOC}), "
            "i -> concat('w', CAST(conv(substr(md5(concat(CAST(CASE WHEN id % 10 = 1 AND i > 1 "
            "THEN id - 1 ELSE id END AS STRING), ':', CAST(CASE WHEN id % 10 = 1 AND i = 1 "
            "THEN 999999 ELSE i END AS STRING))), 1, 8), 16, 10) % "
            f"{VOCAB} AS STRING))))"
        ).alias("text"),
    )
    return base


def synth_vecs(spark, n: int, dim: int = 32):
    """n synthetic embeddings; every 20th is an exact copy of the
    previous vector (guaranteed semantic dup)."""
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(1, "
            f"{dim}), "
            "i -> CAST(conv(substr(md5(concat(CAST(CASE WHEN id % 20 = 1 "
            "THEN id - 1 ELSE id END AS STRING), '#', CAST(i AS STRING))), 1, 6), 16, 10) "
            "AS DOUBLE) / 16777215.0 - 0.5)"
        ).alias("embedding"),
    )


def probe(spark, n: int, ops_filter: set[str] | None = None) -> dict:
    """Time each heavy operator at corpus size ``n``; returns
    {op_name: (seconds, result_rows)}. ``ops_filter`` restricts to a
    subset (names must match the keys below, sans parameter suffix)."""
    # land the synthetic inputs as parquet ONCE: reset_cache() re-pins
    # them before every op, and re-pinning a generation pipeline would
    # re-run the md5-per-word synthesis (n × 60 hashes) each time — a
    # parquet scan re-pins in a fraction of that, with identical rows
    import shutil
    import tempfile

    gen_root = tempfile.mkdtemp(prefix="scale_probe_")
    synth_docs(spark, n).write.parquet(f"{gen_root}/docs")
    synth_vecs(spark, n).write.parquet(f"{gen_root}/vecs")
    docs = spark.read.parquet(f"{gen_root}/docs").persist()
    docs.count()
    vecs = spark.read.parquet(f"{gen_root}/vecs").persist()
    vecs.count()
    try:
        return _probe_ops(spark, n, ops_filter, docs, vecs)
    finally:
        # an op raising mid-probe (OOM, Py4J error) must not leak the
        # temp corpus or the pinned inputs — the sweep and the retry
        # pass call probe() repeatedly and leaks would accumulate
        docs.unpersist()
        vecs.unpersist()
        shutil.rmtree(gen_root, ignore_errors=True)


def _probe_ops(spark, n: int, ops_filter, docs, vecs) -> dict:
    ops: dict = {}

    def want(name: str) -> bool:
        return ops_filter is None or name in ops_filter

    def reset_cache():
        # operators persist bounded intermediates (signature tables,
        # candidate sets); clear between measurements so one op's cache
        # does not pressure the next, then re-pin the inputs
        spark.catalog.clearCache()
        docs.persist().count()
        vecs.persist().count()

    if want("near_dup_pairs"):
        t0 = time.time()
        pairs = near_dup_pairs(
            docs, "doc_id", "text", shingle_n=2, num_hashes=8, bands=4,
            threshold=0.5,
        ).count()
        ops["near_dup_pairs"] = (time.time() - t0, pairs)

    if want("dedup_against_corpus"):
        reset_cache()
        corpus = docs.filter(F.col("doc_id") % 2 == 0)
        new = docs.filter(F.col("doc_id") % 2 == 1)
        t0 = time.time()
        sigs = minhash_table(corpus, "doc_id", "text", shingle_n=2, num_hashes=8)
        kept = dedup_against_corpus(
            new, sigs, "doc_id", "text", shingle_n=2, num_hashes=8, bands=4,
            threshold=0.5,
        ).count()
        ops["dedup_against_corpus"] = (time.time() - t0, kept)

    if want("decontaminate"):
        reset_cache()
        bench = docs.filter(F.col("doc_id") % 100 == 0).select("text")
        train = docs.filter(F.col("doc_id") % 100 != 0)
        t0 = time.time()
        clean = decontaminate(train, bench, "doc_id", "text", ngram_n=4).count()
        ops["decontaminate"] = (time.time() - t0, clean)

    if want("semantic_dup_pairs"):
        reset_cache()
        # SemDeDup's scale rule: k ≈ √N keeps expected cluster width flat
        # (fixed k is quadratic in N — measured 12× cost at 10× size)
        k = max(8, min(256, int(n ** 0.5)))
        t0 = time.time()
        sem = semantic_dup_pairs(
            vecs, "vec_id", "embedding", threshold=0.999, k=k, iters=1
        ).count()
        ops["semantic_dup_pairs"] = (time.time() - t0, sem)

    if want("exact_substring_dedup"):
        reset_cache()
        from web_api_postgres_etl_spark.operators.dedup import (
            exact_substring_dedup,
        )

        # every 10th doc shares a 59-word suffix with its predecessor,
        # so k=8 windows are densely duplicated — exactly the regime
        # where the pre-round-6 masking form went quadratic
        t0 = time.time()
        cut = exact_substring_dedup(docs, "doc_id", "text", k=8).count()
        ops["exact_substring_dedup"] = (time.time() - t0, cut)

    if want("unigram_perplexity"):
        reset_cache()
        from web_api_postgres_etl_spark.operators.retrieval import (
            unigram_perplexity,
        )

        t0 = time.time()
        scored = unigram_perplexity(docs, "doc_id", "text").count()
        ops["unigram_perplexity"] = (time.time() - t0, scored)

    if want("bigram_perplexity"):
        reset_cache()
        from web_api_postgres_etl_spark.operators.retrieval import (
            bigram_perplexity,
        )

        # model = (w1,w2) + term count shuffles, scoring = one pair
        # explode + two broadcastable joins — expected linear
        t0 = time.time()
        scored = bigram_perplexity(docs, "doc_id", "text").count()
        ops["bigram_perplexity"] = (time.time() - t0, scored)

    if want("decontaminate_semantic"):
        reset_cache()
        from web_api_postgres_etl_spark.operators.similarity import (
            decontaminate_semantic,
        )

        # every 20th synthetic vector is an exact copy of its
        # predecessor, so train rows adjacent to bench rows (ids ≡ 1
        # mod 100 copy a bench id) are guaranteed drops — banded
        # candidates, never an all-pairs product
        bench_v = vecs.filter(F.col("vec_id") % 100 == 0).select(
            F.col("vec_id").alias("bench_id"), "embedding"
        )
        train_v = vecs.filter(F.col("vec_id") % 100 != 0)
        t0 = time.time()
        kept = decontaminate_semantic(
            train_v, bench_v, "vec_id", "bench_id", threshold=0.999
        ).count()
        ops["decontaminate_semantic"] = (time.time() - t0, kept)

    if want("winnow_dup_pairs"):
        reset_cache()
        from web_api_postgres_etl_spark.operators.winnow import (
            winnow_dup_pairs,
        )

        # per-doc cost is O(chars x window) HOF work; the pair join is
        # fingerprint-banded. The df guard caps vocabulary-driven hot
        # keys (synthetic 500-word vocab repeats 8-char grams heavily)
        t0 = time.time()
        wpairs = winnow_dup_pairs(
            docs, "doc_id", "text", k=8, window=4, min_shared=2,
            max_fingerprint_df=32,
        ).count()
        ops["winnow_dup_pairs"] = (time.time() - t0, wpairs)

    if want("prepare_training_data"):
        reset_cache()
        from web_api_postgres_etl_spark.plans.curation import (
            CurationConfig,
            prepare_training_data,
        )

        # synthetic words carry no English stopwords, so the
        # required-words rule can never pass: gate on 5 of 7
        cfg = CurationConfig(
            min_gopher_rules=5, ngram_n=4, chunk_words=32,
            window_tokens=128, num_shards=8,
        )
        from web_api_postgres_etl_spark.plans.curation import release_pins

        bench = docs.filter(F.col("doc_id") % 100 == 0).select("text")
        train = docs.filter(F.col("doc_id") % 100 != 0)
        t0 = time.time()
        pins: list = []
        n_chunks = prepare_training_data(
            train, bench, config=cfg, pins=pins
        ).count()
        ops["prepare_training_data"] = (time.time() - t0, n_chunks)
        # the staging localCheckpoint is RDD-layer pinned —
        # clearCache() never reclaims it, and leaking it into the next
        # (larger) probe size would contaminate the exponent this tool
        # exists to measure
        release_pins(pins)

    if want("collocations"):
        reset_cache()
        from web_api_postgres_etl_spark.operators.retrieval import collocations

        t0 = time.time()
        nc = collocations(docs, "text", min_count=5, top_k=100).count()
        ops["collocations"] = (time.time() - t0, nc)

    if want("tfidf_cosine_pairs"):
        reset_cache()
        from web_api_postgres_etl_spark.operators.retrieval import (
            tfidf_cosine_pairs,
        )

        # dedicated corpus: the shared 500-word vocabulary would give
        # every term df ≈ 0.45n — all capped away, measuring nothing.
        # Here the vocabulary SCALES with n (long-tail df ≈ 20, the
        # shape the inverted-index join sees in production) and 5% of
        # docs are exact duplicates, so real pairs survive.
        base = spark.range(n).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                F.transform(
                    F.sequence(F.lit(0), F.lit(19)),
                    lambda j: F.concat(
                        F.lit("t"),
                        F.pmod(
                            F.col("id") * (j * 37 + 11) + j, F.lit(n)
                        ).cast("string"),
                    ),
                ),
            ).alias("text"),
        )
        cdocs = base.unionByName(
            base.filter(F.col("doc_id") % 20 == 0).select(
                (F.col("doc_id") + n).alias("doc_id"), "text"
            )
        ).persist()
        cdocs.count()
        t0 = time.time()
        np_ = tfidf_cosine_pairs(
            cdocs, "doc_id", "text", min_df=2, max_df=64, threshold=0.5
        ).count()
        ops["tfidf_cosine_pairs"] = (time.time() - t0, np_)
        cdocs.unpersist()

    if want("join_cardinality_profile"):
        reset_cache()
        from web_api_postgres_etl_spark.operators.joins import (
            join_cardinality_profile,
        )

        l = docs.select((F.col("doc_id") % F.lit(max(n // 10, 1))).alias("k"))
        r = docs.select((F.col("doc_id") % F.lit(max(n // 5, 1))).alias("k"))
        t0 = time.time()
        pins: list = []
        summary, hot = join_cardinality_profile(l, r, ["k"], pins=pins)
        est = summary.first()["est_join_rows"]
        nh = hot.count()
        for fr in pins:
            fr.unpersist()
        ops["join_cardinality_profile"] = (time.time() - t0, int(est) + nh)

    if want("scd2_history"):
        reset_cache()
        from web_api_postgres_etl_spark.operators.history import scd2_history

        # synthetic change log: ~20 observations per key, attrs cycling
        # through 5 states ALONG each key's chain (observation ordinal =
        # doc_id div stride — a doc_id-based expression would be
        # constant within a key whenever stride % 5 == 0, degenerating
        # to total collapse and single-row interval windows)
        stride = max(n // 20, 1)
        log = docs.select(
            (F.col("doc_id") % F.lit(stride)).alias("k"),
            F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id")).alias("ts"),
            F.expr(f"CAST((doc_id div {stride}) * 3 % 5 AS STRING)").alias("state"),
        )
        t0 = time.time()
        nh = scd2_history(log, ["k"], "ts", ["state"]).count()
        ops["scd2_history"] = (time.time() - t0, nh)

    if want("fuzzy_dup_pairs") or want("resolve_entities"):
        reset_cache()
        from web_api_postgres_etl_spark.operators.entity import (
            fuzzy_dup_pairs,
            resolve_entities,
        )

        # short name strings (the operator guards length — the
        # deletion neighborhood is O(len^k)); every 10th row is the
        # previous row's name with its first char replaced, a planted
        # distance-1 duplicate at a constant rate
        names = docs.select(
            "doc_id",
            F.when(
                (F.col("doc_id") % 10 == 0) & (F.col("doc_id") > 0),
                F.concat(
                    F.lit("z"),
                    F.substring(F.md5((F.col("doc_id") - 1).cast("string")), 2, 7),
                ),
            )
            .otherwise(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8))
            .alias("name"),
        ).persist()
        names.count()
        if want("fuzzy_dup_pairs"):
            t0 = time.time()
            np_ = fuzzy_dup_pairs(
                names, "doc_id", "name", max_distance=1
            ).count()
            ops["fuzzy_dup_pairs"] = (time.time() - t0, np_)
        if want("resolve_entities"):
            reset_cache()
            names.persist().count()
            t0 = time.time()
            pins: list = []
            nres = resolve_entities(
                names, "doc_id", "name", max_distance=1, pins=pins
            ).filter(F.col("is_canonical")).count()
            from web_api_postgres_etl_spark.caching import release_frame

            for fr in pins:
                release_frame(fr)
            ops["resolve_entities"] = (time.time() - t0, nres)
        names.unpersist()

    if want("gopher_repetition"):
        reset_cache()
        from web_api_postgres_etl_spark.operators.repetition import (
            gopher_repetition,
        )

        t0 = time.time()
        nrows = gopher_repetition(docs, "doc_id", "text").count()
        ops["gopher_repetition"] = (time.time() - t0, nrows)

    if want("top_paths"):
        reset_cache()
        from web_api_postgres_etl_spark.operators.aggregates import top_paths

        # spacing must be INDEPENDENT of n or the workload shape
        # degenerates as sizes grow (review catch: ts = doc_id*7 made
        # every session a singleton above ~10k rows). Event ordinal
        # k = doc_id div n_users: bursts of 5 events 600s apart,
        # bursts 7600s apart -> 4 sessions of 5 events per user at
        # EVERY size; the constant per-user offset shifts timelines
        # without changing gaps.
        n_users = max(n // 20, 1)
        k = F.expr(f"doc_id div {n_users}")
        events = docs.select(
            (F.col("doc_id") % F.lit(n_users)).alias("user_id"),
            F.timestamp_seconds(
                F.lit(1704067200)
                + F.expr(f"(doc_id div {n_users}) div 5") * 10000
                + F.pmod(k, F.lit(5)) * 600
                + F.col("doc_id") % F.lit(n_users)
            ).alias("ts"),
            F.element_at(
                F.array(*[F.lit(s) for s in ("a", "b", "c", "d", "e")]),
                (F.pmod(F.hash(F.col("doc_id")), F.lit(5)) + 1).cast("int"),
            ).alias("step"),
        )
        t0 = time.time()
        rows = top_paths(
            events, "user_id", "ts", "step", gap_seconds=3600,
            k=20, max_steps=6,
        ).collect()
        ops["top_paths"] = (time.time() - t0, sum(r["n_sessions"] for r in rows))

    if want("funnel"):
        reset_cache()
        from web_api_postgres_etl_spark.operators.aggregates import funnel

        # ~20 events per user; the step at each event is a seeded
        # pseudo-random pick so stage survival decays realistically
        n_users = max(n // 20, 1)
        events = docs.select(
            (F.col("doc_id") % F.lit(n_users)).alias("user_id"),
            F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id")).alias("ts"),
            F.element_at(
                F.array(*[F.lit(s) for s in ("e0", "e1", "e2", "e3", "noise")]),
                # murmur3 pick — a modular-arithmetic pick degenerates
                # to one constant step per user (period divides n_users)
                (F.pmod(F.hash(F.col("doc_id")), F.lit(5)) + 1).cast("int"),
            ).alias("step"),
        )
        t0 = time.time()
        pins = []
        rows = funnel(
            events, "user_id", "ts", "step", ["e0", "e1", "e2", "e3"],
            pins=pins,
        ).collect()
        total = sum(r["n_users"] for r in rows)
        for fr in pins:
            fr.unpersist()
        ops["funnel"] = (time.time() - t0, total)

    if want("jaccard_join_prefix"):
        reset_cache()
        from web_api_postgres_etl_spark.operators.dedup import (
            jaccard_join_prefix,
        )

        # EXACT set-similarity join: the prefix filter (rarest-token
        # buckets) must keep the self-join subquadratic where the
        # all-pairs verifier is O(n^2 / vocab)
        t0 = time.time()
        pins: list = []
        pairs = jaccard_join_prefix(
            docs, "doc_id", "text", shingle_n=2, threshold=0.6, pins=pins
        ).count()
        for fr in pins:
            fr.unpersist()
        ops["jaccard_join_prefix"] = (time.time() - t0, pairs)

    if want("pagerank"):
        reset_cache()
        from web_api_postgres_etl_spark.operators.graph import pagerank
        from web_api_postgres_etl_spark.plans.curation import release_pins

        # scale-free-ish synthetic graph: ~4 out-edges per node, dst
        # biased toward low ids (hubs), ~3% dangling nodes; the probe
        # exercises the iterative localCheckpoint/release loop — the
        # one place a lineage blow-up would make per-iteration cost
        # GROW with the round number instead of staying flat
        nodes = spark.range(n).select(F.col("id"))
        edges = (
            spark.range(n)
            .filter(F.pmod(F.hash(F.col("id")), F.lit(33)) != 0)
            .select(
                F.col("id").alias("src"),
                F.explode(F.sequence(F.lit(1), F.lit(4))).alias("k"),
            )
            .select(
                "src",
                F.pmod(
                    F.hash(F.col("src"), F.col("k")),
                    F.greatest(
                        F.pmod(F.hash(F.col("k"), F.col("src")), F.lit(n)) + 1,
                        F.lit(1),
                    ),
                ).alias("dst"),
            )
        )
        pins: list = []
        t0 = time.time()
        total = pagerank(nodes, edges, iterations=6, pins=pins).count()
        release_pins(pins)
        ops["pagerank"] = (time.time() - t0, total)

    if want("triangle_counts"):
        reset_cache()
        from web_api_postgres_etl_spark.operators.graph import triangle_counts

        # hub-biased graph (dst skews toward low ids): exactly the
        # degree distribution where a naive a<b wedge join explodes —
        # the degree-ordered orientation must keep it subquadratic
        nodes = spark.range(n).select(F.col("id"))
        edges = (
            spark.range(n)
            .select(
                F.col("id").alias("id_a"),
                F.explode(F.sequence(F.lit(1), F.lit(4))).alias("k"),
            )
            .select(
                "id_a",
                F.pmod(
                    F.hash("id_a", "k"),
                    F.greatest(
                        F.pmod(F.hash("k", "id_a"), F.lit(n)) + 1, F.lit(1)
                    ),
                ).alias("id_b"),
            )
        )
        t0 = time.time()
        tri = triangle_counts(nodes, edges)
        total = tri.agg(F.sum("n_triangles")).first()[0]
        ops["triangle_counts"] = (time.time() - t0, int(total or 0))

    if want("quantile_sample_state"):
        reset_cache()
        from web_api_postgres_etl_spark.operators.aggregates import (
            merge_quantile_states,
            quantile_sample_state,
        )

        vals = spark.range(n).select(
            F.col("id"),
            (F.col("id") % 16).alias("g"),
            F.pmod(F.hash("id"), F.lit(10_000)).cast("double").alias("v"),
        )
        t0 = time.time()
        s1 = quantile_sample_state(
            vals.filter(F.col("id") % 2 == 0), ["g"], "v", "id", k=256
        )
        s2 = quantile_sample_state(
            vals.filter(F.col("id") % 2 == 1), ["g"], "v", "id", k=256
        )
        merged = merge_quantile_states(s1.unionByName(s2), ["g"], k=256)
        total = merged.agg(F.sum("n_rows")).first()[0]
        ops["quantile_sample_state"] = (time.time() - t0, int(total or 0))

    if want("bloom_gate"):
        reset_cache()
        from web_api_postgres_etl_spark.operators.joins import (
            bloom_build,
            bloom_filter_gate,
        )

        keys = spark.range(n // 2).select((F.col("id") * 2).alias("k"))
        fact = spark.range(n).select(F.col("id").alias("k"))
        t0 = time.time()
        bloom = bloom_build(keys, "k", m_bits=1 << 18, k_hashes=5)
        kept = bloom_filter_gate(fact, bloom, "k", 1 << 18, 5).count()
        ops["bloom_gate"] = (time.time() - t0, kept)

    if want("k_core"):
        reset_cache()
        from web_api_postgres_etl_spark.operators.graph import k_core

        # ring (the surviving 2-core, n/2 nodes) + TWO pendant layers
        # hanging off it — exactly two peel rounds at every n, so the
        # exponent measures per-round cost, not a data-dependent round
        # count; core is NEVER empty (a 0-row probe is the documented
        # degenerate-workload trap)
        m, q = n // 2, n // 4
        ring = spark.range(m).select(
            F.col("id").alias("id_a"), ((F.col("id") + 1) % m).alias("id_b")
        )
        pend1 = spark.range(m, m + q).select(
            F.col("id").alias("id_a"), (F.col("id") - m).alias("id_b")
        )
        pend2 = spark.range(m + q, n).select(
            F.col("id").alias("id_a"), (F.col("id") - q).alias("id_b")
        )
        gnodes = spark.range(n).select(F.col("id"))
        t0 = time.time()
        core = k_core(gnodes, ring.union(pend1).union(pend2), 2).count()
        ops["k_core"] = (time.time() - t0, core)

    if want("ann_topk_quantized"):
        reset_cache()
        from web_api_postgres_etl_spark.operators.similarity import (
            ann_topk_quantized,
        )

        query = [((i * 37) % 64) / 64.0 - 0.5 for i in range(32)]
        t0 = time.time()
        got = ann_topk_quantized(
            vecs, query, k=10, id_col="vec_id", vec_col="embedding"
        ).count()
        # the claim under test: the per-row HOF fold is linear in dim
        # and the top-k is TakeOrderedAndProject — flat-ish per row,
        # no global sort, so wall time ~O(n)
        ops["ann_topk_quantized"] = (time.time() - t0, got)

    if want("weighted_sample_exact_n"):
        reset_cache()
        from web_api_postgres_etl_spark.operators.sampling import (
            weighted_sample_exact_n,
        )

        weighted = docs.select(
            "doc_id", (F.length("text") + F.lit(1)).cast("double").alias("w")
        )
        t0 = time.time()
        got = weighted_sample_exact_n(weighted, 100, "doc_id", "w").count()
        # one narrow map + TakeOrderedAndProject: per-partition top-n
        # + driver merge of n·partitions rows — no global sort
        ops["weighted_sample_exact_n"] = (time.time() - t0, got)

    if want("dedup_corpus_sentences"):
        reset_cache()
        from web_api_postgres_etl_spark.operators.dedup import (
            dedup_corpus_sentences,
        )

        # every doc carries the SAME trailing boilerplate sentence plus
        # its own unique sentence — the ban set stays tiny (1) while
        # the digest-count + reassembly shuffles grow with the corpus:
        # exactly the shape that goes superlinear if the broadcast ban
        # set or the per-doc regroup ever degrades
        sent_docs = docs.select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.lit(". Subscribe to our shared newsletter boilerplate "
                      "sentence today."),
            ).alias("text"),
        )
        t0 = time.time()
        got = dedup_corpus_sentences(
            sent_docs, "doc_id", "text", max_docs=1
        ).count()
        ops["dedup_corpus_sentences"] = (time.time() - t0, got)

    if want("html_to_text"):
        reset_cache()
        from web_api_postgres_etl_spark.functions.html import html_to_text

        # a narrow regex map with NO shuffle: wall time must track
        # bytes scanned (~O(n)); each page exercises container strip,
        # nav link-density, block split, entities, and chrome drops
        pages = docs.select(
            "doc_id",
            F.concat(
                F.lit('<html><head><style>ignore</style></head><body>'
                      '<nav><a href="/">Home</a> <a href="/b">Next</a>'
                      '</nav><p>'),
                F.col("text"),
                F.lit('</p><li>privacy policy</li><div>closing remarks '
                      '&amp; details stay</div><!-- c --></body></html>'),
            ).alias("html"),
        )
        t0 = time.time()
        got = (
            pages.select(F.length(html_to_text("html")).alias("L"))
            .filter(F.col("L") > 0)
            .count()
        )
        ops["html_to_text"] = (time.time() - t0, got)

    if want("merge_components"):
        reset_cache()
        from web_api_postgres_etl_spark.operators.graph import (
            merge_components,
        )

        # old state: n/2 two-node components with known min-id labels
        # (constructed directly — the invariant, label = min member).
        # batch: a bridge at every 10th component boundary plus n/10
        # new nodes attaching to even anchors — the affected fraction
        # stays FIXED (~10%) at every n, so the exponent measures the
        # touched-region recompute + the untouched anti-join passthrough
        labels = spark.range(n).select(
            F.col("id"), (F.col("id") - F.col("id") % 2).alias("component")
        )
        bridges = spark.range(0, n - 2, 20).select(
            (F.col("id") + 1).alias("id_a"), (F.col("id") + 2).alias("id_b")
        )
        newn = spark.range(n, n + n // 10).select(F.col("id"))
        attach = spark.range(n, n + n // 10).select(
            F.col("id").alias("id_a"),
            (((F.col("id") - n) * 20) % n).alias("id_b"),
        )
        t0 = time.time()
        out = merge_components(labels, newn, bridges.union(attach)).count()
        ops["merge_components"] = (time.time() - t0, out)

    if want("mine_boilerplate_ngrams"):
        reset_cache()
        from web_api_postgres_etl_spark.operators.dedup import (
            mine_boilerplate_ngrams,
        )

        # an effectively FIXED absolute threshold (min_docs dominates
        # the vanishing fraction at every probe size), so the result
        # set stays non-empty and grows with n — a fraction-driven
        # threshold outruns the synthetic bigram df and collapses the
        # 25k probe to 0 rows (the degenerate-workload trap). The
        # claim under test: one tokenize→distinct→(gram, count)
        # shuffle — wall time ~O(n), never all-pairs, the broadcast
        # total adds no second scan
        t0 = time.time()
        got = mine_boilerplate_ngrams(
            docs, "text", "doc_id", n=2, min_doc_frac=1e-6, min_docs=4
        ).count()
        assert got > 0, "degenerate miner probe: empty result"
        ops["mine_boilerplate_ngrams"] = (time.time() - t0, got)

    if want("pq_encode"):
        reset_cache()
        from web_api_postgres_etl_spark.operators.similarity import (
            pq_encode,
            pq_train,
        )

        # codebook from the zero-iteration fixed sample (training cost
        # is a separate, iters-bounded concern); the claim under test:
        # encoding is ONE narrow codegen'd projection — m·k literal
        # fold distances per row, no shuffle, wall time ~O(n)
        books = pq_train(vecs, m=4, k=8, iters=0, every=97)
        # the size() filter forces the code array to materialize per
        # row — a bare count() lets Catalyst column-prune the encode
        # projection away entirely, timing an empty scan (r11 fix;
        # same pruning defeat as the jl_project probe)
        t0 = time.time()
        got = (
            pq_encode(vecs, books)
            .filter(F.size("pq_codes") == 4)
            .count()
        )
        ops["pq_encode"] = (time.time() - t0, got)

    if want("jl_project"):
        reset_cache()
        from web_api_postgres_etl_spark.operators.similarity import (
            project_embeddings_rp,
        )

        # the claim under test: the sign random projection is ONE
        # narrow codegen'd map (in_dim × out_dim literal ±1 folds per
        # row), no shuffle — wall time ~O(n). The size() filter forces
        # the full output array to materialize per row (a bare count()
        # would let Catalyst prune the projection expression away)
        t0 = time.time()
        got = (
            project_embeddings_rp(vecs, 8)
            .filter(F.size("projection") == 8)
            .count()
        )
        ops["jl_project"] = (time.time() - t0, got)

    if want("clusters_maintain"):
        reset_cache()
        import shutil
        import tempfile

        from web_api_postgres_etl_spark.streaming.cluster_stream import (
            clusters_maintain_run,
        )

        # r10 streaming face (r10 verdict #3): bootstrap the label
        # table from n/2 two-node pairs (untimed), then TIME one
        # incremental drain whose batch keeps the affected fraction
        # FIXED (~10%) — the merge_components probe's workload pushed
        # through the full face: delta recompute + untouched anti-join
        # + surgical parquet upsert + stream plumbing. A regression
        # where the anti-join degrades to a full relabel (or the
        # upsert to a full rewrite) shows as a superlinear exponent.
        root = tempfile.mkdtemp(prefix="probe_cmaint_")
        src, tbl, ckpt = f"{root}/src", f"{root}/labels", f"{root}/ckpt"
        schema = "id_a long, id_b long"
        # bootstrap the label table DIRECTLY (n/2 two-node components
        # with their min-member labels — the merge_components probe's
        # construction): labels are plain parquet rows, and draining a
        # bootstrap batch through a full CC run would dominate the
        # test's wall time without informing the exponent (only the
        # incremental drain below is the claim under test)
        spark.range(n).select(
            F.col("id"), (F.col("id") - F.col("id") % 2).alias("component")
        ).write.parquet(tbl)
        bridges = spark.range(0, n - 2, 20).select(
            (F.col("id") + 1).alias("id_a"), (F.col("id") + 2).alias("id_b")
        )
        attach = spark.range(n, n + n // 10).select(
            F.col("id").alias("id_a"),
            (((F.col("id") - n) * 20) % n).alias("id_b"),
        )
        bridges.union(attach).write.mode("append").parquet(src)
        t0 = time.time()
        clusters_maintain_run(spark, src, tbl, ckpt, schema)
        dt = time.time() - t0
        got = spark.read.parquet(tbl).count()
        shutil.rmtree(root, ignore_errors=True)
        ops["clusters_maintain"] = (dt, got)

    if want("vectors_maintain"):
        reset_cache()
        import shutil
        import tempfile

        from web_api_postgres_etl_spark.operators.similarity import (
            write_ivf_pq_index,
        )
        from web_api_postgres_etl_spark.streaming.vector_stream import (
            vectors_maintain_run,
        )

        # r10 streaming face (r10 verdict #3): bootstrap the IVF-PQ
        # index from the first QUARTER of the corpus (untimed; the
        # middle quarter [n/4, n/2) is deliberately in neither index
        # nor stream), then TIME one drain appending the second half
        # — frozen-sidecar encode
        # (narrow map) + the id-only anti-join replay probe + the
        # partitioned append. Batch ∝ n and index ∝ n, so the claim
        # "per-batch cost scales with batch + one column-pruned id
        # scan" is exponent ~1; an accidental full decode or vector
        # shuffle shows superlinearly.
        root = tempfile.mkdtemp(prefix="probe_vmaint_")
        src, idx, ckpt = f"{root}/src", f"{root}/idx", f"{root}/ckpt"
        # bootstrap from n/4 (still ∝ n, so the replay anti-join scans
        # an index that grows with the probe size — the claim — while
        # the untimed build stays cheap); the timed drain appends n/2
        write_ivf_pq_index(
            vecs.filter(F.col("vec_id") < n // 4), idx,
            every=97, max_centroids=8, m=4, pq_k=8, pq_iters=0,
        )
        vecs.filter(F.col("vec_id") >= n // 2).write.mode(
            "append"
        ).parquet(src)
        t0 = time.time()
        vectors_maintain_run(
            spark, src, idx, ckpt,
            "vec_id long, embedding array<double>",
        )
        dt = time.time() - t0
        got = spark.read.parquet(idx).count()
        shutil.rmtree(root, ignore_errors=True)
        ops["vectors_maintain"] = (dt, got)

    if want("ann_nn_join"):
        reset_cache()
        import shutil
        import tempfile

        from web_api_postgres_etl_spark.operators.similarity import (
            ivf_pq_nn_join,
            write_ivf_pq_index,
        )

        # r12 batched read path: index over the FULL n-vector corpus
        # (untimed build), then TIME a FIXED 64-query table joined
        # against it. The claim: per-query work = nprobe/|C| of the
        # codes (broadcast routing, DPP, no index shuffle), so with
        # |Q| fixed the wall time is ~O(n) — a regression to a full
        # scan per query or an index shuffle shows superlinearly.
        root = tempfile.mkdtemp(prefix="probe_nnjoin_")
        idx = f"{root}/idx"
        write_ivf_pq_index(
            vecs, idx, every=max(n // 64, 1), max_centroids=8,
            m=4, pq_k=8, pq_iters=0,
        )
        queries = vecs.filter(
            F.col("vec_id") % F.lit(max(n // 64, 1)) == 3
        ).limit(64).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        t0 = time.time()
        got = ivf_pq_nn_join(queries, idx, k=10, nprobe=2).count()
        dt = time.time() - t0
        shutil.rmtree(root, ignore_errors=True)
        ops["ann_nn_join"] = (dt, got)

    if want("ann_recall_residual"):
        reset_cache()
        import shutil
        import tempfile

        from web_api_postgres_etl_spark.operators.similarity import (
            ann_recall_at_k,
            write_ivf_pq_index,
        )

        # r13 (VERDICT r12 #5): residual-vs-plain recall@10 at equal
        # nprobe on cluster+pattern geometry, runnable at the CLI's
        # 500k point (pytest pins the ≥2× claim at suite scale in
        # tests/test_dedup_similarity.py). Builds are ∝ n; the timed
        # phase is the two recall evaluations over a FIXED 24-query
        # sample — exact baseline broadcasts queries against one
        # corpus scan, so wall ~O(n). Result payload = (res, plain)
        # mean recall in 1e-4 units; res ≥ plain is the claim.
        pat = spark.range(n).selectExpr(
            "id AS vec_id",
            """transform(sequence(1, 32), i ->
                CAST((CAST(conv(substr(md5(concat('c#',
                  CAST(id % 8 AS STRING), '#',
                  CAST(i AS STRING))), 1, 6), 16, 10) AS DOUBLE)
                  / 16777215.0 - 0.5)
                + 0.35 * (CAST(conv(substr(md5(concat('p#',
                  CAST(CAST(id / 8 AS BIGINT) % 8 AS STRING), '#',
                  CAST(i AS STRING))), 1, 6), 16, 10) AS DOUBLE)
                  / 16777215.0 - 0.5)
                + 0.02 * (CAST(conv(substr(md5(concat('n#',
                  CAST(id AS STRING), '#', CAST(i AS STRING))), 1, 6),
                  16, 10) AS DOUBLE) / 16777215.0 - 0.5) AS DOUBLE)
             ) AS embedding""",
        ).selectExpr(
            "vec_id",
            "transform(embedding, x -> x / sqrt(aggregate(zip_with("
            "embedding, embedding, (a,b) -> a*b), 0.0D,"
            " (acc, v) -> acc + v))) AS embedding",
        ).persist()
        pat.count()
        root = tempfile.mkdtemp(prefix="probe_recall_")
        queries = pat.filter(
            F.col("vec_id") % F.lit(max(n // 24, 1)) == 5
        ).limit(24).select(F.col("vec_id").alias("query_id"), "embedding")
        for residual in (False, True):
            write_ivf_pq_index(
                pat, f"{root}/{'res' if residual else 'plain'}",
                every=97, max_centroids=8, m=4, pq_k=8, pq_iters=2,
                residual=residual,
            )
        t0 = time.time()
        means = {}
        for residual in (False, True):
            rows = ann_recall_at_k(
                queries, f"{root}/{'res' if residual else 'plain'}",
                pat, k=10, nprobe=2,
            ).collect()
            means[residual] = sum(r["recall"] for r in rows) / len(rows)
        dt = time.time() - t0
        pat.unpersist()
        shutil.rmtree(root, ignore_errors=True)
        ops["ann_recall_residual"] = (
            dt, (int(means[True] * 1e4), int(means[False] * 1e4))
        )

    if want("label_propagation"):
        reset_cache()
        from web_api_postgres_etl_spark.operators.graph import (
            label_propagation,
        )

        # fixed 3 rounds over an n-node block graph (ring-in-block +
        # sparse bridges — the q_label_propagation shape): per round
        # ONE equi-join + one (id, label, count) vote groupBy + one
        # struct-max argmax, all ∝ |edges| = ~2n. The exponent
        # isolates per-round cost; a lineage blow-up across the
        # checkpointed rounds or a vote-table explosion shows
        # superlinearly.
        nodes = spark.range(n).select(F.col("id"))
        ring = spark.range(n).selectExpr(
            "id AS id_a",
            "(id div 10) * 10 + ((id + 1) % 10) AS id_b",
        ).filter(F.col("id_b") < n)
        bridge = spark.range(n).filter("id % 40 = 0").selectExpr(
            "(id div 10) * 10 AS id_a",
            "(id div 10) * 10 + 10 AS id_b",
        ).filter(F.col("id_b") < n)
        edges = ring.unionByName(bridge).filter("id_a <> id_b")
        t0 = time.time()
        got = label_propagation(nodes, edges, rounds=3).count()
        ops["label_propagation"] = (time.time() - t0, got)

    # round 14: the three bench-HEADLINE LSH queries that read
    # 1.26-1.36x their r8 anchors in the r12/r13 driver artifacts (the
    # only family consistently up) — probed at increasing n so "load
    # noise" vs "a plan gone superlinear" is decided by exponent, not
    # argument. All three shuffle only (band_key, id) rows; candidate
    # pairs are the one term that grows n²·2^-bits, so the vector
    # probes widen bands to 16 bits (num_planes=32, the full synth
    # dim) — the stated scale rule: band WIDTH grows with log n, the
    # semantic_dup_pairs k≈√N discipline applied to banding. (The
    # bench queries themselves pin 16 planes / 8-bit bands because
    # their oracle replays the banding bit-for-bit at a FIXED sf.)
    if want("minhash_lsh_pairs"):
        reset_cache()
        from web_api_postgres_etl_spark.operators.dedup import (
            minhash_lsh_candidates,
        )

        t0 = time.time()
        got = minhash_lsh_candidates(
            docs, "doc_id", "text", shingle_n=2, num_hashes=8, bands=4
        ).count()
        ops["minhash_lsh_pairs"] = (time.time() - t0, got)

    if want("lsh_cosine_pairs"):
        reset_cache()
        from web_api_postgres_etl_spark.operators.similarity import (
            lsh_cosine_pairs,
        )

        t0 = time.time()
        got = lsh_cosine_pairs(
            vecs, "vec_id", "embedding",
            threshold=0.4, num_planes=32, bands=2, signature="axis",
        ).count()
        ops["lsh_cosine_pairs"] = (time.time() - t0, got)

    if want("lsh_nn_join"):
        reset_cache()
        from web_api_postgres_etl_spark.operators.similarity import (
            lsh_nn_join,
        )

        # left side scales with n (every 20th vector queries the
        # rest), so this measures the whole join growing on BOTH
        # sides; the planted every-20th exact copies guarantee every
        # probe size produces matches
        left = vecs.filter(F.col("vec_id") % 20 == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        right = vecs.filter(F.col("vec_id") % 20 != 0).select(
            F.col("vec_id").alias("neighbor_id"), "embedding"
        )
        t0 = time.time()
        got = lsh_nn_join(
            left, right, "query_id", "neighbor_id",
            k=2, num_planes=32, bands=2, signature="axis",
        ).count()
        ops["lsh_nn_join"] = (time.time() - t0, got)

    return ops


def scaling_exponents(results: dict[int, dict]) -> dict[str, list[tuple]]:
    """{op: [(n1, n2, exponent), ...]} for consecutive size pairs —
    exponent = log(t2/t1)/log(n2/n1); 1.0 is linear, 2.0 quadratic."""
    sizes = sorted(results)
    out: dict[str, list[tuple]] = {}
    for a, b in zip(sizes, sizes[1:]):
        for op in results[a]:
            if op not in results[b]:
                continue
            t1, t2 = results[a][op][0], results[b][op][0]
            if t1 <= 0:
                continue
            exp = math.log(t2 / t1) / math.log(b / a)
            out.setdefault(op, []).append((a, b, exp))
    return out


def main(argv: list[str]) -> int:
    sizes = [int(a) for a in argv] or [5_000, 50_000, 500_000]
    spark = get_spark(app_name="scale-probe")
    results: dict[int, dict] = {}
    for n in sizes:
        results[n] = probe(spark, n)
        for name, (secs, rows) in results[n].items():
            print(f"n={n:>7d}  {name:22s} {secs:7.2f}s  rows={rows}")
    if len(sizes) >= 2:
        for op, pairs in scaling_exponents(results).items():
            for a, b, exp in pairs:
                print(f"exponent {op:22s} {a}->{b}: {exp:5.2f}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
