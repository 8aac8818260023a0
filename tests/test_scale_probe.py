"""Systematic superlinearity guard (VERDICT r4 #5): the heavy
curation/dedup operators must grow SUB-QUADRATICALLY in corpus size.
The probe caught fixed-k SemDeDup going quadratic in round 4; this
test makes that protection permanent instead of one-off.

Sizes are a compressed version of the CLI's 5k/50k/500k sweep so the
suite stays runnable (two points, 5× apart — a quadratic op still
shows unmistakably: 25× vs 5×; the CLI keeps the full three-point
sweep for deeper runs). Exponent = log(t2/t1)/log(n2/n1); fixed
per-job overhead biases it BELOW 1, so a 1.5 bar has wide noise
margin while catching any O(n²) regression."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.scale_probe import probe, scaling_exponents  # noqa: E402

SIZES = [5_000, 25_000]
OPS = {
    "near_dup_pairs", "semantic_dup_pairs", "prepare_training_data",
    # round 6: the two newest shuffle-bearing ops (ExactSubstr's
    # interval-merge masking + the unigram LM gate)
    "exact_substring_dedup", "unigram_perplexity",
    # round 6 second wave: the bigram LM (pair-explode + joins) and
    # the LSH-banded semantic decontamination
    "bigram_perplexity", "decontaminate_semantic",
    # round 6 third wave: winnowing fingerprints (let-bound HOF gram
    # pass + fingerprint-banded pair join)
    "winnow_dup_pairs",
    # round 6 fourth wave: PMI collocations (double corpus explode +
    # two vocabulary joins), the SCD2 two-window build, the df-capped
    # sparse-cosine index join, and the pre-join cardinality profile
    "collocations", "scd2_history", "tfidf_cosine_pairs",
    "join_cardinality_profile",
    # round 7: the deletion-neighborhood fuzzy family (O(len^k)
    # per-row fan-out worth an empirical exponent), the k-stage
    # funnel (chained stage joins), the 9-way n-gram repetition
    # explode, and the per-session path collect
    "fuzzy_dup_pairs", "resolve_entities", "funnel",
    "gopher_repetition", "top_paths",
    # round 8: the iterative integer PageRank loop (per-round
    # localCheckpoint/release — the one place a lineage blow-up hides),
    # the degree-oriented wedge join (hub-biased dst — where a naive
    # orientation explodes), the salted bottom-k quantile state, and
    # the bloom build+gate (explode + bit-OR + 1-row broadcast probe)
    "pagerank", "triangle_counts", "quantile_sample_state", "bloom_gate",
    # round 8 second wave: the prefix-filtered EXACT Jaccard self-join
    "jaccard_join_prefix",
    # round 9: the quantized-ANN scan (per-row HOF fold must be linear
    # in dim, top-k must be TakeOrderedAndProject — no global sort),
    # the A-ES weighted draw (one narrow map + per-partition top-n),
    # and the k-core peel loop (fixed-round pendant-layer graph, so the
    # exponent isolates per-round cost from the round count)
    "ann_topk_quantized", "weighted_sample_exact_n", "k_core",
    # round 10: the sentence-granularity corpus dedup (digest-count +
    # reassembly shuffles with a broadcast ban set — the shape that
    # goes superlinear if the ban set or regroup degrades) and the
    # HTML strip chain (a pure regex map: wall time must track bytes,
    # no shuffle at all)
    "dedup_corpus_sentences", "html_to_text",
    # round 10 second wave: incremental component maintenance (the
    # touched-region recompute + untouched anti-join passthrough at a
    # FIXED ~10% affected fraction) and the PQ encode projection
    # (m·k literal fold distances per row — must stay a narrow map)
    "merge_components", "pq_encode",
    # round 10 third wave: the boilerplate document-frequency miner
    # (per-doc-distinct explode + one (gram, count) shuffle with the
    # broadcast ride-along total — must stay one linear pass)
    "mine_boilerplate_ngrams",
    # round 11: the two r10 streaming faces measured end-to-end (label
    # maintenance at a fixed ~10% affected fraction through the full
    # delta+upsert+stream path; IVF-PQ ingest with frozen-sidecar
    # encode + the id-only replay anti-join) and the JL sign random
    # projection as a narrow map (size() filter defeats projection
    # pruning)
    "clusters_maintain", "vectors_maintain", "jl_project",
    # round 12: the batched IVF-PQ NN join (FIXED 64-query table vs an
    # n-vector index — broadcast routing + DPP must keep per-query
    # work at nprobe/|C| of the codes, so wall time ~O(n); an index
    # shuffle or per-query full scan shows superlinearly) and
    # synchronous LPA at fixed rounds (per round one equi-join + one
    # vote groupBy + one argmax, all ∝ |edges|; the exponent isolates
    # per-round cost from the checkpointed round loop)
    "ann_nn_join", "label_propagation",
    # round 14: the three bench-HEADLINE LSH queries that drifted
    # 1.26-1.36x in the r12/r13 driver artifacts — exponents decide
    # load-noise vs a real superlinear plan (VERDICT r13 #5)
    "minhash_lsh_pairs", "lsh_cosine_pairs", "lsh_nn_join",
}


def test_heavy_ops_subquadratic(spark):
    results = {n: probe(spark, n, ops_filter=OPS) for n in SIZES}
    exps = scaling_exponents(results)
    assert set(exps) == OPS
    # wall-clock exponents flake when ONE measurement lands on a host
    # load spike (shared box; observed in-suite under full-suite
    # contention) — re-measure only the apparent offenders once and
    # take the retry ONLY if it clears the gate with margin (< 1.4,
    # tighter than the 1.5 assertion): an op genuinely hovering at the
    # threshold must not pass on a lucky re-measure, while a real
    # quadratic regression (25x vs 5x) survives any single re-measure.
    suspects = {
        op for op, pairs in exps.items() if pairs[-1][2] >= 1.5
    }
    if suspects:
        retry = {n: probe(spark, n, ops_filter=suspects) for n in SIZES}
        retry_exps = scaling_exponents(retry)
        for op in suspects:
            if retry_exps[op][-1][2] < 1.4:
                exps[op] = retry_exps[op]
                for n in SIZES:
                    results[n][op] = retry[n][op]
    for op, pairs in exps.items():
        a, b, exp_top = pairs[-1]  # the two largest sizes
        assert exp_top < 1.5, (
            f"{op} grows superlinearly: exponent {exp_top:.2f} "
            f"between n={a} and n={b} (all pairs: {pairs})"
        )
        # output sanity: the synthetic corpus guarantees hits at
        # every size, so a zero-row result means the op silently broke
        for n in SIZES:
            assert results[n][op][1] > 0, (op, n, results[n][op])


def test_pagerank_per_iteration_cost_is_flat(spark):
    """The iterative loop's localCheckpoint/release contract, measured:
    with flat lineage each extra iteration costs the same, so a run of
    12 iterations must take well under 4x a run of 3 (it would without
    checkpointing — lineage would DOUBLE the work per extra round and
    canonicalization would balloon). Ratio bound 4x the ideal permits
    scheduling noise while failing any geometric growth."""
    import time

    from pyspark.sql import functions as F

    from web_api_postgres_etl_spark.operators.graph import pagerank
    from web_api_postgres_etl_spark.plans.curation import release_pins

    n = 5_000
    nodes = spark.range(n).select(F.col("id"))
    edges = (
        spark.range(n)
        .select(
            F.col("id").alias("src"),
            F.explode(F.sequence(F.lit(1), F.lit(4))).alias("k"),
        )
        .select("src", F.pmod(F.hash("src", "k"), F.lit(n)).alias("dst"))
    )
    times = {}
    for iters in (3, 12):
        pins: list = []
        t0 = time.time()
        pagerank(nodes, edges, iterations=iters, pins=pins).count()
        times[iters] = time.time() - t0
        release_pins(pins)
    # ideal ratio = 4 (12/3 iterations); geometric lineage growth gives
    # >> 16x. One warm-up-free re-measure on a flake, like the sweep.
    ratio = times[12] / max(times[3], 1e-9)
    if ratio >= 8.0:
        for iters in (3, 12):
            pins = []
            t0 = time.time()
            pagerank(nodes, edges, iterations=iters, pins=pins).count()
            times[iters] = time.time() - t0
            release_pins(pins)
        ratio = times[12] / max(times[3], 1e-9)
    assert ratio < 8.0, (
        f"pagerank per-iteration cost grows: 12 iters took {ratio:.1f}x "
        f"the 3-iter run (flat lineage ~4x): {times}"
    )
