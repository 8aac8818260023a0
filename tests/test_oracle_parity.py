"""Mirror of the driver's correctness gate: every queries() entry with
an oracle_sql() must match DuckDB on row count, column names, and
order-insensitive values at sf0.01."""

from __future__ import annotations

import math

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_ORACLE

ORACLES = entrymod.oracle_sql()
QUERIES = entrymod.queries()


def _canon(val):
    if val is None:
        return ("<null>",)
    if isinstance(val, float):
        if math.isnan(val):
            return ("<nan>",)
        return ("f", repr(val))
    return (type(val).__name__, str(val))


def _rows_canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_canon(r[i]) for i in order) for r in rows]
    out.sort()
    return out


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(name, spark, oracle):
    sdf = QUERIES[name](spark, SF_ORACLE)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]

    res = oracle.execute(ORACLES[name])
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()

    assert sorted(s_cols) == sorted(d_cols), f"{name}: column names differ"
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count {len(s_rows)} (spark) vs {len(d_rows)} (duckdb)"
    )
    s_canon = _rows_canon(s_cols, s_rows)
    d_canon = _rows_canon(d_cols, d_rows)
    mismatches = [
        (a, b) for a, b in zip(s_canon, d_canon) if a != b
    ]
    assert not mismatches, f"{name}: {len(mismatches)} differing rows; first: {mismatches[0]}"


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_query_runs(name, spark):
    sdf = QUERIES[name](spark, SF_ORACLE)
    assert sdf.columns
    assert sdf.count() >= 0


# Entries swapped out of the driver's 50-slot window keep their oracle
# parity HERE so no validation is lost (same pattern as
# test_multimodal.py's retired resize slot): P1-P3 and A1 remain
# driver-covered inside stg_transform / p6_watermark_delta; these pin
# the standalone forms.
RETIRED = [
    ("p123_project", "SQL_P123"),
    ("a1_max_watermark", "SQL_A1"),
    ("ann_cosine_pairs", "SQL_ANN_PAIRS"),
    # r6: swapped for url_curation (strict subset of minhash_lsh_pairs'
    # signature construction, which stays driver-visible)
    ("minhash_signature", "SQL_MINHASH"),
    # r6: swapped for corpus_ingest_replay (all-pairs exact baseline;
    # the same Jaccard verify math stays inside near_dup_pipeline)
    ("ngram_jaccard_pairs", "SQL_JACCARD"),
    # r6 second wave — slots given to the newest curation operators:
    # brute NN-join baseline → bigram_ppl_gate (cosine math stays
    # pinned by ann_cosine_topk; the scale path lsh_nn_join stays
    # driver-visible)
    ("ann_nn_join", "SQL_NN_JOIN"),
    # expand-based distinct agg → data_recipe_mix
    ("agg_distinct", "SQL_AGG_DISTINCT"),
    # semi/anti join → classifier_quality (the same join shapes stay
    # driver-visible inside the decontamination stages of
    # curation_pipeline / training_data_e2e)
    ("j34_semi_anti_join", "SQL_J34"),
    # r6 third wave: frame-sample fan-out → winnow_dup_pairs
    # (multimodal keeps two driver rows — stats + features; since
    # s8_dim_date retired too, no driver-graded entry has the
    # sequence+explode fan-out shape: only the parity of this row and
    # of s8_dim_date below checks it)
    ("multimodal_frame_sample", "SQL_FRAME_SAMPLE"),
    # r6 fourth wave: tumbling-window agg → scd2_history (the same
    # F.window shape stays driver-visible in t5_watermark_late_drop's
    # streaming windowed aggregate)
    ("agg_time_window", "SQL_TIME_WINDOW"),
    # r6 fourth wave: metadata-only media profile → collocations (the
    # Arrow mapInPandas path stays driver-visible via
    # multimodal_features; the groupBy-over-meta shape is generic)
    ("multimodal_stats", "SQL_MULTIMODAL_STATS"),
    # r6 fourth wave: RHP top-k → event_transitions (RHP banding stays
    # driver-visible via lsh_nn_join — and since r7 lsh_cosine_pairs
    # is itself retired below — the cosine fold via ann_cosine_topk)
    ("rhp_lsh_topk", "SQL_RHP_TOPK"),
    # r7: persisted-IVF probe → funnel (its oracle was a literal
    # duplicate of ann_ivf_topk's, which stays driver-visible; the
    # probe ≡ in-memory equality is exactly this retired row)
    ("ivf_index_probe", "SQL_IVF_TOPK"),
    # r7: 2-way equi-join → resample_rolling (a strict sub-plan of the
    # still-green flagship_star_join)
    ("j2_two_way_join", "SQL_J2"),
    # r7: RHP cosine banding → fuzzy_dup_pairs (the sign-bit banding
    # stays driver-visible via lsh_nn_join, the cosine fold via
    # ann_ivf_topk / semantic_dup_pairs since r8 retired
    # ann_cosine_topk; this pins the axis-signature pair set)
    ("lsh_cosine_pairs", "SQL_LSH_COSINE_PAIRS"),
    # r8: brute-force cosine top-k → incr_agg_merge (the order-fixed
    # cosine fold stays driver-visible via ann_ivf_topk / lsh_nn_join
    # / semantic_dup_pairs; this pins the exact brute-force ranking)
    ("ann_cosine_topk", "SQL_ANN_TOPK"),
    # r8: salted join → pagerank (the oracle IS the plain join —
    # salting is relationally invisible; this row pins exactly that
    # salted ≡ plain invariance, and the equi-join shape stays
    # driver-visible via flagship_star_join / q3_topk_join_agg)
    ("j5_salted_join", "SQL_J5"),
    # r8: recursive dotted-name flatten → histogram_bucketize (the
    # same sources/json_flatten.flatten call is driver-checked inside
    # s1_rest_source; this row keeps the get_json_object face)
    ("s3_flatten_struct", "SQL_FLATTEN"),
    # r9: native set ops → jaccard_prefix_join (EXCEPT/INTERSECT are
    # thin wrappers over hash aggregates — this row keeps them pinned)
    ("set_ops", "SQL_SET_OPS"),
    # r9: keyed as-of join → bloom_join_gate (the as-of family stays
    # driver-visible via the harder keyless j7_asof_keyless and
    # resample_rolling's forward-fill; this row pins the keyed form)
    ("j6_asof_join", "SQL_J6"),
    # r9: batch session-window rollup → quantile_state_merge (session
    # shape stays driver-visible via funnel / event_transitions / the
    # t4 streaming face; batch≡stream convergence in test_streaming)
    ("agg_session_window", "SQL_SESSION_WINDOW"),
    # r9: array-of-structs element extraction → triangle_counts (F3
    # coverage keeps this row + test_operators' ground truth)
    ("f3_struct_array", "SQL_F3_STRUCT"),
    # r10: O2 last-wins window → cdc_table_apply (the same window
    # stays contract-checked inside t1_streaming_compact's compactor
    # and the CDC entry's own within-batch fold; this row keeps the
    # direct events-table face)
    ("o2_dedup_last_wins", "SQL_O2"),
    # r10: TPC-H Q1 global agg → tfidf_cosine_pairs (the
    # DECIMAL-routed groupBy-agg shape stays driver-visible via
    # agg_rollup / incr_agg_merge; q_agg_pricing_summary also stays in
    # the frozen bench HEADLINE)
    ("agg_pricing_summary", "SQL_AGG"),
    # r10: exact-dedup min-id survivor window → select_canonical (the
    # SAME shape upgraded — score-aware survivor with NULLS-LAST and
    # min-id fallback; the plain form also stays driver-visible inside
    # training_data_e2e's exact-dedup stage and stays in the frozen
    # bench HEADLINE)
    ("dedup_exact", "SQL_DEDUP_EXACT"),
    # r10: histogram faces → k_core (equi-width/equi-depth/bucketize
    # are thin column-expression wrappers over hash aggregates that
    # stay driver-visible via agg_rollup / incr_agg_merge / text_stats;
    # this row keeps all three faces pinned, incl. the quantile_cont
    # boundary bit-parity and the ties-to-first-bucket rule)
    ("histogram_bucketize", "SQL_HISTOGRAM_BUCKETIZE"),
    # r10: first-order transition matrix → pq_adc_topk (the lag-window
    # + count + P(to|from) division shape stays driver-visible via
    # funnel / w1_window_analytics; this row keeps the direct
    # events-table face)
    ("event_transitions", "SQL_EVENT_TRANSITIONS"),
    # r11: P6 high-watermark delta → cc_incremental_merge (the MAX
    # probe + newer-than range scan stays driver-visible inside
    # pipeline_e2e's incremental runner, which derives and applies
    # the same watermark delta; q_p6_watermark_delta also stays in
    # the frozen bench HEADLINE — this row keeps the direct
    # events-table face)
    ("p6_watermark_delta", "SQL_P6"),
    # r11: in-memory IVF cosine top-k → ivf_pq_probe_topk (the NEW row
    # composes the IDENTICAL coarse routing — same fixed-sample
    # centroids, same cos-DESC/cid-DESC ties — with ADC ranking over
    # the materialized index; the float cosine ranking stays
    # driver-visible via lsh_nn_join / semantic_dup_pairs and
    # q_ann_ivf_topk stays in the frozen bench HEADLINE — this row
    # keeps the in-memory cosine face)
    ("ann_ivf_topk", "SQL_IVF_TOPK"),
    # r11: PMI collocations → bpe_merge_rules (the adjacent-pair count
    # stays driver-visible via bigram_ppl_gate and the BPE row's own
    # per-round pair counts; this row keeps the PMI-lift ranking
    # pinned, exact-integer counts through pinned-order divisions)
    ("collocations", "SQL_COLLOCATIONS"),
    # r12: lag/lead/rank/moving-agg window analytics →
    # label_propagation (the window family stays driver-visible via
    # resample_rolling / scd2_history / funnel / select_canonical and
    # q_w1_window_analytics stays in the frozen bench HEADLINE; this
    # row keeps the direct multi-window events face)
    ("w1_window_analytics", "SQL_W1"),
    # r12: per-doc text statistics → dsir_gate (the stat column
    # expressions stay driver-visible inside curation_pipeline's gate
    # stages and q_text_stats stays in the frozen bench HEADLINE;
    # this row keeps the direct documents-table face)
    ("text_stats", "SQL_TEXT_STATS"),
    # r12: inline PQ ADC top-k → ivf_pq_nn_join (the ADC lookup
    # ranking stays driver-visible inside ivf_pq_probe_topk AND
    # per-pair inside the batched join row; this row keeps the
    # whole-corpus single-query ADC face)
    ("pq_adc_topk", "SQL_PQ_ADC_TOPK"),
    # r13: ordered funnel → pagerank_personalized (the staged
    # min-aggregate subsequence shape stays driver-visible via
    # t4_stateful_stream's per-user state machine; this row keeps the
    # events-table funnel face, incl. the conversion-window variant's
    # ground truth in test_operators.py)
    ("funnel", "SQL_FUNNEL"),
    # r13: point-in-interval range join → ann_rerank_topk (the
    # bucket-join shape stays driver-visible via j7_asof_keyless's
    # range buckets and resample_rolling's grid generation; this row
    # keeps the direct bucketed interval-join face)
    ("interval_join", "SQL_INTERVAL"),
    # r13: PIVOT wide aggregation → hybrid_retrieval (PIVOT is a thin
    # native wrapper over the hash-agg shape driver-visible via
    # agg_rollup / incr_agg_merge; this row keeps the month×type wide
    # table face)
    ("agg_pivot", "SQL_PIVOT"),
    # r14 rotated url_curation here for contamination_report; r15
    # re-added it to the driver contract, so its parity is driver-checked
    # again and it left this list.
    # s8_dim_date → classifier_quality, which r15's re-add of
    # url_curation had pushed to entry 51, outside the driver's
    # first-50 window (tests/test_dim_date.py pins the generator)
    ("s8_dim_date", "SQL_S8_DIM_DATE"),
]


@pytest.mark.parametrize("name,sql_attr", RETIRED)
def test_retired_contract_entries(name, sql_attr, spark, oracle):
    sdf = getattr(entrymod, f"q_{name}")(spark, SF_ORACLE)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    res = oracle.execute(getattr(entrymod, sql_attr))
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    assert sorted(s_cols) == sorted(d_cols)
    assert len(s_rows) == len(d_rows)
    assert _rows_canon(s_cols, s_rows) == _rows_canon(d_cols, d_rows)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert "revenue" in df.columns
