"""End-to-end training-data preparation plan: every stage's effect is
observable in the output, and the whole chain is deterministic."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from web_api_postgres_etl_spark.plans.curation import (
    CurationConfig,
    prepare_training_data,
)

BASE = (
    "the quick brown fox jumps over the lazy dog and that dog would have "
    "to be quick with the pace of every chase through fields of tall grass "
    "while the sun was up and the wind kept low so that every creature "
    "could rest in the shade of the old oak tree near the river bend"
)
BENCH_TEXT = (
    "benchmark question about the capital of france and the longest river "
    "of europe with exactly enough words to form distinctive eight grams"
)


def _inputs(spark):
    docs = spark.createDataFrame(
        [
            (1, BASE + " first variant with extra tail words"),
            (2, BASE + " first variant with extra tail words"),   # exact dup of 1
            (3, BASE + " second variant with extra tail words"),  # near-dup of 1
            (4, "too short to pass the gopher gate"),
            (5, BASE + " " + BENCH_TEXT),                         # contaminated
            (6, "a wholly different account of harbor towns and that trade "
                "which moved with the tide while every merchant kept a ledger "
                "of salt and grain and the ships would have to wait for wind "
                "so the harbormaster read the sky and the crews mended nets "
                "with patient hands beneath the tall white light of the "
                "morning and the gulls carried on above the quiet water"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(BENCH_TEXT,)], "text string")
    return docs, bench


CFG = CurationConfig(
    ngram_n=8, shingle_n=2, num_hashes=8, bands=4,
    jaccard_threshold=0.5, chunk_words=16, window_tokens=64, num_shards=2,
)


def test_prepare_training_data_stage_effects(spark):
    docs, bench = _inputs(spark)
    out = prepare_training_data(docs, bench, config=CFG)
    rows = out.collect()
    kept_ids = {r["doc_id"] for r in rows}
    assert 4 not in kept_ids      # gopher word-count gate
    assert 5 not in kept_ids      # benchmark 8-gram overlap
    assert 2 not in kept_ids      # exact dup of 1
    assert 3 not in kept_ids      # near-dup cluster of 1 → min id survives
    assert 1 in kept_ids and 6 in kept_ids
    # packing invariants
    for r in rows:
        assert 0 <= r["pack_offset"] < CFG.window_tokens + CFG.chunk_words
        assert r["split"] in ("train", "val")
        assert 0 <= r["shard"] < CFG.num_shards
        assert r["n_chunk_words"] <= CFG.chunk_words
    # chunks reassemble the full scrubbed document
    doc1_words = sum(
        r["n_chunk_words"] for r in rows if r["doc_id"] == 1
    )
    n_words_doc1 = len((BASE + " first variant with extra tail words").split())
    assert doc1_words == n_words_doc1


def test_prepare_training_data_deterministic(spark):
    docs, bench = _inputs(spark)
    a = sorted(
        tuple(r)
        for r in prepare_training_data(docs, bench, config=CFG).collect()
    )
    b = sorted(
        tuple(r)
        for r in prepare_training_data(docs, bench, config=CFG).collect()
    )
    assert a == b and a


def test_prepare_training_data_on_testdata(spark):
    """Smoke at sf0.001: runs end to end, keeps a plausible fraction,
    and every output chunk traces to a surviving document."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 50 == 0).select("text")
    train = docs.filter(F.col("doc_id") % 50 != 0)
    out = prepare_training_data(train, bench, config=CurationConfig(
        min_gopher_rules=4, ngram_n=4, chunk_words=32,
        window_tokens=128, num_shards=4,
    ))
    n_chunks = out.count()
    n_docs = out.select("doc_id").distinct().count()
    assert 0 < n_docs < train.count()
    assert n_chunks >= n_docs


def test_repetition_gate_drops_boilerplate(spark):
    """With the optional repetition gate on, a spam document (one
    bigram dominating) is dropped while normal prose passes."""
    docs, bench = _inputs(spark)
    spam = " ".join(["buy now"] * 40)  # 40x the same bigram, 80 words
    docs = docs.union(
        spark.createDataFrame([(7, spam)], "doc_id long, text string")
    )
    from dataclasses import replace

    cfg = replace(CFG, max_top_ngram_frac=0.2, min_gopher_rules=2)
    out_ids = {
        r["doc_id"]
        for r in prepare_training_data(docs, bench, config=cfg).collect()
    }
    assert 7 not in out_ids
    assert 1 in out_ids  # prose passes the repetition gate


def test_url_dedup_and_domain_quota_stages(spark):
    """With url_col set, same-URL twins collapse before any text work
    and the optional per-domain cap bounds a bulk source."""
    from dataclasses import replace

    rows = [
        (1, BASE + " first variant", "https://a.com/page?utm_source=x"),
        (2, BASE + " second variant", "https://A.com/page/"),   # same URL normalized
        (3, BASE + " third variant", "https://b.org/x"),
    ]
    # bulk.com floods with distinct pages — quota must cap it
    rows += [
        (10 + i, BASE + f" bulk variant number {i}",
         f"https://bulk.com/p/{i}")
        for i in range(6)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, url string")
    bench = spark.createDataFrame([(BENCH_TEXT,)], "text string")
    cfg = replace(
        CFG, url_col="url", domain_quota=2,
        jaccard_threshold=0.99,  # text variants are NOT near-dups here
    )
    out_ids = {
        r["doc_id"]
        for r in prepare_training_data(docs, bench, config=cfg).collect()
    }
    assert 2 not in out_ids          # URL twin of 1 (min id survives)
    assert 1 in out_ids and 3 in out_ids
    assert len([i for i in out_ids if i >= 10]) == 2  # domain cap


def test_perplexity_gate_stage(spark):
    """max_ppl with a prose reference drops the gibberish document and
    keeps prose."""
    from dataclasses import replace

    gibberish = " ".join(f"zx{i}qv wk{i}nd" for i in range(30))
    docs, bench = _inputs(spark)
    docs = docs.union(
        spark.createDataFrame([(7, gibberish)], "doc_id long, text string")
    )
    ref = spark.createDataFrame(
        [(i, BASE) for i in range(3)], "doc_id long, text string"
    )
    # prose against this tiny reference scores ~50 ppl (most words seen
    # 3x), gibberish sits at the all-OOV floor ~400 — gate between them
    cfg = replace(CFG, min_gopher_rules=2, max_ppl=150.0, ppl_reference=ref)
    out_ids = {
        r["doc_id"]
        for r in prepare_training_data(docs, bench, config=cfg).collect()
    }
    assert 7 not in out_ids
    assert 1 in out_ids


def test_exact_substring_stage_cuts_boilerplate(spark):
    """exact_substring_k cuts a license header shared by otherwise
    unique documents; their unique text still lands in chunks."""
    from dataclasses import replace

    header = "this work is licensed under the creative commons attribution share alike license"
    docs = spark.createDataFrame(
        [
            (1, f"{header} {BASE}"),
            (2, f"{header} a wholly different account of harbor towns and "
                "that trade which moved with the tide while every merchant "
                "kept a ledger of salt and grain and the ships would have "
                "to wait for wind so the harbormaster read the sky and the "
                "crews mended nets with patient hands beneath the tall "
                "white light of the morning and the gulls carried on above "
                "the quiet water"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(BENCH_TEXT,)], "text string")
    cfg = replace(CFG, min_gopher_rules=4, exact_substring_k=6)
    out = prepare_training_data(docs, bench, config=cfg).collect()
    assert {r["doc_id"] for r in out} == {1, 2}
    joined = {d: " ".join(
        r["chunk_text"] for r in sorted(
            (x for x in out if x["doc_id"] == d), key=lambda x: x["chunk_idx"]
        )
    ) for d in (1, 2)}
    for d in (1, 2):
        assert "licensed" not in joined[d]
        assert "creative" not in joined[d]
    assert "quick brown fox" in joined[1]
    assert "harbor towns" in joined[2]


def test_pins_released_no_unbounded_growth(spark):
    """Repeated prepare_training_data calls in one session must not
    accumulate pinned RDDs when the caller uses the pins/release_pins
    hygiene contract — and the pins list must actually capture every
    persisted stage (incl. the optional ppl-stage model frame)."""
    from web_api_postgres_etl_spark.plans.curation import release_pins

    docs, bench = _inputs(spark)
    jsc = spark.sparkContext._jsc.sc()

    def n_persisted():
        return jsc.getPersistentRDDs().size()

    base = n_persisted()
    cfg = CurationConfig(
        ngram_n=8, shingle_n=2, num_hashes=8, bands=4,
        jaccard_threshold=0.5, chunk_words=16, window_tokens=64,
        num_shards=2, max_ppl=1e9,   # ppl gate ON → model pin exercised
    )
    for _ in range(3):
        pins = []
        out = prepare_training_data(docs, bench, config=cfg, pins=pins)
        assert out.count() > 0
        assert len(pins) >= 4          # gated, model tc, exact, pairs, ...
        release_pins(pins)
        assert pins == []
    assert n_persisted() <= base, (
        f"pinned RDDs grew {base} -> {n_persisted()} despite release_pins"
    )


def test_pins_are_checkpoint_scans(spark):
    """Every stage the plan pins is a local checkpoint (its plan is a
    one-node LogicalRDD scan), so the returned plan embeds no cached
    upstream tree."""
    from web_api_postgres_etl_spark.plans.curation import release_pins

    docs, bench = _inputs(spark)
    cfg = CurationConfig(
        ngram_n=8, shingle_n=2, num_hashes=8, bands=4,
        jaccard_threshold=0.5, chunk_words=16, window_tokens=64,
        num_shards=2, max_ppl=1e9, exact_substring_k=8,
    )
    pins = []
    out = prepare_training_data(docs, bench, config=cfg, pins=pins)
    try:
        kinds = [
            p._jdf.queryExecution().analyzed().getClass().getSimpleName()
            for p in pins
        ]
        # gated, model, clean, exact, candidates, shingles, labels,
        # clusters, split_docs
        assert len(kinds) == 9 and set(kinds) == {"LogicalRDD"}, kinds
        optimized = out._jdf.queryExecution().optimizedPlan().toString()
        assert "InMemoryRelation" not in optimized
        assert out.count() > 0
    finally:
        release_pins(pins)


def test_classifier_gate_stage(spark):
    """The optional model-based quality stage: with a model trained to
    reject spam, a planted spam doc that passes the loose rule gate is
    dropped; with the stage off it survives to the output."""
    from web_api_postgres_etl_spark.operators.classifier import (
        train_quality_classifier,
    )

    docs, bench = _inputs(spark)
    # spam long enough to clear the loose (>=4 rules) gopher gate
    spam_words = ("buy cheap click here best price limited offer win free "
                  "casino bonus claim now " * 8).strip()
    with_spam = docs.union(
        spark.createDataFrame([(90, spam_words)], "doc_id long, text string")
    )
    pos = docs.filter("doc_id in (1, 6)").select("text")
    neg = spark.createDataFrame(
        [("win win free free casino casino click click buy buy cheap "
          "cheap offer offer now now",)], "text string"
    )
    model = train_quality_classifier(pos, neg, num_features=1 << 12)

    base_cfg = CurationConfig(
        ngram_n=8, shingle_n=2, num_hashes=8, bands=4,
        jaccard_threshold=0.5, chunk_words=16, window_tokens=64,
        num_shards=2, min_gopher_rules=3,
    )
    out_off = prepare_training_data(with_spam, bench, config=base_cfg)
    ids_off = {r["doc_id"] for r in out_off.select("doc_id").distinct().collect()}
    assert 90 in ids_off  # rule gate alone lets the spam through

    gated_cfg = CurationConfig(
        ngram_n=8, shingle_n=2, num_hashes=8, bands=4,
        jaccard_threshold=0.5, chunk_words=16, window_tokens=64,
        num_shards=2, min_gopher_rules=3,
        quality_model=model, min_quality_prob=0.5,
    )
    out_on = prepare_training_data(with_spam, bench, config=gated_cfg)
    ids_on = {r["doc_id"] for r in out_on.select("doc_id").distinct().collect()}
    assert 90 not in ids_on          # the model catches it
    assert ids_on & {1, 6}           # good docs still flow through


def test_c4_rules_stage(spark):
    """c4_line_rules=True drops brace/lorem/short pages and rebuilds
    survivors from their retained lines before any other gate."""
    from dataclasses import replace

    prose = (
        "The quick brown fox jumps over the lazy dog near the river bend.\n"
        "menu home about\n"
        "Every merchant kept a ledger of salt and grain through the season.\n"
        "The harbormaster read the sky while patient crews mended their nets."
    )
    docs = spark.createDataFrame(
        [
            (1, prose),
            (2, "function f() {\nThis page looks like source code overall.\n}"),
            (3, "Lorem ipsum dolor sit amet filler text here.\n"
                "A second real sentence to keep the page long enough today.\n"
                "A third real sentence to keep the page long enough today."),
            (4, "no punctuation on this line at all\nshort one\ntiny"),
            (5, None),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(BENCH_TEXT,)], "text string")
    cfg = replace(
        CFG, c4_line_rules=True, min_gopher_rules=0, chunk_words=64,
    )
    out = prepare_training_data(docs, bench, config=cfg)
    rows = out.collect()
    kept = {r["doc_id"] for r in rows}
    assert kept == {1}
    text = " ".join(
        r["chunk_text"] for r in sorted(rows, key=lambda r: r["chunk_idx"])
    )
    assert "menu home about" not in text     # short nav line cut
    assert "harbormaster" in text            # real sentences retained


def test_c4_stage_rejects_reserved_columns(spark):
    from dataclasses import replace

    docs = spark.createDataFrame(
        [(1, "Some fine sentence with plenty of words here.", True)],
        "doc_id long, text string, __c4 boolean",
    )
    bench = spark.createDataFrame([(BENCH_TEXT,)], "text string")
    with pytest.raises(ValueError, match="__c4"):
        prepare_training_data(
            docs, bench, config=replace(CFG, c4_line_rules=True)
        )


def test_ppl_gate_from_prebuilt_model_table(spark):
    """ppl_model_counts (the persisted-model production shape) keeps
    the same documents as counting the reference corpus in-plan."""
    from dataclasses import replace

    from web_api_postgres_etl_spark.operators.retrieval import (
        build_unigram_model,
    )

    docs, bench = _inputs(spark)
    ref = docs.filter(docs.doc_id == 6).select("text")
    cfg_corpus = replace(
        CFG, min_gopher_rules=2, max_ppl=150.0, ppl_reference=ref,
    )
    cfg_table = replace(
        CFG, min_gopher_rules=2, max_ppl=150.0,
        ppl_model_counts=build_unigram_model(ref, "text"),
    )
    a = {r["doc_id"] for r in
         prepare_training_data(docs, bench, config=cfg_corpus).collect()}
    b = {r["doc_id"] for r in
         prepare_training_data(docs, bench, config=cfg_table).collect()}
    assert a == b and a


def test_winnow_pairs_stage(spark):
    """Two long documents sharing a verbatim passage but dissimilar
    overall (2-gram Jaccard far below threshold) survive as separate
    docs by default; with the winnow stage on they cluster and only
    the min id survives."""
    shared = (
        "every engine in this fleet was assembled from the same casting "
        "and the same bolts torqued in the same order by the same crew "
        "on the same line under the same roof season after season"
    )
    docs = spark.createDataFrame(
        [
            (1, shared + " while the first chronicle wanders through "
                "orchards and markets and the slow bargaining of farmers "
                "over crates of apples and pears beneath a pale morning sun "
                "that never seemed to hurry anyone along the dusty road"),
            (2, shared + " but the second chronicle follows rivers and "
                "bridges and the patient work of masons setting stone after "
                "stone into arches that would outlast every name carved on "
                "them while barges drifted quietly underneath the spans"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(BENCH_TEXT,)], "text string")
    base = prepare_training_data(docs, bench, config=CFG)
    assert {r["doc_id"] for r in base.collect()} == {1, 2}
    from dataclasses import replace

    winnowed = prepare_training_data(
        docs, bench, config=replace(CFG, winnow_min_shared=3)
    )
    assert {r["doc_id"] for r in winnowed.collect()} == {1}


def test_exact_jaccard_stage(spark):
    """exact_jaccard=True swaps the pair generator for the
    completeness-guaranteed prefix-filtered join: twins above the
    threshold collapse exactly as with MinHash (here), the spine is
    otherwise unchanged, and the default-off flag leaves the contract
    output untouched."""
    from dataclasses import replace

    base_body = (
        "the quick brown fox jumps over the lazy dog near the river "
        "bank while light settles on the water and the ferry crew "
        "loads crates of apples onto the deck as gulls circle the "
        "masts and the harbormaster checks the morning manifest "
        "against the chalkboard schedule posted beside the office "
        "door where travelers wait with tickets and worn luggage"
    )
    other_body = (
        "a completely different report about municipal budget "
        "allocations and the slow grind of committee procedure where "
        "councilors debated the paving schedule for the northern "
        "district reviewed three contractor bids compared warranty "
        "terms line by line and finally adjourned after scheduling a "
        "site inspection for the second week of the following month"
    )
    docs = spark.createDataFrame(
        [
            (1, base_body + " morning"),
            (2, base_body + " evening"),
            (3, other_body),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(BENCH_TEXT,)], "text string")
    out = prepare_training_data(
        docs, bench, config=replace(CFG, exact_jaccard=True)
    )
    kept = {r["doc_id"] for r in out.collect()}
    assert kept == {1, 3}  # twins collapsed to min id; distinct doc kept


def test_sentence_dedup_stage(spark):
    """sentence_dedup_max_docs strips a boilerplate sentence glued
    mid-line across docs before gating; off by default."""
    from dataclasses import replace

    boiler = ("Click here to subscribe to our newsletter and never miss "
              "a single update from our editorial desk again.")
    d1 = (BASE + ". " + boiler + " More original prose follows here.")
    d2 = ("a wholly different account of harbor towns and the trade "
          "which moved with the tide while every merchant kept a ledger "
          "of salt and grain. " + boiler)
    d3 = ("the third document speaks of mountain paths and the slow "
          "seasons of orchards where patient keepers pruned each row. "
          + boiler)
    docs = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3)], "doc_id long, text string"
    )
    bench = spark.createDataFrame([(BENCH_TEXT,)], "text string")
    cfg = replace(
        CFG, sentence_dedup_max_docs=2, min_gopher_rules=0, chunk_words=64,
    )
    out = prepare_training_data(docs, bench, config=cfg).collect()
    assert {r["doc_id"] for r in out} == {1, 2, 3}
    joined = " ".join(r["chunk_text"] for r in out)
    assert "subscribe" not in joined  # in 3 docs > max_docs=2 → stripped
    assert "orchards" in joined

    # default off: the boilerplate survives
    out_off = prepare_training_data(
        docs, bench, config=replace(CFG, min_gopher_rules=0, chunk_words=64)
    ).collect()
    assert "subscribe" in " ".join(r["chunk_text"] for r in out_off)


def test_survivor_score_stage(spark):
    """survivor_score_col keeps the best-scored member of each near-dup
    cluster instead of the min id; split keying is unchanged (cluster
    labels stay min-reachable-id)."""
    from dataclasses import replace

    bench = spark.createDataFrame([(BENCH_TEXT,)], "text string")
    cfg = replace(
        CFG, survivor_score_col="score", min_gopher_rules=0, chunk_words=64,
    )
    # EXACT duplicates are deduped to min id BEFORE clustering (their
    # score-choice behavior is exact-dedup's, pinned in its own tests),
    # so the score stage is about NEAR dups — one plan run, r12 trim
    # of a second run that only asserted survival of the unique doc
    docs2 = spark.createDataFrame(
        [
            (1, BASE + " first variant with extra tail words", 0.2),
            (2, BASE + " first variant with extra tail phrase", 0.9),
            (6, "a wholly different account of harbor towns and that trade "
                "which moved with the tide while every merchant kept a "
                "ledger of salt and grain and the ships would have to wait "
                "for wind so the harbormaster read the sky and the crews "
                "mended nets with patient hands beneath the tall white "
                "light of the morning and the gulls carried on", 0.5),
        ],
        "doc_id long, text string, score double",
    )
    out2 = prepare_training_data(docs2, bench, config=cfg).collect()
    kept2 = {r["doc_id"] for r in out2}
    assert kept2 == {2, 6}  # score 0.9 beats min id 1

    import pytest as _pt
    with _pt.raises(ValueError, match="survivor_score_col"):
        prepare_training_data(
            docs2.drop("score"), bench, config=cfg
        )


def test_sentence_dedup_composes_with_survivor_score(spark):
    """The two stages together (the config interaction that once
    dropped metadata columns): sentence dedup must preserve the score
    column for the survivor stage, and both effects must land."""
    from dataclasses import replace

    boiler = ("Click here to subscribe to our newsletter and never miss "
              "a single update from our editorial desk again.")
    docs = spark.createDataFrame(
        [
            (1, BASE + " first variant with extra tail words. " + boiler,
             0.2),
            (2, BASE + " first variant with extra tail phrase. " + boiler,
             0.9),
            (6, "a wholly different account of harbor towns and that "
                "trade which moved with the tide while every merchant "
                "kept a ledger of salt and grain beneath morning light. "
                + boiler, 0.5),
        ],
        "doc_id long, text string, score double",
    )
    bench = spark.createDataFrame([(BENCH_TEXT,)], "text string")
    cfg = replace(
        CFG, sentence_dedup_max_docs=2, survivor_score_col="score",
        min_gopher_rules=0, chunk_words=64,
    )
    out = prepare_training_data(docs, bench, config=cfg).collect()
    kept = {r["doc_id"] for r in out}
    assert kept == {2, 6}  # near-dup cluster {1,2}: score 0.9 wins
    assert "subscribe" not in " ".join(r["chunk_text"] for r in out)


def test_bpe_pack_stage(spark):
    """With bpe_pack_rules set, packing windows count REAL subword
    tokens: every chunk gains n_bpe_tokens = the exact bpe_apply
    segmentation size, multi-chunk packs respect the window under
    THOSE counts, and the default-off run neither adds the column nor
    changes its packs (the stage-default-off contract rule)."""
    from dataclasses import replace

    from web_api_postgres_etl_spark.operators.retrieval import (
        bpe_apply,
        bpe_merge_rules,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(120)
    bench = docs.filter(F.col("doc_id") % 50 == 0).select("text")
    train = docs.filter(F.col("doc_id") % 50 != 0)
    base_cfg = CurationConfig(
        min_gopher_rules=4, ngram_n=4, chunk_words=32,
        window_tokens=40, num_shards=2,
    )
    rules = [
        (r["lhs"], r["rhs"])
        for r in bpe_merge_rules(train, "text", rounds=4).collect()
    ]
    cfg = replace(base_cfg, bpe_pack_rules=rules)

    out = prepare_training_data(train, bench, config=cfg)
    rows = out.collect()
    assert rows and "n_bpe_tokens" in out.columns
    # exact per-chunk counts: recompute independently from chunk_text
    chk = bpe_apply(out, "chunk_text", rules, out_col="__re").select(
        "n_bpe_tokens", F.size("__re").alias("__n")
    ).collect()
    assert all(r["n_bpe_tokens"] == r["__n"] for r in chk)
    # the pack invariant under the BPE counts (first-token binning:
    # every member STARTS inside its window; overflow-by-one-doc is
    # pack_sequences' documented semantics, so totals may exceed):
    # offsets sit in [0, window) and within a pack they are the
    # exclusive running sum of the BPE counts in offset order
    by_pack: dict = {}
    for r in rows:
        by_pack.setdefault(
            (r["split"], r["shard"], r["pack_id"]), []
        ).append((r["pack_offset"], r["n_bpe_tokens"]))
    for key, members in by_pack.items():
        members.sort()
        run = members[0][0]
        assert 0 <= run < cfg.window_tokens, (key, members)
        for off, n in members:
            assert off == run, (key, members)
            run += n

    off = prepare_training_data(train, bench, config=base_cfg)
    assert "n_bpe_tokens" not in off.columns

    # tokenizer-real rule counts: past the chained-plan cap the stage
    # switches to the Arrow kernel (mined-order rules by construction)
    # — counts must equal a direct kernel recomputation
    from web_api_postgres_etl_spark.operators.retrieval import (
        _BPE_MAX_CHAIN,
        bpe_apply_arrow,
    )

    big: list = []
    for ch in "abcdefghijklmnopqrstuvwxyz":
        run = ch
        for _ in range(24):
            big.append((run, ch))
            run = run + ch
    assert len(big) > _BPE_MAX_CHAIN
    out_big = prepare_training_data(
        train, bench, config=replace(base_cfg, bpe_pack_rules=big)
    )
    chk2 = bpe_apply_arrow(out_big, "chunk_text", big, out_col="__re").select(
        "n_bpe_tokens", F.size("__re").alias("__n")
    ).collect()
    assert chk2 and all(r["n_bpe_tokens"] == r["__n"] for r in chk2)


def test_dsir_selection_stage(spark):
    """With dsir_target_counts set, the plan selects documents by DSIR
    importance before dedup/split: the gate form keeps exactly the
    docs whose standalone dsir_logratio clears the threshold, the
    resample form draws exactly n of them (reproducing the standalone
    weighted_sample_exact_n draw under the same salt), composing both
    intersects, an unconfigured mode raises, and the default-off run
    is unchanged (the stage-default-off contract rule)."""
    from dataclasses import replace

    import pytest as pt

    from web_api_postgres_etl_spark.operators.retrieval import (
        build_unigram_model,
        dsir_logratio,
    )
    from web_api_postgres_etl_spark.operators.sampling import (
        weighted_sample_exact_n,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(150)
    bench = docs.filter(F.col("doc_id") % 50 == 0).select("text")
    train = docs.filter(F.col("doc_id") % 50 != 0)
    target = build_unigram_model(train.filter(F.col("lang") == "en"))
    base_cfg = CurationConfig(
        min_gopher_rules=4, ngram_n=4, chunk_words=32, num_shards=2,
    )
    with pt.raises(ValueError, match="neither dsir_min_logratio"):
        prepare_training_data(
            train, bench,
            config=replace(base_cfg, dsir_target_counts=target),
        )

    out_off = prepare_training_data(train, bench, config=base_cfg)
    off_rows = sorted(tuple(r) for r in out_off.collect())
    off_ids = {r[0] for r in off_rows}

    # a non-binding gate composed with a non-binding draw (n >= pool)
    # is a NO-OP: the plan output is bit-identical to default-off —
    # one run exercises both forms' pass-through paths including the
    # clamp/exp weight computation (token-less NULL-score docs never
    # reach this stage: the rule gate already cut them)
    cfg_noop = replace(
        base_cfg, dsir_target_counts=target, dsir_min_logratio=-1e9,
        dsir_sample_n=10_000,
    )
    noop_rows = sorted(
        tuple(r)
        for r in prepare_training_data(train, bench, config=cfg_noop)
        .collect()
    )
    assert noop_rows == off_rows

    # binding gate + binding draw in ONE run: the gate cuts docs and
    # at most n flow through (later stages can still drop selected
    # docs — decontamination, dedup). NOTE: selection changes near-dup
    # survivor choice downstream, so the doc set is NOT a subset of
    # the default-off run's — by design, not a bug. Draw determinism
    # under a fixed salt is weighted_sample_exact_n's own pinned
    # contract (tests/test_sampling.py + the dsir composition test).
    cfg_on = replace(
        base_cfg, dsir_target_counts=target, dsir_min_logratio=0.0,
        dsir_sample_n=25, dsir_salt="r12",
    )
    out_on = prepare_training_data(train, bench, config=cfg_on)
    on_ids = {r["doc_id"] for r in out_on.select("doc_id").collect()}
    assert 0 < len(on_ids) <= 25
    assert len(on_ids) < len(off_ids)

    # hashed form (dsir_hashed_buckets): the paper-faithful feature
    # space drives the same stage — a non-binding gate+draw is again a
    # bit-identical NO-OP, proving the wiring end to end
    from web_api_postgres_etl_spark.operators.retrieval import (
        build_hashed_ngram_model,
    )

    htarget = build_hashed_ngram_model(
        train.filter(F.col("lang") == "en"), buckets=512
    )
    cfg_h = replace(
        base_cfg, dsir_target_counts=htarget, dsir_hashed_buckets=512,
        dsir_min_logratio=-1e9, dsir_sample_n=10_000,
    )
    h_rows = sorted(
        tuple(r)
        for r in prepare_training_data(train, bench, config=cfg_h)
        .collect()
    )
    assert h_rows == off_rows
