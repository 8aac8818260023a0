"""Model-based quality filtering (fastText-classifier stand-in):
planted separable corpora must be recovered, the gate must drop the
planted spam, scoring must be total (NULL/empty docs score by
intercept), and a refit on identical data must reproduce scores."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from web_api_postgres_etl_spark.operators.classifier import (
    classifier_gate,
    hashed_token_features,
    score_documents,
    train_quality_classifier,
)

GOOD = [
    "the committee reviewed the annual report and discussed the budget "
    "allocation for regional infrastructure over the coming fiscal year",
    "researchers measured the thermal conductivity of the alloy across a "
    "wide temperature range and published the complete dataset",
    "the novel follows a family through three generations of migration "
    "trade and quiet reinvention along the river delta",
    "students compared primary sources from the archive to reconstruct "
    "the chronology of the harbor's expansion",
    "the recipe calls for slow fermentation overnight which develops a "
    "deeper flavor in the final loaf",
    "engineers documented the bridge inspection findings and proposed a "
    "maintenance schedule for the support cables",
]
SPAM = [
    "buy cheap buy cheap buy cheap click here click here best price "
    "best price limited offer limited offer",
    "win win win free free free casino casino bonus bonus bonus claim "
    "now claim now claim now",
    "cheap pills cheap pills discount discount discount order order "
    "order fast shipping fast shipping",
    "click click click subscribe subscribe subscribe like like like "
    "follow follow follow now now now",
    "free money free money free money guaranteed guaranteed winner "
    "winner winner prize prize prize",
    "hot deals hot deals hot deals best best best offer offer offer "
    "today today today only only",
]


def _model(spark, n_feat=1 << 12):
    pos = spark.createDataFrame([(t,) for t in GOOD[:4]], "text string")
    neg = spark.createDataFrame([(t,) for t in SPAM[:4]], "text string")
    return train_quality_classifier(pos, neg, num_features=n_feat)


@pytest.fixture(scope="module")
def model(spark):
    """The default test model, fitted ONCE per module: the fit is
    deterministic (test_refit_reproduces_scores pins refit == original
    bit-for-bit), so sharing it changes no assertion — it only removes
    eight redundant ~3s LBFGS fits from the suite's wall time."""
    return _model(spark)


def test_classifier_recovers_planted_labels(spark, model):
    held_out = spark.createDataFrame(
        [(i, t) for i, t in enumerate(GOOD[4:] + SPAM[4:])],
        "doc_id long, text string",
    )
    scores = {
        r["doc_id"]: r["quality_prob"]
        for r in score_documents(held_out, "doc_id", "text", model).collect()
    }
    # held-out good docs (ids 0-1) above held-out spam (ids 2-3)
    assert min(scores[0], scores[1]) > max(scores[2], scores[3])


def test_classifier_gate_drops_spam(spark, model):
    mixed = spark.createDataFrame(
        [(i, t) for i, t in enumerate(GOOD + SPAM)],
        "doc_id long, text string",
    )
    kept = sorted(
        r["doc_id"]
        for r in classifier_gate(mixed, "doc_id", "text", model).collect()
    )
    assert kept == list(range(len(GOOD)))  # all good kept, all spam gone


def test_gate_runs_in_a_session_that_used_an_observation(spark, model):
    """Once a session has used an Observation, a SparkSession no longer
    serializes (Spark 4.1); the fitted model must not carry one (its
    training summary did) into the scoring tasks."""
    from pyspark.sql import Observation

    obs = Observation()
    spark.range(3).observe(obs, F.count(F.lit(1)).alias("n")).collect()
    assert obs.get["n"] == 3
    mixed = spark.createDataFrame(
        [(i, t) for i, t in enumerate(GOOD + SPAM)], "doc_id long, text string"
    )
    kept = sorted(r["doc_id"] for r in classifier_gate(mixed, "doc_id", "text", model).collect())
    assert kept == list(range(len(GOOD)))


def test_scoring_is_total_on_null_and_empty(spark, model):
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, GOOD[0])], "doc_id long, text string"
    )
    scores = score_documents(df, "doc_id", "text", model)
    rows = {r["doc_id"]: r["quality_prob"] for r in scores.collect()}
    assert set(rows) == {1, 2, 3}
    # NULL and empty featurize to the same empty vector → same score
    assert rows[1] == rows[2]
    assert rows[1] is not None


def test_refit_reproduces_scores(spark, model):
    m1, m2 = model, _model(spark)
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(GOOD + SPAM)],
        "doc_id long, text string",
    )
    s1 = {r["doc_id"]: r["quality_prob"]
          for r in score_documents(df, "doc_id", "text", m1).collect()}
    s2 = {r["doc_id"]: r["quality_prob"]
          for r in score_documents(df, "doc_id", "text", m2).collect()}
    for d in s1:
        assert s1[d] == pytest.approx(s2[d], abs=1e-6)


def test_hashed_features_shape_and_validation(spark):
    df = spark.createDataFrame([(1, "a b a")], "doc_id long, text string")
    out = hashed_token_features(df, "doc_id", "text", num_features=16)
    row = out.first()
    assert row["features"].size == 16
    assert sum(row["features"].toArray()) == 3.0  # raw counts, not binary
    with pytest.raises(ValueError, match="num_features"):
        hashed_token_features(df, "doc_id", "text", num_features=1)


def test_gate_on_testdata_is_deterministic(spark, model):
    """On the real documents table: gate twice, identical survivor
    sets, and the gate actually separates (keeps some, drops some) at
    the self-calibrated median threshold."""
    docs = (
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .select("doc_id", "text")
    )
    scores = score_documents(docs, "doc_id", "text", model)
    med = scores.agg(
        F.expr("percentile_approx(quality_prob, 0.5)")
    ).first()[0]
    kept1 = sorted(
        r["doc_id"]
        for r in classifier_gate(
            docs, "doc_id", "text", model, min_prob=med
        ).collect()
    )
    kept2 = sorted(
        r["doc_id"]
        for r in classifier_gate(
            docs, "doc_id", "text", model, min_prob=med
        ).collect()
    )
    assert kept1 == kept2
    assert 0 < len(kept1) < docs.count()


def test_gate_rejects_reserved_column_collisions(spark, model):
    df = spark.createDataFrame(
        [(1, "some text", 0.5)], "doc_id long, text string, probability double"
    )
    with pytest.raises(ValueError, match="probability"):
        classifier_gate(df, "doc_id", "text", model)


def test_export_token_weights_scores_match_hashed_model(spark, model):
    """The exported (token, weight) table reproduces model.transform
    EXACTLY for in-vocabulary documents (collisions included, weights
    quantized to 9 dp): sigmoid(decimal margin) == quality_prob within
    quantization, and the margin-0 gate equals the min_prob=0.5 gate."""
    import math

    from web_api_postgres_etl_spark.functions.text import normalized_tokens
    from web_api_postgres_etl_spark.operators.classifier import (
        classifier_gate_from_table,
        export_token_weights,
        score_from_token_weights,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(GOOD + SPAM)],
        "doc_id long, text string",
    )
    vocab = docs.select(F.explode(normalized_tokens("text")).alias("token"))
    weights, icpt = export_token_weights(model, vocab, "token")
    margins = {
        r["doc_id"]: float(r["margin"])
        for r in score_from_token_weights(
            docs, "doc_id", "text", weights, icpt
        ).collect()
    }
    probs = {
        r["doc_id"]: r["quality_prob"]
        for r in score_documents(docs, "doc_id", "text", model).collect()
    }
    for d, m in margins.items():
        # weights are 9-dp-quantized and probs 6-dp-rounded: agree to 1e-5
        assert 1 / (1 + math.exp(-m)) == pytest.approx(probs[d], abs=1e-5)
    kept_hash = sorted(
        r["doc_id"]
        for r in classifier_gate(docs, "doc_id", "text", model).collect()
    )
    kept_tab = sorted(
        r["doc_id"]
        for r in classifier_gate_from_table(
            docs, "doc_id", "text", weights, icpt
        ).collect()
    )
    assert kept_hash == kept_tab == list(range(len(GOOD)))


def test_score_from_token_weights_total_and_guarded(spark, model):
    """Tokenless/NULL docs keep their row at margin == intercept with
    n_scored_tokens 0; reserved-column collisions fail loudly."""
    from web_api_postgres_etl_spark.functions.text import normalized_tokens
    from web_api_postgres_etl_spark.operators.classifier import (
        export_token_weights,
        score_from_token_weights,
    )

    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, GOOD[0])], "doc_id long, text string"
    )
    vocab = docs.select(F.explode(normalized_tokens("text")).alias("token"))
    weights, icpt = export_token_weights(model, vocab, "token")
    rows = {
        r["doc_id"]: (r["margin"], r["n_scored_tokens"])
        for r in score_from_token_weights(
            docs, "doc_id", "text", weights, icpt
        ).collect()
    }
    assert set(rows) == {1, 2, 3}
    assert rows[1] == (icpt, 0) and rows[2] == (icpt, 0)
    assert rows[3][1] > 0

    bad = spark.createDataFrame([(1, "x", 2)], "doc_id long, text string, margin int")
    with pytest.raises(ValueError, match="collide"):
        score_from_token_weights(bad, "doc_id", "text", weights, icpt)

    # a flat dotted id column must group correctly, not struct-parse
    dotted = docs.withColumnRenamed("doc_id", "doc.id").withColumnRenamed(
        "text", "doc.text"
    )
    drows = {
        r["doc.id"]: (r["margin"], r["n_scored_tokens"])
        for r in score_from_token_weights(
            dotted, "doc.id", "doc.text", weights, icpt
        ).collect()
    }
    assert drows == rows


def test_pinned_contract_artifact_matches_a_fresh_fit(spark):
    """The literals pinned in __spark_entry__.py reproduce a fresh
    train+export at sf0.01 (same planted labeling, same family) — the
    artifact can always be regenerated, never goes stale silently."""
    import importlib

    from web_api_postgres_etl_spark.functions.text import normalized_tokens
    from web_api_postgres_etl_spark.operators.classifier import (
        export_token_weights,
    )

    em = importlib.import_module("__spark_entry__")
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    marker = F.array_contains(F.split(F.col("text"), " "), "vector")
    model = train_quality_classifier(
        docs.filter(marker), docs.filter(~marker),
        text_col="text", num_features=1 << 15,
    )
    vocab = docs.select(F.explode(normalized_tokens("text")).alias("token"))
    weights, icpt = export_token_weights(model, vocab, "token")
    got = {r["token"]: float(r["weight"]) for r in weights.collect()}
    want = {t: float(w) for t, w in em.PINNED_QUALITY_WEIGHTS}
    assert set(got) == set(want)
    for t in want:
        # L-BFGS is deterministic from zero init; allow last-ulp wiggle
        assert got[t] == pytest.approx(want[t], abs=1e-6), t
    assert float(icpt) == pytest.approx(
        float(em.PINNED_QUALITY_INTERCEPT), abs=1e-6
    )


def test_model_save_load_roundtrip(spark, tmp_path):
    """Saved and reloaded models score identically (the train-once /
    score-everywhere seam): same numFeatures, same 6-decimal probs."""
    from web_api_postgres_etl_spark.operators.classifier import (
        load_quality_model,
        save_quality_model,
        score_documents,
        train_quality_classifier,
    )

    pos = spark.createDataFrame(
        [(i, "clean prose sentence number %d here" % i) for i in range(20)],
        "id long, text string",
    )
    neg = spark.createDataFrame(
        [(i, "buy cheap pills casino bonus %d" % i) for i in range(20)],
        "id long, text string",
    )
    model = train_quality_classifier(pos, neg, num_features=1 << 12)
    path = str(tmp_path / "qmodel")
    save_quality_model(model, path)
    save_quality_model(model, path)          # overwrite is idempotent
    loaded = load_quality_model(path)
    assert loaded.numFeatures == model.numFeatures
    docs = pos.unionByName(
        neg.select((F.col("id") + 100).alias("id"), "text")
    )
    a = {r["id"]: r["quality_prob"]
         for r in score_documents(docs, "id", "text", model).collect()}
    b = {r["id"]: r["quality_prob"]
         for r in score_documents(docs, "id", "text", loaded).collect()}
    assert a == b


def test_binary_metrics_ground_truth_and_mirror(spark, oracle):
    """Hand-computable confusion cells, NULL exclusion, degenerate
    denominators, and a DuckDB mirror over a synthetic scored frame."""
    from web_api_postgres_etl_spark.operators.classifier import binary_metrics

    rows = [
        (1, 0.9), (1, 0.6), (1, 0.2),        # positives
        (0, 0.8), (0, 0.4), (0, 0.1),        # negatives
        (None, 0.5), (1, None),              # unjudgeable
    ]
    df = spark.createDataFrame(rows, "label int, score double")
    out = {r["threshold"]: r for r in binary_metrics(
        df, "label", "score", thresholds=[0.5, 0.95]
    ).collect()}
    m = out[0.5]
    assert (m["tp"], m["fp"], m["tn"], m["fn"]) == (2, 1, 2, 1)
    assert m["precision"] == pytest.approx(2 / 3)
    assert m["recall"] == pytest.approx(2 / 3)
    assert m["n_skipped"] == 2
    hi = out[0.95]
    assert (hi["tp"], hi["fp"]) == (0, 0)
    assert hi["precision"] is None           # no predicted positives
    assert hi["recall"] == 0.0

    with pytest.raises(ValueError, match="at least one"):
        binary_metrics(df, "label", "score", thresholds=[])
    with pytest.raises(ValueError, match="distinct"):
        binary_metrics(df, "label", "score", thresholds=[0.5, 0.5])

    # mirror on a deterministic scored frame over documents: label =
    # contains 'vector', score = pinned-artifact margin sigmoidless
    # proxy (n_scored_tokens is irrelevant — use doc_id arithmetic)
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    scored = docs.select(
        F.array_contains(F.split(F.col("text"), " "), "vector")
        .cast("int").alias("label"),
        ((F.col("doc_id") % 100) / 100.0).alias("score"),
    )
    got = sorted(
        tuple(repr(v) for v in r)
        for r in binary_metrics(scored, "label", "score",
                                thresholds=[0.25, 0.75]).collect()
    )
    want = sorted(
        tuple(repr(v) for v in row)
        for row in oracle.execute("""
            WITH s AS (
              SELECT CAST(list_contains(string_split(text, ' '), 'vector')
                     AS INT) AS y,
                     (doc_id % 100) / 100.0 AS sc
              FROM documents),
            t(threshold) AS (VALUES (0.25), (0.75)),
            c AS (
              SELECT threshold,
                sum(CASE WHEN y = 1 AND sc >= threshold THEN 1 ELSE 0 END) AS tp,
                sum(CASE WHEN y = 0 AND sc >= threshold THEN 1 ELSE 0 END) AS fp,
                sum(CASE WHEN y = 0 AND sc < threshold THEN 1 ELSE 0 END) AS tn,
                sum(CASE WHEN y = 1 AND sc < threshold THEN 1 ELSE 0 END) AS fn
              FROM s, t GROUP BY threshold)
            SELECT CAST(threshold AS DOUBLE) AS threshold, tp, fp, tn, fn,
                   tp / CAST(nullif(tp + fp, 0) AS DOUBLE) AS precision,
                   tp / CAST(nullif(tp + fn, 0) AS DOUBLE) AS recall,
                   2 * (tp / CAST(nullif(tp + fp, 0) AS DOUBLE))
                     * (tp / CAST(nullif(tp + fn, 0) AS DOUBLE))
                     / nullif(tp / CAST(nullif(tp + fp, 0) AS DOUBLE)
                            + tp / CAST(nullif(tp + fn, 0) AS DOUBLE), 0.0) AS f1,
                   (tp + tn) / CAST(nullif(tp + fp + tn + fn, 0) AS DOUBLE) AS accuracy,
                   CAST(0 AS BIGINT) AS n_skipped
            FROM c ORDER BY threshold
        """).fetchall()
    )
    assert got == want
