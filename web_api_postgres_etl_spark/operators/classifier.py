"""Model-based document quality filtering — the fastText-classifier
stage of a modern LLM data pipeline (the DCLM / FineWeb-Edu move:
train a cheap linear classifier to score "does this look like
reference-quality text", then gate the crawl on the score; it
outperforms hand-rules because it learns the boundary from data).

The reference has no ML surface; this is the engine's model-training
face, built entirely on pyspark.ml (JVM-side, distributed):

- Features: hashed bag-of-words counts over the package's shared
  ``normalized_tokens`` tokenizer (HashingTF — the hashing trick, no
  vocabulary state to ship; one narrow pass, codegen'd tokenize +
  compiled feature hashing).
- Model: logistic regression (distributed L-BFGS; the driver holds
  only the coefficient vector — ``num_features`` doubles).
- Scoring: ``model.transform`` broadcasts the coefficient vector and
  maps the corpus — no shuffle, the 100 TB path. Training runs on a
  bounded LABELED sample (thousands to millions of rows), never the
  full corpus; scoring runs on everything.

No SQL oracle: L-BFGS is iterative floating-point optimization, not
relational algebra (same verdict as k-means — the driver's rows-only
check applies; behavior is pinned by planted-ground-truth tests
instead: separable corpora recover labels, the gate drops planted
spam, determinism under a fixed seed).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import normalized_tokens
from .project import qcol


def hashed_token_features(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_features: int = 1 << 18,
) -> DataFrame:
    """(id, features) — hashing-trick bag-of-words term counts.

    2^18 buckets keeps collision rates low for web-scale vocabularies
    while the coefficient vector stays a ~2 MB broadcast. Token-less
    and NULL documents produce the empty vector (scored by the model's
    intercept alone — they are not silently dropped)."""
    if num_features < 2:
        raise ValueError(f"num_features must be >= 2, got {num_features}")
    from pyspark.ml.feature import HashingTF

    toks = df.select(
        qcol(id_col).alias(id_col),
        F.coalesce(
            normalized_tokens(text_col), F.array().cast("array<string>")
        ).alias("__toks"),
    )
    tf = HashingTF(
        inputCol="__toks", outputCol="features", numFeatures=num_features
    )
    # binary=False (default): raw term counts, the fastText-style signal
    return tf.transform(toks).drop("__toks")


def train_quality_classifier(
    positive: DataFrame,
    negative: DataFrame,
    text_col: str = "text",
    num_features: int = 1 << 18,
    reg_param: float = 1e-4,
    max_iter: int = 50,
):
    """Fit the quality model: ``positive`` = reference-quality docs
    (wiki/books/instruction data), ``negative`` = raw crawl. Returns a
    fitted ``LogisticRegressionModel`` whose ``probability`` of class
    1 is the quality score. Deterministic for fixed inputs: L-BFGS
    from a zero initial vector has no RNG (float reduction order can
    wiggle the last ulps across cluster layouts — thresholds should
    not be set within 1e-6 of a document's score).

    Scale: the labeled set is bounded by construction (you label
    thousands, not billions); each L-BFGS iteration is one
    treeAggregate over it. ``reg_param`` is L2 — keep small but
    nonzero so near-separable corpora converge to finite weights."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import HashingTF

    pos = positive.select(F.lit(1.0).alias("label"), qcol(text_col).alias("__t"))
    neg = negative.select(F.lit(0.0).alias("label"), qcol(text_col).alias("__t"))
    # featurize IN PLACE (HashingTF preserves input columns) — never
    # join labels back on a synthetic id: monotonically_increasing_id
    # is evaluation-dependent, and two evaluations of the same frame
    # can pair labels with the wrong feature vectors silently
    labeled = pos.unionByName(neg).withColumn(
        "__toks",
        F.coalesce(normalized_tokens("__t"), F.array().cast("array<string>")),
    )
    tf = HashingTF(
        inputCol="__toks", outputCol="features", numFeatures=num_features
    )
    train = tf.transform(labeled).select("label", "features")
    lr = LogisticRegression(
        featuresCol="features",
        labelCol="label",
        regParam=reg_param,
        maxIter=max_iter,
        standardization=False,   # sparse counts: standardizing densifies
    )
    model = lr.fit(train)
    # Drop the training summary: scoring ships the model in every task,
    # and the summary holds the SparkSession, which stops serializing in
    # Spark 4.1 once the session has used an Observation (its
    # ObservationManager field is not serializable). Nothing reads it.
    model._java_obj.setSummary(train.sparkSession._jvm.scala.Option.empty())
    return model


def score_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    model,
    score_col: str = "quality_prob",
) -> DataFrame:
    """(id, quality_prob) — P(quality | doc) for every document.

    The scale path: featurize (narrow pass) → ``model.transform``
    (broadcast coefficients, map-only) → extract P(class 1). No
    shuffle, no collect; safe to run over the full corpus. The
    feature width always comes from the model itself — any other
    width would hash into a different index space."""
    feats = hashed_token_features(df, id_col, text_col, model.numFeatures)
    scored = model.transform(feats)
    # probability is an ml VectorUDT; element 1 is P(quality)
    from pyspark.ml.functions import vector_to_array

    return scored.select(
        qcol(id_col).alias(id_col),
        F.round(
            vector_to_array(F.col("probability")).getItem(1), 6
        ).alias(score_col),
    )


def classifier_gate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    model,
    min_prob: float = 0.5,
) -> DataFrame:
    """Keep documents scoring at least ``min_prob``, preserving the
    input schema. ONE pass — featurize/score columns ride alongside
    the row and are dropped after the filter (no self-join, so an
    expensive upstream plan is not re-executed per branch; scoring is
    total, so no silent row loss)."""
    from pyspark.ml.feature import HashingTF
    from pyspark.ml.functions import vector_to_array

    reserved = {"__toks", "features", "rawPrediction", "probability",
                "prediction"}
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"input columns {sorted(clash)} collide with the gate's "
            "internal scoring columns — rename them before gating "
            "(the gate would otherwise crash or silently overwrite)"
        )
    cols = df.columns
    toks = df.withColumn(
        "__toks",
        F.coalesce(
            normalized_tokens(text_col), F.array().cast("array<string>")
        ),
    )
    tf = HashingTF(
        inputCol="__toks", outputCol="features",
        numFeatures=model.numFeatures,
    )
    scored = model.transform(tf.transform(toks))
    # filter on the SAME 6-decimal rounding score_documents reports, so
    # a threshold read off the audit output can never disagree with the
    # gate's survivor set at the boundary
    return scored.filter(
        F.round(vector_to_array(F.col("probability")).getItem(1), 6)
        >= min_prob
    ).select(*cols)


def export_token_weights(model, vocab_df: DataFrame, token_col: str = "token"):
    """Export the fitted model as a relational (token, weight) table —
    the fastText-style "dump the model" seam that makes *scoring* pure
    relational algebra: ``weight(token) = coefficients[murmur3(token)
    mod num_features]``, so hash collisions are reproduced by
    construction and token-keyed scoring is EXACTLY the hashed model
    for any document whose tokens fall inside ``vocab_df``
    (out-of-vocabulary tokens score 0 instead of their bucket's
    coefficient — the one documented difference, irrelevant when the
    vocabulary is the full training vocabulary).

    Weights are quantized to DECIMAL(18,9) so downstream sums are
    exact integer arithmetic in ANY engine (float reduction order can
    never move a document across a gate). Returns
    ``(weights_df, intercept)`` where intercept is a
    :class:`decimal.Decimal` at the same scale.

    Scale shape: the vocabulary collect is bounded by construction —
    it is the LABELED TRAINING vocabulary (thousands of terms), never
    the corpus's; the same boundedness argument as training itself.
    The index lookups run driver-side against the model's own
    coefficient vector (already driver-resident after the fit)."""
    import decimal

    from pyspark.ml.feature import HashingTF

    q = decimal.Decimal("0.000000001")
    tf = HashingTF(
        inputCol="__x", outputCol="__y", numFeatures=model.numFeatures
    )
    coefs = model.coefficients
    toks = [
        r[0]
        for r in vocab_df.select(qcol(token_col)).distinct().collect()
        if r[0] is not None
    ]
    rows = [
        (t, decimal.Decimal(repr(float(coefs[tf.indexOf(t)]))).quantize(q))
        for t in sorted(toks)
    ]
    spark = vocab_df.sparkSession
    weights = spark.createDataFrame(
        rows, "token string, weight decimal(18,9)"
    )
    intercept = decimal.Decimal(repr(float(model.intercept))).quantize(q)
    return weights, intercept


def score_from_token_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights: DataFrame,
    intercept,
    keep_cols: tuple[str, ...] = (),
    margin_col: str = "margin",
) -> DataFrame:
    """Score documents from an exported (token, weight) table —
    ``margin = intercept + Σ_occurrences weight(token)`` (the linear
    model's log-odds; ``sigmoid`` is monotone, so gating on
    ``margin >= logit(p)`` is gating on ``P(quality) >= p``).

    All arithmetic is DECIMAL: integer occurrence counts × scale-9
    weights sum EXACTLY, in any engine, in any reduction order — this
    is the oracle-checkable face of the classifier (training is not
    relational algebra; scoring from the exported artifact is).

    Totality: tokenless and NULL documents keep their row and score
    ``intercept`` (explode_outer + left join + coalesce — never an
    inner join that silently drops them).

    Scale shape: one broadcast join (the weight table is
    training-vocabulary-bounded) + one map-side-combining groupBy on
    the document id; the corpus is never collected or self-joined."""
    import decimal

    reserved = {"__tok", "__w", margin_col}
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"input columns {sorted(clash)} collide with scoring "
            f"columns — rename them before scoring"
        )
    icpt = F.lit(decimal.Decimal(intercept)).cast("decimal(18,9)")
    toks = df.select(
        qcol(id_col).alias(id_col),
        *[qcol(c).alias(c) for c in keep_cols],
        F.explode_outer(normalized_tokens(qcol(text_col))).alias("__tok"),
    )
    w = weights.select(
        F.col("token").alias("__tok"),
        F.col("weight").cast("decimal(18,9)").alias("__w"),
    )
    joined = toks.join(F.broadcast(w), on="__tok", how="left")
    zero = F.lit(0).cast("decimal(18,9)")
    # qcol: a dotted id/keep column (aliased to its literal dotted name
    # above) would be parsed as struct-field access by a bare string here
    return joined.groupBy(qcol(id_col), *[qcol(c) for c in keep_cols]).agg(
        (icpt + F.coalesce(F.sum("__w"), zero)).alias(margin_col),
        F.count("__w").alias("n_scored_tokens"),
    )


def classifier_gate_from_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights: DataFrame,
    intercept,
    min_margin=0,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Gate on the exported-artifact score: keep documents whose
    decimal margin reaches ``min_margin`` (0 ⟺ P(quality) ≥ 0.5).
    Returns (id, *keep_cols, n_scored_tokens) — ids plus integer
    audit columns only, never floats (the survivor SET is the
    contract; see :func:`score_from_token_weights` for margins)."""
    import decimal

    scored = score_from_token_weights(
        df, id_col, text_col, weights, intercept, keep_cols=keep_cols
    )
    gate = F.lit(decimal.Decimal(min_margin)).cast("decimal(18,9)")
    return scored.filter(F.col("margin") >= gate).select(
        id_col, *keep_cols, "n_scored_tokens"
    )


def save_quality_model(model, path: str) -> None:
    """Persist the fitted model with pyspark.ml's native writer — the
    train-once / score-everywhere seam: training runs wherever the
    labeled sample lives, the saved artifact (coefficient vector +
    intercept + metadata JSON, a few MB) ships to every scoring
    cluster. Overwrites for idempotent re-runs of a training job."""
    model.write().overwrite().save(path)


def load_quality_model(path: str):
    """Load a model saved by :func:`save_quality_model`. The feature
    width travels inside the artifact (``model.numFeatures``), so
    scoring reconstructs the identical hash space with no side
    channel."""
    from pyspark.ml.classification import LogisticRegressionModel

    return LogisticRegressionModel.load(path)


def binary_metrics(
    scored: DataFrame,
    label_col: str,
    score_col: str,
    thresholds: Sequence[float] = (0.1, 0.3, 0.5, 0.7, 0.9),
) -> DataFrame:
    """(threshold, tp, fp, tn, fn, precision, recall, f1, accuracy) —
    the quality-classifier evaluation report, one row per threshold,
    computed in ONE map-side-combining aggregate pass (never k scans:
    each row contributes a (≥ t?) flag per threshold, summed — counts
    are exact integers, the ratios single divisions of them, so any
    engine reproduces every cell).

    Semantics pinned: predict positive when ``score >= threshold``
    (the same boundary ``classifier_gate`` uses); labels are 0/1
    (anything nonzero counts as positive); rows with a NULL label or
    NULL score are EXCLUDED and reported once in ``n_skipped`` on
    every row (they can't be judged — silently counting them as
    negatives would inflate precision). Degenerate denominators
    (no predicted positives / no actual positives) yield NULL
    precision/recall rather than a fake 0 or 1.

    Scale: one pass over the scored frame; the result is
    len(thresholds) rows of driver-sized metadata.
    """
    if not thresholds:
        raise ValueError("binary_metrics needs at least one threshold")
    ts = [float(t) for t in thresholds]
    if len(set(ts)) != len(ts):
        raise ValueError(f"thresholds must be distinct, got {thresholds}")
    y = (qcol(label_col).cast("double") != 0.0).cast("int")
    s = qcol(score_col).cast("double")
    ok = qcol(label_col).isNotNull() & s.isNotNull()
    # coalesce: SUM over an EMPTY frame is NULL — the counts contract
    # is exact integers, so an empty scored frame must report zeros
    def _n(c):
        return F.coalesce(F.sum(c), F.lit(0))

    aggs = [
        _n(F.when(~ok, 1).otherwise(0)).alias("n_skipped"),
    ]
    for i, t in enumerate(ts):
        pred = (s >= F.lit(t)).cast("int")
        aggs += [
            _n(F.when(ok & (y == 1) & (pred == 1), 1).otherwise(0)).alias(f"tp_{i}"),
            _n(F.when(ok & (y == 0) & (pred == 1), 1).otherwise(0)).alias(f"fp_{i}"),
            _n(F.when(ok & (y == 0) & (pred == 0), 1).otherwise(0)).alias(f"tn_{i}"),
            _n(F.when(ok & (y == 1) & (pred == 0), 1).otherwise(0)).alias(f"fn_{i}"),
        ]
    row = scored.agg(*aggs)
    spark = scored.sparkSession
    grid = spark.createDataFrame(
        [(i, t) for i, t in enumerate(ts)], "i int, threshold double"
    )
    wide = grid.join(F.broadcast(row))
    tp, fp, tn, fn = (
        F.element_at(F.array(*[F.col(f"{c}_{i}") for i in range(len(ts))]), F.col("i") + 1)
        for c in ("tp", "fp", "tn", "fn")
    )
    prec = tp / F.nullif(tp + fp, F.lit(0))
    rec = tp / F.nullif(tp + fn, F.lit(0))
    f1 = 2 * prec * rec / F.nullif(prec + rec, F.lit(0.0))
    acc = (tp + tn) / F.nullif(tp + fp + tn + fn, F.lit(0))
    return wide.select(
        "threshold",
        tp.alias("tp"), fp.alias("fp"), tn.alias("tn"), fn.alias("fn"),
        prec.alias("precision"), rec.alias("recall"), f1.alias("f1"),
        acc.alias("accuracy"),
        F.col("n_skipped"),
    ).orderBy("threshold")
