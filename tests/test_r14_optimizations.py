"""Pins for the r14 optimization-round internals (OPTIMIZATION_r14.md):

1. normalized_tokens single-pass fusion ≡ the original two-regex chain
   (the tokenizer feeds minhash/shingles, so ANY divergence flips
   dedup-family hashes — equivalence is pinned on an adversarial case
   set plus a real-corpus slice).
2. _plan_memoized: memo hits return the identical DataFrame object;
   the three persist-carrying HEADLINE queries and the side-effecting
   contract entries are NOT memoized (a reused plan would replay
   persisted intermediates across bench repeats — result caching, not
   construction reuse).
3. ensure_parallelism probe stamp: semantics unchanged (repartition
   when narrow, identity when wide), probe answer stamped once.
"""

from __future__ import annotations

from pyspark.sql import functions as F

import __spark_entry__ as em
from web_api_postgres_etl_spark.functions.text import normalized_tokens
from web_api_postgres_etl_spark.operators.dedup import ensure_parallelism

SF_ORACLE = "/root/testdata/sf0.01"


def _old_tokens(c, lowercase=True):
    """The pre-r14 chain, verbatim: strip-to-space, collapse, trim,
    split-on-space, drop empties."""
    if lowercase:
        c = F.lower(c)
    cleaned = F.regexp_replace(c, r"[^a-z0-9\s]", " ")
    toks = F.split(F.trim(F.regexp_replace(cleaned, r"\s+", " ")), " ")
    return F.filter(toks, lambda t: t != "")


ADVERSARIAL = [
    "", " ", "a", "  a  ", "a b", "a,b", ",,a,,b,,", "héllo wörld",
    "a\tb\nc\rd", "ABC123", "!!!", None, "a" * 5000, " x ",
    "tab\there", "é combine", " nbsp sep", "1.5e9 foo_bar",
    "mixed CASE Text, with; punct!",
]


def test_tokenizer_fusion_equivalence_adversarial(spark):
    df = spark.createDataFrame([(x,) for x in ADVERSARIAL], "text string")
    bad = (
        df.select(
            _old_tokens(F.col("text")).alias("o"),
            normalized_tokens("text").alias("n"),
        )
        .filter(
            ~(
                (F.col("o").isNull() & F.col("n").isNull())
                | (F.col("o") == F.col("n"))
            )
        )
        .count()
    )
    assert bad == 0


def test_tokenizer_fusion_equivalence_real_corpus(spark):
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    bad = (
        docs.select(
            _old_tokens(F.col("text")).alias("o"),
            normalized_tokens("text").alias("n"),
        )
        .filter(~(F.col("o") == F.col("n")))
        .count()
    )
    assert bad == 0


def test_plan_memo_hit_returns_same_object(spark):
    a = em.q_flagship_star_join(spark, SF_ORACLE)
    b = em.q_flagship_star_join(spark, SF_ORACLE)
    assert a is b
    # distinct sf_dir -> distinct plan
    c = em.q_flagship_star_join(spark, "/root/testdata/sf0.001")
    assert c is not a


def test_persist_carrying_queries_not_memoized(spark):
    # persist-carrying exclusions construct FRESH per call so bench
    # repeats recompute from parquet instead of replaying persisted
    # frames. r15: the fused banding removed the signature persists
    # from minhash_lsh_pairs and lsh_cosine_pairs (single read), so
    # only near_dup_pipeline (candidate/shingle persists) remains
    # excluded; the other two are memoized and the no-persisted-data
    # invariant is enforced for every memoized plan in
    # tests/test_r15_optimizations.py.
    for name in ("near_dup_pipeline",):
        fn = getattr(em, f"q_{name}")
        assert not hasattr(fn, "__wrapped__"), name
        a = fn(spark, SF_ORACLE)
        b = fn(spark, SF_ORACLE)
        assert a is not b, name
    for name in ("minhash_lsh_pairs", "lsh_cosine_pairs"):
        assert hasattr(getattr(em, f"q_{name}"), "__wrapped__"), name


def test_side_effecting_contract_entries_not_memoized():
    # streaming / sink / index-building constructions must re-run per
    # call (their replay semantics are the behavior under test)
    for name in (
        "t1_streaming_compact", "t4_stateful_stream",
        "t5_watermark_late_drop", "cdc_table_apply",
        "corpus_ingest_replay", "pipeline_e2e", "curation_pipeline",
        "training_data_e2e", "ivf_pq_probe_topk", "ivf_pq_nn_join",
        "ann_rerank_topk", "hybrid_retrieval",
    ):
        fn = getattr(em, f"q_{name}")
        assert not hasattr(fn, "__wrapped__"), name


# --- §5 construction batching: the F.expr/selectExpr fast paths must
# build the SAME Catalyst trees the original Column calls built.
# Equivalence is pinned with Spark's own canonicalized sameResult where
# the plans are UDF-free, and with value equality across the NGram
# boundary (ScalaUDF canonicalization compares function identity, so
# sameResult can never equate two transform calls).

def _same_result(a, b) -> bool:
    return a._jdf.queryExecution().analyzed().sameResult(
        b._jdf.queryExecution().analyzed()
    )


def test_tokenizer_expr_fast_path_plan_equal(spark):
    df = spark.createDataFrame([(x,) for x in ADVERSARIAL], "text string")
    fast = df.select(normalized_tokens("text").alias("n"))
    col = df.select(normalized_tokens(F.col("text")).alias("n"))
    assert _same_result(fast, col)
    nolower = df.select(normalized_tokens("text", lowercase=False).alias("n"))
    nolower_col = df.select(
        normalized_tokens(F.col("text"), lowercase=False).alias("n")
    )
    assert _same_result(nolower, nolower_col)


def test_band_self_join_expr_form_plan_and_value_equal(spark):
    """_band_self_join ≡ the verbatim Column join form — by sameResult
    (the r14 pin; r15 kept the join form after measuring a fused
    bucket-aggregate alternative slower locally) AND by value on a
    dataset exercising the degenerate cases: multi-band duplicate
    pairs, NULL band, NULL id, a duplicate id within one bucket,
    singleton buckets, and a >2 bucket."""
    from web_api_postgres_etl_spark.operators.dedup import _band_self_join

    rows = [
        (1, "x"), (2, "x"), (3, "y"),            # basic pair + singleton
        (1, "z"), (2, "z"),                      # same pair via 2nd band
        (4, None), (None, "x"),                  # NULL band / NULL id
        (5, "w"), (5, "w"), (6, "w"), (7, "w"),  # dup id in one bucket, >2
    ]
    banded = spark.createDataFrame(rows, "__id long, __band string")
    ref = (
        banded.alias("l")
        .join(
            banded.alias("r"),
            (F.col("l.__band") == F.col("r.__band"))
            & (F.col("l.__id") < F.col("r.__id")),
        )
        .select(F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"))
        .distinct()
    )
    got = _band_self_join(banded)
    assert _same_result(got, ref)
    assert got.columns == ref.columns
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, ref.collect())
    )


def test_minhash_agg_alias_in_expr_plan_equal(spark):
    from web_api_postgres_etl_spark.operators.dedup import minhash_agg_exprs

    exploded = spark.createDataFrame(
        [(1, "ab"), (1, "bc"), (2, None)], "__id long, __s string"
    )
    for guard in (True, False):
        ref_cols = []
        for i in range(4):
            digest = f"md5(concat_ws('|', '{i}', __s))"
            if guard:
                digest = f"CASE WHEN __s IS NOT NULL THEN {digest} END"
            ref_cols.append(F.expr(f"min({digest})").alias(f"mh_{i}"))
        ref = exploded.groupBy("__id").agg(*ref_cols)
        new = exploded.groupBy("__id").agg(
            *minhash_agg_exprs(4, guard_nulls=guard)
        )
        assert _same_result(new, ref), f"guard_nulls={guard}"


def test_jaccard_tail_expr_form_plan_equal(spark):
    from web_api_postgres_etl_spark.operators.dedup import (
        _jaccard_on_shingled,
        _paired_shingles,
    )

    sh = spark.createDataFrame(
        [(1, ["a", "b"]), (2, ["b", "c"])], "__id long, __sh array<string>"
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    joined = _paired_shingles(sh, pairs)
    inter = F.size(F.array_intersect("__sha", "__shb"))
    jac = inter / (F.size("__sha") + F.size("__shb") - inter)
    ref = joined.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= 0.25
    )
    assert _same_result(_jaccard_on_shingled(sh, pairs, 0.25), ref)
    # paired-shingles selectExpr renames ≡ the Column renames
    ref_joined = pairs.join(
        sh.select(F.col("__id").alias("id_a"), F.col("__sh").alias("__sha")),
        "id_a",
    ).join(
        sh.select(F.col("__id").alias("id_b"), F.col("__sh").alias("__shb")),
        "id_b",
    )
    assert _same_result(joined, ref_joined)


def test_lsh_cosine_expr_form_plan_equal(spark):
    """lsh_cosine_pairs vs the verbatim pre-r14 Column reference form.
    r15 re-pin: the candidate stage is now the fused bucket aggregate
    (different plan from the reference's self-join, so the r14
    sameResult pin became a VALUE-equality pin; the va/vb renames and
    rounded-cosine projection are still the same trees)."""
    from web_api_postgres_etl_spark.operators.similarity import (
        _sql_dot,
        _sql_norm,
        as_double_array,
        lsh_cosine_pairs,
        rhp_band_keys,
        sign_bits_signature,
    )

    emb = spark.createDataFrame(
        [(1, [1.0, -2.0] * 8), (2, [1.0, 2.0] * 8), (3, [-1.0, 0.5] * 8)],
        "vec_id long, embedding array<double>",
    )
    new = lsh_cosine_pairs(
        emb, "vec_id", "embedding", threshold=0.1, num_planes=16,
        bands=2, signature="axis",
    )
    # the pre-batching Column construction, verbatim
    prep = emb.select(
        F.col("vec_id").alias("__id"),
        as_double_array("embedding").alias("__v"),
    )
    sigd = prep.select(
        "__id", sign_bits_signature("__v", 16).alias("__sig")
    )
    banded = sigd.select(
        "__id",
        F.explode_outer(rhp_band_keys("__sig", 16, 2)).alias("__bkey"),
    )
    cand = (
        banded.alias("l")
        .join(
            banded.alias("r"),
            (F.col("l.__bkey") == F.col("r.__bkey"))
            & (F.col("l.__id") < F.col("r.__id")),
        )
        .select(F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"))
        .distinct()
    )
    withn = prep.selectExpr("__id", "__v", f"{_sql_norm('__v')} AS __n")
    va = withn.select(
        F.col("__id").alias("id_a"),
        F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
    )
    vb = withn.select(
        F.col("__id").alias("id_b"),
        F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    sim = F.expr(f"{_sql_dot('__va', '__vb')} / nullif(__na * __nb, 0.0D)")
    ref = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", F.round(sim, 6).alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= 0.1)
    )
    assert new.columns == ref.columns
    assert sorted(map(tuple, new.collect())) == sorted(
        map(tuple, ref.collect())
    )


def test_ngram_direct_transform_value_equal(spark):
    """_shingled's shingles ≡ the public NGram().transform() API over
    the same NULL-coalesced tokens, by value."""
    from pyspark.ml.feature import NGram

    from web_api_postgres_etl_spark.operators.dedup import _shingled

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "x y"), (3, None), (4, "solo")],
        "id long, text string",
    )
    got = {
        r["__id"]: list(r["__sh"])
        for r in _shingled(docs, "id", "text", 3).collect()
    }
    toks = docs.select(
        F.col("id").alias("__id"),
        F.coalesce(
            normalized_tokens("text"), F.array().cast("array<string>")
        ).alias("__toks"),
    )
    want = {
        r["__id"]: list(r["__sh"])
        for r in NGram(n=3, inputCol="__toks", outputCol="__sh")
        .transform(toks)
        .select("__id", "__sh")
        .collect()
    }
    assert got == want == {1: ["a b c", "b c d"], 2: [], 3: [], 4: []}


def test_ensure_parallelism_stamp_semantics(spark):
    narrow = spark.range(10).coalesce(1)
    out = ensure_parallelism(narrow)
    assert out.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    assert narrow._sg_scan_parts == 1
    # stamped re-probe gives the same decision
    out2 = ensure_parallelism(narrow)
    assert out2.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    wide = spark.range(10).repartition(16)
    assert ensure_parallelism(wide) is wide
