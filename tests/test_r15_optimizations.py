"""Pins for the r15 optimization round (r14 verdict items).

Each test pins a specific optimization's SEMANTICS so a future refactor
cannot silently regress it:

- the ``SPARK_GRAFT_NO_PLAN_MEMO=1`` kill-switch bypasses ``_plan_memoized``
  (verdict #8a);
- the plan-memo invariant: no memoized plan may reference a persisted
  (InMemoryRelation) or streaming source — today enforced by decorator
  placement, here enforced by inspection of every decorated query
  (verdict #8b);
- the ADVICE item: backtick-quoted fast path in ``normalized_tokens``
  (non-ASCII column names construct instead of raising ParseException).
"""

from __future__ import annotations

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from tests.conftest import SF_SMOKE


def _memoized_query_names():
    return sorted(
        name
        for name in dir(entrymod)
        if name.startswith("q_")
        and callable(getattr(entrymod, name))
        and hasattr(getattr(entrymod, name), "__wrapped__")
    )


def test_no_plan_memo_env_bypasses_memoization(spark, monkeypatch):
    fn = entrymod.q_flagship_star_join
    assert hasattr(fn, "__wrapped__"), "flagship must be memoized"
    monkeypatch.delenv("SPARK_GRAFT_NO_PLAN_MEMO", raising=False)
    a = fn(spark, SF_SMOKE)
    assert fn(spark, SF_SMOKE) is a, "memo-hit must return the same object"
    monkeypatch.setenv("SPARK_GRAFT_NO_PLAN_MEMO", "1")
    b = fn(spark, SF_SMOKE)
    c = fn(spark, SF_SMOKE)
    assert b is not a and c is not b, "kill-switch must construct fresh"
    # fresh construction is the same logical query (cheap sanity only)
    assert b.columns == a.columns
    monkeypatch.delenv("SPARK_GRAFT_NO_PLAN_MEMO", raising=False)
    assert fn(spark, SF_SMOKE) is a, "memo must resume once unset"


def test_memoized_plans_never_reference_persist_or_streaming(spark):
    """The invariant behind the memoization honesty rule: a memoized
    construction must not persist or checkpoint anything and must not
    be a streaming plan — a persisted intermediate, or a checkpoint
    (a LogicalRDD scan of blocks computed at construction), replayed
    across bench repeats would be result caching. Hermetic by construction: the cache manager is
    cleared first and each query is built FRESH via __wrapped__, so an
    InMemoryRelation (or a non-empty cache manager afterwards) can only
    come from the construction itself — not from caches other tests or
    the shared memo left behind (CacheManager substitutes any matching
    plan fragment, which made a non-hermetic version of this test
    order-dependent)."""
    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    for name in _memoized_query_names():
        df = getattr(entrymod, name).__wrapped__(spark, SF_SMOKE)
        assert not df.isStreaming, f"{name}: memoized streaming plan"
        assert cm.isEmpty(), f"{name}: construction registered a cache"
        optimized = df._jdf.queryExecution().optimizedPlan().toString()
        assert "InMemoryRelation" not in optimized, (
            f"{name}: memoized plan references persisted data"
        )
        assert "LogicalRDD" not in optimized, (
            f"{name}: memoized plan references checkpointed data"
        )


def test_normalized_tokens_fast_path_quotes_identifier(spark):
    """ADVICE: 'café'.isidentifier() is True but unquoted it is a
    ParseException; the backtick-quoted fast path must build the same
    tokens the Column path builds."""
    from web_api_postgres_etl_spark.functions.text import normalized_tokens

    df = spark.createDataFrame(
        [("Héllo, wörld! a-b c_d 42",)], ["café"]
    )
    fast = df.select(normalized_tokens("café").alias("t")).first()["t"]
    slow = df.select(normalized_tokens(F.col("café")).alias("t")).first()["t"]
    assert fast == slow
    assert fast == ["h", "llo", "w", "rld", "a", "b", "c", "d", "42"]


_ADVERSARIAL_TEXTS = [
    None, "", "   ", "The quick brown fox... AND the lazy dog!",
    "der die das und ist nicht", "le la les et est dans",
    "el los las y es en", "a" * 5000, "1 2 3\t4\n5\r6 7",
    "{code} lorem ipsum • bullet", "no-stop-words-here xyzzy qwerty",
]


def test_from_tokens_signal_forms_match_text_wrappers(spark):
    """r15 shared tokenization: each *_from_tokens signal over
    normalized_tokens(text) must equal the text-taking wrapper on
    adversarial inputs — the equivalence q_text_stats' one-projection
    rewrite rests on."""
    from web_api_postgres_etl_spark.functions import text as T

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(_ADVERSARIAL_TEXTS)], ["i", "text"]
    )
    toked = df.select("i", "text", T.normalized_tokens("text").alias("__t"))
    tk = F.col("__t")
    pairs = toked.select(
        "i",
        T.stopword_ratio("text").alias("a1"),
        T.stopword_ratio_from_tokens(tk).alias("b1"),
        T.quality_score("text").alias("a2"),
        T.quality_score_from_tokens(tk, "text").alias("b2"),
        T.lang_id("text").alias("a3"),
        T.lang_id_from_tokens(tk).alias("b3"),
        T.fingerprint("text").alias("a4"),
        T.fingerprint_from_tokens(tk).alias("b4"),
        T.gopher_flags("text").alias("a5"),
        T.gopher_flags("text", tokens=tk).alias("b5"),
    )
    for r in pairs.collect():
        for k in range(1, 6):
            assert r[f"a{k}"] == r[f"b{k}"], (r["i"], k, r[f"a{k}"], r[f"b{k}"])


def test_text_stats_plan_tokenizes_once(spark):
    """The q_text_stats physical plan must contain exactly ONE
    split(lower(text)) — the shared-projection guarantee (r14 plan had
    ~34; a CollapseProject regression would re-inline them)."""
    import __spark_entry__ as em

    df = em.q_text_stats.__wrapped__(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert plan.count("split(lower(text") == 1, plan.count("split(lower(text")


def test_minhash_banding_distinct_fuses_into_join_stage(spark):
    """r15: with the signature frame UNPERSISTED, the banding self-join's
    probe side keeps hashpartitioning(doc_id) and the pair distinct
    needs no exchange of its own — the plan carries exactly ONE
    hashpartitioning exchange (the signature aggregate) and no
    InMemoryRelation. A reintroduced persist (whose AQE cache reports
    unknown partitioning) would add the distinct exchange back."""
    import __spark_entry__ as em

    df = em.q_minhash_lsh_pairs.__wrapped__(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # no exchange keyed on the pair: the distinct's two HashAggregates
    # sit directly on the join output (statically each join side shows
    # its own copy of the signature exchange — canonically identical,
    # so AQE stage reuse computes it once at runtime)
    assert "Exchange hashpartitioning(id_a" not in plan, plan
    assert "InMemoryRelation" not in plan
    assert plan.count("HashAggregate(keys=[id_a") == 2, plan


def test_bench_json_carries_repeats():
    """The bench artifact must carry its min-of-N basis (r14 verdict #2:
    the repeats methodology is frozen at 5 and must be visible)."""
    import bench

    # read the file directly (inspect.getsource reads stale line
    # offsets if the module file changed after import)
    with open(bench.__file__) as f:
        src = f.read()
    assert '"repeats": repeats' in src
    assert 'SPARK_GRAFT_BENCH_REPEATS", "5"' in src, "repeats default moved"
    assert '"exec_ms": exec_ms' in src
