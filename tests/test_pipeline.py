"""End-to-end medallion pipeline on reference-shaped fixtures
(FIXTURES.md §1-2): full refresh, then an incremental run with
late/duplicate versions repaired by compaction."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from web_api_postgres_etl_spark.plans.pipeline import MedallionPipeline
from web_api_postgres_etl_spark.plans.watermark import WatermarkManager
from web_api_postgres_etl_spark.sources.writers import table_path

TRADES_SCHEMA = (
    "id long, date_time string, open_price double, high_price double, "
    "low_price double, close_price double, close_price_change double, "
    "trade_count long, volume long, value double, `instrument.id` string, "
    "`meta.version` long"
)


def _trades_rows():
    return [
        (1, "14010101093000", 10.0, 12.0, 9.0, 11.0, 1.0, 5, 100, 1100.0, "i1", 1),
        (2, "14010102093000", 11.0, 13.0, 10.0, 12.0, 1.0, 6, 110, 1320.0, "i1", 2),
        (3, "14010102100000", None, 13.0, 10.0, 12.0, 1.0, 6, 110, 1320.0, "i1", 3),  # null → dropped
        (4, "14010103093000", 12.0, 14.0, 11.0, 13.0, 13.0, 7, 120, 1560.0, "i2", 4),  # pct denom 0 → null
    ]


@pytest.fixture()
def fixtures(spark):
    trades = spark.createDataFrame(_trades_rows(), TRADES_SCHEMA)
    instruments = spark.createDataFrame(
        [("i1", "C1", "IR1", "Inst One", "co1", "a1", "e1"),
         ("i2", "C2", "IR2", "Inst Two", "co2", "a2", "e1")],
        "id string, code string, isin string, name string, "
        "`stock.company.id` string, `asset.id` string, `exchange.id` string",
    )
    assets = spark.createDataFrame(
        [("a1", "cat1"), ("a2", "cat2")], "id string, `category.id` string"
    )
    categories = spark.createDataFrame(
        [("cat1", "Equity"), ("cat2", "Bond")], "id string, short_name string"
    )
    exchanges = spark.createDataFrame(
        [("e1", "TSE")], "id string, title string"
    )
    return trades, instruments, assets, categories, exchanges


def test_stage_trades_contract(spark, fixtures, tmp_path):
    trades, *_ = fixtures
    p = MedallionPipeline(spark, str(tmp_path), range_start="1400/01/01", range_end="1402/01/01")
    stg = p.stage_trades(trades)
    # contract: j_date at position 2, pct at position 8 (C:151, C:153)
    assert stg.columns[2] == "j_date"
    assert stg.columns[8] == "close_price_change_percent"
    rows = {r["id"]: r for r in stg.collect()}
    assert 3 not in rows  # required-null row dropped
    assert rows[1]["j_date"] == "1401/01/01"
    assert abs(rows[1]["close_price_change_percent"] - 0.1) < 1e-12
    assert rows[4]["close_price_change_percent"] is None  # zero denom → null


def test_full_refresh_star_join(spark, fixtures, tmp_path):
    trades, instruments, assets, categories, exchanges = fixtures
    wh = str(tmp_path / "wh")
    p = MedallionPipeline(spark, wh, range_start="1400/01/01", range_end="1402/01/01")
    extractors = {
        "trades_share": lambda: trades,
        "instruments": lambda: instruments,
        "assets": lambda: assets,
        "categories": lambda: categories,
        "exchanges": lambda: exchanges,
    }
    results = p.run_full_refresh(extractors)
    errors = [r for r in results if r.error]
    assert not errors, errors
    prd = spark.read.parquet(table_path(wh, "prd", "trades_share"))
    rows = {r["id"]: r for r in prd.collect()}
    assert set(rows) == {1, 2, 4}
    assert rows[1]["category"] == "Equity"
    assert rows[1]["market"] == "TSE"
    assert rows[4]["category"] == "Bond"
    assert rows[1]["company.id"] == "co1"


def test_incremental_append_and_compaction(spark, fixtures, tmp_path):
    """T1-T3: second run delivers a NEW version of an existing
    (j_date, name) key plus a fresh row; compaction keeps last-wins."""
    trades, instruments, assets, categories, exchanges = fixtures
    wh = str(tmp_path / "wh")
    p = MedallionPipeline(spark, wh, range_start="1400/01/01", range_end="1402/01/01")
    dims = {
        "instruments": instruments, "assets": assets,
        "categories": categories, "exchanges": exchanges,
    }
    extractors = {"trades_share": (lambda: trades)}
    extractors.update({k: (lambda d=d: d) for k, d in dims.items()})
    p.run_full_refresh(extractors)

    # delta: re-delivery of day 1401/01/01 for i1 at version 5 (update),
    # plus a brand-new row at version 6
    delta_rows = [
        (10, "14010101120000", 10.5, 12.5, 9.5, 11.5, 0.5, 9, 130, 1495.0, "i1", 5),
        (11, "14010104093000", 13.0, 15.0, 12.0, 14.0, 1.0, 8, 140, 1960.0, "i2", 6),
    ]
    delta = spark.createDataFrame(delta_rows, TRADES_SCHEMA)

    def extract_trades(wm):
        assert wm == 4  # probe found max version of the full refresh
        return delta.filter(F.col("`meta.version`") > wm)

    results = p.run_incremental({"trades_share": extract_trades}, dims)
    assert not [r for r in results if r.error], results

    prd = spark.read.parquet(table_path(wh, "prd", "trades_share"))
    rows = {(r["j_date"], r["name"]): r for r in prd.collect()}
    # 1401/01/01+Inst One must now be version 5 (the re-delivery won)
    assert rows[("1401/01/01", "Inst One")]["meta.version"] == 5
    assert rows[("1401/01/01", "Inst One")]["close_price"] == 11.5
    # new day row appended
    assert ("1401/01/04", "Inst Two") in rows
    # no duplicate keys survived compaction
    assert prd.count() == prd.select("j_date", "name").distinct().count()


def test_watermark_probe_missing_table(spark, tmp_path):
    mgr = WatermarkManager(spark, str(tmp_path))
    out = mgr.probe({"absent": str(tmp_path / "nope")})
    assert out == {"absent": None}


def test_partition_scoped_compaction(spark, tmp_path):
    """compact_partitioned rewrites ONLY touched partitions: untouched
    partition files must remain byte-identical on disk, and the touched
    partition must collapse to last-wins."""
    import glob
    import os

    from web_api_postgres_etl_spark.plans.pipeline import MedallionPipeline

    path = str(tmp_path / "prd_partitioned")
    schema = "id long, j_month string, name string, `meta.version` long, price double"
    base = spark.createDataFrame(
        [
            (1, "140101", "a", 1, 10.0),
            (2, "140101", "b", 2, 20.0),
            (3, "140102", "a", 3, 30.0),
        ],
        schema,
    )
    base.write.partitionBy("j_month").parquet(path)
    untouched_before = sorted(
        (os.path.basename(f), os.path.getmtime(f))
        for f in glob.glob(f"{path}/j_month=140102/*.parquet")
    )

    # delta append: new version for (140101, a) — only 140101 is touched
    delta = spark.createDataFrame([(4, "140101", "a", 9, 11.0)], schema)
    delta.write.mode("append").partitionBy("j_month").parquet(path)

    p = MedallionPipeline(spark, str(tmp_path))
    p.compact_partitioned(
        path, keys=["name"], partition_col="j_month", touched=["140101"]
    )

    out = spark.read.parquet(path)
    # partition values come back type-inferred from dir names (int here)
    rows = {(str(r["j_month"]), r["name"]): r["meta.version"] for r in out.collect()}
    assert rows == {("140101", "a"): 9, ("140101", "b"): 2, ("140102", "a"): 3}
    # untouched partition files were not rewritten
    untouched_after = sorted(
        (os.path.basename(f), os.path.getmtime(f))
        for f in glob.glob(f"{path}/j_month=140102/*.parquet")
    )
    assert untouched_before == untouched_after


def test_retry_succeeds_on_second_attempt_and_records_it(spark, fixtures, tmp_path):
    """G5 retry (reference: retries=1, retry_delay=2 min): a flaky
    extractor that fails once succeeds on attempt 2; a hard failure
    exhausts retries and records the error with the attempt count."""
    trades, *_ = fixtures
    wh = str(tmp_path / "wh")
    pipe = MedallionPipeline(spark, wh, retries=1, retry_delay_s=0.0)
    calls = {"flaky": 0}

    def flaky():
        calls["flaky"] += 1
        if calls["flaky"] == 1:
            raise RuntimeError("transient API 503")
        return trades

    def hard():
        raise RuntimeError("permanent failure")

    results = pipe.run_full_refresh({"trades_share": flaky, "news_bad": hard})
    by_table = {r.table: r for r in results}
    ok = by_table["src_trades_share"]
    assert ok.error is None and ok.attempts == 2 and ok.rows == 4
    bad = by_table["src_news_bad"]
    assert bad.error is not None and bad.attempts == 2
    assert calls["flaky"] == 2


def test_on_failure_alerting(spark, fixtures, tmp_path):
    """r13 (reference C:21-30 email_on_failure): the pipeline invokes
    the on_failure hook once per FAILED table with its RunResult —
    retried-then-successful tables do NOT alert; the file alerter
    appends one JSON line per failure; the email alerter builds the
    reference-shaped message through an injected transport (no SMTP
    egress in this sandbox); a raising alerter never breaks the run;
    the CLI wires --alert-log to the file sink."""
    import json as _json

    from web_api_postgres_etl_spark.plans.alerts import (
        compose_alerters,
        email_alerter,
        file_alerter,
        format_failure_email,
    )

    trades, *_ = fixtures
    wh = str(tmp_path / "wh")
    log = str(tmp_path / "alerts.jsonl")
    sent: list = []
    boom_calls = {"n": 0}

    def boom(_result):
        boom_calls["n"] += 1
        raise RuntimeError("alerter down")

    alerter = compose_alerters(
        boom,  # a broken sink must not stop the others or the run
        file_alerter(log),
        email_alerter(
            "smtp.example.com", "etl@example.com", ["ops@example.com"],
            transport=lambda *a: sent.append(a),
        ),
    )
    calls = {"flaky": 0}

    def flaky():
        calls["flaky"] += 1
        if calls["flaky"] == 1:
            raise RuntimeError("transient API 503")
        return trades

    def hard():
        raise RuntimeError("permanent failure")

    pipe = MedallionPipeline(
        spark, wh, retries=1, retry_delay_s=0.0, on_failure=alerter
    )
    results = pipe.run_full_refresh(
        {"trades_share": flaky, "news_bad": hard}
    )
    by_table = {r.table: r for r in results}
    assert by_table["src_trades_share"].error is None  # retried, no alert
    news = by_table["src_news_bad"]
    assert news.error is not None and news.attempts == 2
    # one alert per FAILED RunResult, in order (the full refresh also
    # runs downstream stages — e.g. prd_trades_share fails here for
    # lack of dimension tables — and each failure alerts exactly once);
    # every sink saw every failure despite the broken first sink
    failed = [r for r in results if r.error]
    assert "src_news_bad" in {r.table for r in failed}
    assert boom_calls["n"] == len(failed)
    lines = [
        _json.loads(x)
        for x in open(log, encoding="utf-8").read().splitlines()
    ]
    assert [x["table"] for x in lines] == [r.table for r in failed]
    news_line = next(x for x in lines if x["table"] == "src_news_bad")
    assert "permanent failure" in news_line["error"]
    assert news_line["attempts"] == 2
    assert len(sent) == len(failed)
    host, port, sender, rcpt, msg = next(
        m for m in sent if "src_news_bad" in m[4]
    )
    assert (host, port, sender, rcpt) == (
        "smtp.example.com", 25, "etl@example.com", ["ops@example.com"]
    )
    assert "Subject: [pipeline] FAILED: src_news_bad" in msg
    assert "permanent failure" in msg
    # the message build is the shared format function verbatim
    assert msg == format_failure_email(
        news, "etl@example.com", ["ops@example.com"]
    )
    # a pipeline whose ONLY alerter raises still completes and records
    before = boom_calls["n"]
    pipe2 = MedallionPipeline(
        spark, str(tmp_path / "wh2"), retries=0, on_failure=boom
    )
    res2 = pipe2.run_full_refresh({"news_bad": hard})
    assert any(r.error for r in res2) and boom_calls["n"] > before
    import pytest as pt

    with pt.raises(ValueError, match="recipients"):
        email_alerter("h", "s@example.com", [])


def test_watermark_probe_raises_on_corrupt_sink(spark, tmp_path):
    """r13: the watermark probe returns None for a MISSING table or a
    pre-versioned one (no version column yet), but a corrupt sink
    RAISES — silently probing None would schedule a full re-ingest."""
    import os

    import pytest as pt

    from web_api_postgres_etl_spark.plans.watermark import WatermarkManager

    ok = str(tmp_path / "ok")
    spark.createDataFrame(
        [(1, 7), (2, 9)], "id long, `meta.version` long"
    ).write.parquet(ok)
    nover = str(tmp_path / "nover")
    spark.createDataFrame([(1,)], "id long").write.parquet(nover)
    bad = str(tmp_path / "bad")
    os.makedirs(bad)
    with open(os.path.join(bad, "part-0.parquet"), "w") as fh:
        fh.write("garbage")
    wm = WatermarkManager(spark, str(tmp_path))
    assert wm.probe({"t": ok}) == {"t": 9}
    assert wm.probe({"t": str(tmp_path / "missing")}) == {"t": None}
    assert wm.probe({"t": nover}) == {"t": None}
    with pt.raises(Exception):
        wm.probe({"t": bad})


@pytest.mark.parametrize("fact", ["trades_share", "news", "indexvalues"])
def test_corrupt_stg_surfaces_as_table_failure(spark, fixtures, tmp_path, fact):
    """r13 (the _read_index_meta rule applied to the prd refresh): an
    ABSENT stg table skips its prd silently (fact not ingested by this
    or an earlier run — the intent), but a CORRUPT one must surface as
    that table's failure instead of leaving a stale prd behind a green
    run. Every fact follows the same rule."""
    import os

    _, instruments, assets, categories, exchanges = fixtures
    indexes = spark.createDataFrame([("x1", "Index One")], "id string, name string")
    wh = str(tmp_path / "wh")
    # corrupt stg for one fact: its stg dir holding a garbage part file
    # (table_path layout: {wh}/stg_{name})
    stg_dir = os.path.join(wh, f"stg_{fact}")
    os.makedirs(stg_dir)
    with open(os.path.join(stg_dir, "part-00000.parquet"), "w") as fh:
        fh.write("not parquet at all")
    pipe = MedallionPipeline(spark, wh, retries=0)
    pipe.run_full_refresh(
        {
            "instruments": lambda: instruments,
            "assets": lambda: assets,
            "categories": lambda: categories,
            "exchanges": lambda: exchanges,
            "indexes": lambda: indexes,
        }
    )
    # the corrupt fact failed loudly; every fact without a stg skipped
    prd = [r for r in pipe.results if r.table.startswith("prd_")]
    assert [r.table for r in prd] == [f"prd_{fact}"], pipe.results
    assert prd[0].error
    assert not [r for r in pipe.results if r.error and r is not prd[0]]


def test_refresh_republishes_a_fact_it_did_not_ingest(spark, tmp_path):
    """A full refresh without a news extractor rebuilds prd_news,
    unchanged, from the stg_news an earlier refresh left."""
    import shutil

    news = spark.createDataFrame(
        [(1, "14010101093000", "Budget passes", "v1 body", 1),
         (2, "14010202093000", "Markets open", "body", 2)],
        NEWS_SCHEMA,
    )
    wh = str(tmp_path / "wh")
    pipe = MedallionPipeline(spark, wh, range_start="1400/01/01", range_end="1402/01/01")
    pipe.run_full_refresh({"news": lambda: news})
    prd = table_path(wh, "prd", "news")
    before = sorted(map(tuple, spark.read.parquet(prd).collect()))
    shutil.rmtree(prd)

    results = pipe.run_full_refresh({})
    assert [(r.table, r.error) for r in results] == [("prd_news", None)]
    assert sorted(map(tuple, spark.read.parquet(prd).collect())) == before


def test_connected_components_raises_when_unconverged(spark):
    from web_api_postgres_etl_spark.operators.graph import connected_components

    # chain of 6 nodes has diameter 5 — max_iter=2 cannot converge
    nodes = spark.createDataFrame([(i,) for i in range(1, 7)], "id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(nodes, edges, max_iter=2)


def test_salted_join_rejects_dim_preserving_how(spark, fixtures):
    from web_api_postgres_etl_spark.operators.joins import salted_join

    trades, instruments, *_ = fixtures
    with pytest.raises(ValueError, match="salted_join"):
        salted_join(trades, instruments, "instrument.id", "id", how="full")


def test_incremental_rewrites_only_touched_month_partitions(spark, fixtures, tmp_path):
    """T3 at scale: prd sinks are partitioned by Jalali month; an
    incremental delta touching only month 1401-02 must leave the
    1401-01 partition's files byte-for-byte alone."""
    import glob
    import os

    _, instruments, assets, categories, exchanges = fixtures
    wh = str(tmp_path / "wh")
    month1 = [
        (1, "14010101093000", 10.0, 12.0, 9.0, 11.0, 1.0, 5, 100, 1100.0, "i1", 1),
        (2, "14010115093000", 11.0, 13.0, 10.0, 12.0, 1.0, 6, 110, 1320.0, "i1", 2),
    ]
    month2 = [
        (3, "14010201093000", 12.0, 14.0, 11.0, 13.0, 1.0, 7, 120, 1560.0, "i2", 3),
    ]
    delta2 = [
        (4, "14010202093000", 13.0, 15.0, 12.0, 14.0, 1.0, 8, 130, 1820.0, "i2", 4),
        # re-delivery of version 3's row with a newer version → compaction
        (5, "14010201093000", 12.5, 14.0, 11.0, 13.0, 1.0, 7, 120, 1560.0, "i2", 5),
    ]
    dims = {
        "instruments": instruments, "assets": assets,
        "categories": categories, "exchanges": exchanges,
    }
    pipe = MedallionPipeline(
        spark, wh, range_start="1400/01/01", range_end="1402/12/29"
    )
    initial = spark.createDataFrame(month1 + month2, TRADES_SCHEMA)
    pipe.run_full_refresh({"trades_share": lambda: initial, **{
        k: (lambda v=v: v) for k, v in dims.items()
    }})
    prd = table_path(wh, "prd", "trades_share")

    def snapshot(month):
        return {
            p: os.stat(p).st_mtime_ns
            for p in sorted(glob.glob(f"{prd}/j_month={month}/*.parquet"))
        }

    before_m1 = snapshot("1401-01")
    assert before_m1, "month 1401-01 partition must exist"

    delta = spark.createDataFrame(delta2, TRADES_SCHEMA)
    pipe.run_incremental(
        {"trades_share": lambda wm: delta.filter(
            F.col("`meta.version`") > F.lit(wm if wm is not None else -1)
        )},
        dims=dims,
    )
    assert snapshot("1401-01") == before_m1          # untouched, unrewritten
    out = spark.read.parquet(prd)
    # month2: version-5 re-delivery replaced version 3 (same j_date+name)
    m2 = out.filter(F.col("j_month") == "1401-02")
    assert m2.count() == 2
    assert m2.agg(F.max("`meta.version`")).first()[0] == 5
    assert out.filter(F.col("j_month") == "1401-01").count() == 2


def test_fan_out_reproduces_reference_table_inventory():
    """G3: the default config must fan out to the reference's full
    source-table inventory (constants.yaml:21-105): 71 collection items
    across 7 groups, with `trades` expanding ×8 instrument types →
    71 - 1 + 8 = 78 specs; exchange holds 32 items, stock 28."""
    from web_api_postgres_etl_spark.config import DEFAULT_CONFIG, fan_out

    specs = list(fan_out())
    names = [s.name for s in specs]
    assert len(names) == len(set(names))
    n_items = sum(len(v) for v in DEFAULT_CONFIG["collections"].values())
    assert n_items == 71
    assert len(DEFAULT_CONFIG["collections"]["exchange"]) == 32
    assert len(DEFAULT_CONFIG["collections"]["stock"]) == 28
    assert len(specs) == n_items - 1 + 8
    assert "exchange_trades_share" in names
    assert "exchange_trades_crypto" in names
    assert "stock_cashflows" in names
    assert "bond_interestpayments" in names


def test_stage_assets_aligns_category_ids_after_null_drop(spark, tmp_path):
    """The reference extracts categories[0]['id'] positionally AFTER
    dropping null-categories rows, mis-aligning ids; the engine's
    per-row extraction must keep each id with its own row."""
    rows = [
        (1, "a1", [{"id": "c10"}, {"id": "c11"}]),
        (2, "a2", None),                       # dropped
        (3, "a3", [{"id": "c30"}]),
    ]
    src = spark.createDataFrame(
        rows,
        "id long, name string, categories array<struct<id:string>>",
    )
    pipe = MedallionPipeline(spark, str(tmp_path / "wh"))
    out = pipe.stage_assets(src)
    got = {r["id"]: r["category.id"] for r in out.collect()}
    assert got == {1: "c10", 3: "c30"}
    assert "categories" not in out.columns
    assert out.columns.index("category.id") == min(8, len(out.columns) - 1)


def test_retry_self_heals_double_append(spark, fixtures, tmp_path, monkeypatch):
    """A post-append compaction failure triggers a full retry, which
    re-appends the delta; the retry's closing compaction must collapse
    the duplicates (last-wins on j_date+name) so the sink converges."""
    trades, instruments, assets, categories, exchanges = fixtures
    dims = {
        "instruments": instruments, "assets": assets,
        "categories": categories, "exchanges": exchanges,
    }
    wh = str(tmp_path / "wh")
    pipe = MedallionPipeline(
        spark, wh, range_start="1400/01/01", range_end="1402/12/29", retries=1
    )
    pipe.run_full_refresh({"trades_share": lambda: trades, **{
        k: (lambda v=v: v) for k, v in dims.items()
    }})
    delta = spark.createDataFrame(
        [(9, "14010104093000", 14.0, 15.0, 13.0, 14.5, 1.0, 8, 130, 1885.0, "i1", 9)],
        TRADES_SCHEMA,
    )
    calls = {"n": 0}
    orig = MedallionPipeline.compact_partitioned

    def flaky_compact(self, *a, **k):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient FS error")
        return orig(self, *a, **k)

    monkeypatch.setattr(MedallionPipeline, "compact_partitioned", flaky_compact)
    results = pipe.run_incremental(
        {"trades_share": lambda wm: delta.filter(
            F.col("`meta.version`") > F.lit(wm if wm is not None else -1)
        )},
        dims=dims,
    )
    r = next(x for x in results if x.table == "prd_trades_share")
    assert r.error is None and r.attempts == 2
    out = spark.read.parquet(table_path(wh, "prd", "trades_share"))
    dupes = out.groupBy("j_date", "name").count().filter("count > 1").count()
    assert dupes == 0
    assert out.filter(F.col("`meta.version`") == 9).count() == 1


def test_full_refresh_reports_missing_dims_instead_of_crashing(spark, fixtures, tmp_path):
    trades, instruments, _, categories, exchanges = fixtures
    pipe = MedallionPipeline(spark, str(tmp_path / "wh"))
    results = pipe.run_full_refresh({
        "trades_share": lambda: trades,
        "instruments": lambda: instruments,
        "categories": lambda: categories,
        "exchanges": lambda: exchanges,
        # assets extractor absent
    })
    errs = [r for r in results if r.table == "prd_trades_share"]
    assert errs and "assets" in errs[0].error


def test_full_refresh_reports_missing_indexes_dim(spark, tmp_path):
    """prd_indexvalues gets the same missing-dimension error surfacing
    as the trades tables (ADVICE r2) instead of a silent skip."""
    iv = spark.createDataFrame(
        [(1, "14010101093000", 10.0, 9.0, 11.0, 10.5, 0.5, "x1", 1)],
        "id long, date_time string, open_value double, low_value double, "
        "high_value double, close_value double, close_value_change double, "
        "`index.id` string, `meta.version` long",
    )
    pipe = MedallionPipeline(spark, str(tmp_path / "wh"))
    results = pipe.run_full_refresh({"indexvalues": lambda: iv})
    errs = [r for r in results if r.table == "prd_indexvalues"]
    assert errs and "indexes" in errs[0].error


def test_compact_recovers_from_crashed_swap(spark, tmp_path):
    """A crash between the two swap renames leaves the sink stranded in
    .old; the next compact restores it and completes (ADVICE r2)."""
    import shutil

    path = str(tmp_path / "sink")
    df = spark.createDataFrame(
        [(1, "a", 1), (2, "a", 2)], "id long, k string, `meta.version` long"
    )
    df.write.parquet(path)
    # simulate the crash window: path moved to .old, new data still in .tmp
    shutil.move(path, path + ".old")
    df.limit(1).write.parquet(path + ".tmp")
    pipe = MedallionPipeline(spark, str(tmp_path / "wh"))
    pipe.compact_partitioned(path, keys=["k"])
    out = spark.read.parquet(path)
    assert out.count() == 1 and out.first()["meta.version"] == 2
    import os

    assert not os.path.exists(path + ".old") and not os.path.exists(path + ".tmp")


# ------------------------------------------------------------ CLI face
def test_cli_create_update_dimdate(spark, fixtures, tmp_path):
    """python -m web_api_postgres_etl_spark: create (full refresh from a
    parquet landing zone) → update (watermark delta + compaction) →
    dimdate — the reference's two runnable scripts plus its calendar
    artifact, end-to-end."""
    from web_api_postgres_etl_spark.__main__ import main

    trades, instruments, assets, categories, exchanges = fixtures
    landing = str(tmp_path / "landing")
    wh = str(tmp_path / "wh")
    trades.write.parquet(f"{landing}/trades_share.parquet")
    instruments.write.parquet(f"{landing}/instruments.parquet")
    assets.write.parquet(f"{landing}/assets.parquet")
    categories.write.parquet(f"{landing}/categories.parquet")
    exchanges.write.parquet(f"{landing}/exchanges.parquet")

    rc = main(
        ["create", "--warehouse", wh, "--landing", landing,
         "--range-start", "1400/01/01", "--range-end", "1402/01/01"],
        spark=spark,
    )
    assert rc == 0
    prd = spark.read.parquet(f"{wh}/prd_trades_share")
    n_initial = prd.count()
    assert n_initial > 0

    # update: one new version lands, one old version is re-delivered
    delta = spark.createDataFrame(
        [
            (2, "14010102093000", 11.0, 13.0, 10.0, 12.5, 1.5, 6, 110, 1375.0, "i1", 5),
        ],
        TRADES_SCHEMA,
    )
    trades.unionByName(delta).write.mode("overwrite").parquet(
        f"{landing}/trades_share.parquet"
    )
    rc = main(
        ["update", "--warehouse", wh, "--landing", landing,
         "--range-start", "1400/01/01", "--range-end", "1402/01/01"],
        spark=spark,
    )
    assert rc == 0
    after = spark.read.parquet(f"{wh}/prd_trades_share")
    assert after.count() == n_initial  # compaction collapsed the upsert
    assert after.filter("id = 2").first()["close_price"] == 12.5

    rc = main(
        ["dimdate", "--warehouse", wh, "--start-jyear", "1400", "--end-jyear", "1401"],
        spark=spark,
    )
    assert rc == 0
    assert spark.read.parquet(f"{wh}/prd_dim_date").count() == 365 + 365


def test_cli_update_skips_unsupported_tables_loudly(spark, fixtures, tmp_path, capsys):
    """Review regression: a landing table with no incremental path must
    be reported as skipped (never silently ignored), and dims include
    'indexes' so indexvalues updates can resolve their dimension."""
    import json as _json

    from web_api_postgres_etl_spark.__main__ import _DIMS, main

    assert "indexes" in _DIMS
    trades, instruments, assets, categories, exchanges = fixtures
    landing = str(tmp_path / "landing")
    wh = str(tmp_path / "wh")
    for name, df in [
        ("trades_share", trades), ("instruments", instruments),
        ("assets", assets), ("categories", categories),
        ("exchanges", exchanges),
    ]:
        df.write.parquet(f"{landing}/{name}.parquet")
    # a table the runner has no path for at all
    spark.createDataFrame(
        [(1, 1)], "id long, `meta.version` long"
    ).write.parquet(f"{landing}/mystery_feed.parquet")
    args = ["--warehouse", wh, "--landing", landing,
            "--range-start", "1400/01/01", "--range-end", "1402/01/01"]
    assert main(["create", *args], spark=spark) == 0
    capsys.readouterr()
    assert main(["update", *args], spark=spark) == 0
    out = [_json.loads(line) for line in capsys.readouterr().out.splitlines() if line.strip()]
    skipped = [o for o in out if o.get("skipped")]
    assert [o["table"] for o in skipped] == ["mystery_feed"]
    assert any(o.get("table") == "prd_trades_share" and not o.get("error") for o in out)


def test_cli_alert_log_records_failures(spark, fixtures, tmp_path, capsys):
    """r13: `create --alert-log` wires the file alerter — a landing
    table whose parquet is unreadable fails its load (retries
    exhausted) and lands one JSON alert line; healthy tables load and
    do not alert; the run still exits non-zero (failures present)."""
    import json as _json

    from web_api_postgres_etl_spark.__main__ import main

    trades, instruments, assets, categories, exchanges = fixtures
    landing = str(tmp_path / "landing")
    for name, df in [
        ("trades_share", trades), ("instruments", instruments),
        ("assets", assets), ("categories", categories),
        ("exchanges", exchanges),
    ]:
        df.write.parquet(f"{landing}/{name}.parquet")
    # a .parquet path that is not parquet — the read fails per-table
    with open(f"{landing}/broken_feed.parquet", "w") as fh:
        fh.write("not parquet")
    log = str(tmp_path / "alerts.jsonl")
    rc = main(
        ["create", "--warehouse", str(tmp_path / "wh"),
         "--landing", landing, "--range-start", "1400/01/01",
         "--range-end", "1402/01/01", "--alert-log", log],
        spark=spark,
    )
    assert rc != 0  # failures present
    capsys.readouterr()
    lines = [
        _json.loads(x)
        for x in open(log, encoding="utf-8").read().splitlines()
    ]
    assert [x["table"] for x in lines] == ["src_broken_feed"]
    assert lines[0]["attempts"] == 2  # default retries=1 exhausted


def test_news_full_and_incremental(spark, tmp_path):
    """The reference's news lifecycle (create_prd_news + update append
    and (j_date, title) last-wins dedup — mabna_tables_create.py:259,
    mabna_tables_update.py:290-330): full refresh publishes prd_news;
    the incremental run appends the delta and compaction keeps the
    newest version per (j_date, title)."""
    NEWS_SCHEMA = (
        "id long, date_time string, title string, text string, `meta.version` long"
    )
    wh = str(tmp_path / "wh")
    initial = spark.createDataFrame(
        [
            (1, "14010101093000", "Budget passes", "v1 body", 1),
            (2, "14010102093000", "Markets open", "body", 2),
        ],
        NEWS_SCHEMA,
    )
    pipe = MedallionPipeline(spark, wh, range_start="1400/01/01", range_end="1402/01/01")
    pipe.run_full_refresh({"news": lambda: initial})
    prd = table_path(wh, "prd", "news")
    assert spark.read.parquet(prd).count() == 2
    assert any(r.table == "prd_news" and not r.error for r in pipe.results)

    # delta: re-issue of article 1 (same j_date+title, newer version)
    # plus one new article
    delta = spark.createDataFrame(
        [
            (3, "14010101110000", "Budget passes", "v2 body", 3),
            (4, "14010103093000", "Rates decision", "body", 4),
        ],
        NEWS_SCHEMA,
    )
    pipe.run_incremental(
        {"news": lambda wm: delta.filter(F.col("`meta.version`") > F.lit(wm or 0))},
        dims={},
    )
    rows = {(r.j_date, r.title): r for r in spark.read.parquet(prd).collect()}
    assert len(rows) == 3  # upsert collapsed, new article landed
    assert rows[("1401/01/01", "Budget passes")].text == "v2 body"
    # the watermark PROBE is really wired for news: the rerun's
    # extractor must receive the post-delta max version (compaction
    # would mask a broken probe if we only asserted the row count)
    seen_wm: list = []

    def probe_extract(wm):
        seen_wm.append(wm)
        return delta.filter(F.col("`meta.version`") > F.lit(wm or 0))

    pipe.run_incremental({"news": probe_extract}, dims={})
    assert seen_wm == [4]
    assert spark.read.parquet(prd).count() == 3
    # the runner's DEFENSIVE filter holds even when the extractor
    # ignores its watermark: nothing new lands
    pipe.run_incremental({"news": lambda wm: delta}, dims={})
    final = spark.read.parquet(prd)
    assert final.count() == 3
    assert {r.text for r in final.collect()} == {"v2 body", "body"}


def test_cli_profile(spark, tmp_path, capsys):
    """The profile subcommand prints skew rows for one table and the
    join price + hot keys for two."""
    import json as _json

    from web_api_postgres_etl_spark.__main__ import main

    t1 = str(tmp_path / "t1.parquet")
    t2 = str(tmp_path / "t2.parquet")
    spark.createDataFrame([("a",)] * 6 + [("b",)] * 2, "k string").write.parquet(t1)
    spark.createDataFrame([("a",)] * 3 + [("c",)], "k string").write.parquet(t2)

    assert main(["profile", "--table", t1, "--keys", "k"], spark=spark) == 0
    rows = [_json.loads(x) for x in capsys.readouterr().out.splitlines() if x.strip()]
    assert rows[0]["k"] == "a" and rows[0]["n_rows"] == 6

    assert main(["profile", "--table", t1, "--keys", "k", "--join", t2], spark=spark) == 0
    out = [_json.loads(x) for x in capsys.readouterr().out.splitlines() if x.strip()]
    # decimal counters serialize via str (json has no Decimal)
    assert int(out[0]["est_join_rows"]) == 18  # 6x3 on 'a'
    assert (out[1]["k"], int(out[1]["join_rows"]), out[1]["n_left"], out[1]["n_right"]) == ("a", 18, 6, 3)


def test_cli_profile_quantiles(spark, tmp_path, capsys):
    """profile --quantiles prints per-key sampled percentiles (exact
    here — the table is smaller than the sample cap) and demands the
    unique-id column."""
    import json as _json

    import pytest as _pt

    from web_api_postgres_etl_spark.__main__ import main

    t = str(tmp_path / "q.parquet")
    spark.createDataFrame(
        [(i, "ab"[i % 2], float(i)) for i in range(100)],
        "id long, g string, v double",
    ).write.parquet(t)
    assert main(
        ["profile", "--table", t, "--quantiles", "v", "--id-col", "id",
         "--keys", "g", "--probs", "0.5"],
        spark=spark,
    ) == 0
    rows = {
        r["g"]: r
        for r in (
            _json.loads(x)
            for x in capsys.readouterr().out.splitlines() if x.strip()
        )
    }
    # 50 even values 0..98: exact PERCENTILE_CONT p50 = 49.0; odds = 50.0
    assert rows["a"]["n_rows"] == 50 and rows["a"]["p0.5"] == 49.0
    assert rows["b"]["p0.5"] == 50.0
    with _pt.raises(SystemExit, match="id-col"):
        main(["profile", "--table", t, "--quantiles", "v"], spark=spark)


def test_cli_compact(spark, tmp_path, capsys):
    """The compact subcommand collapses duplicate versions — whole
    table and partition-scoped forms."""
    import json as _json

    from web_api_postgres_etl_spark.__main__ import main

    schema = "id long, j_month string, name string, `meta.version` long, v double"
    path = str(tmp_path / "tbl")
    spark.createDataFrame(
        [
            (1, "140101", "a", 1, 1.0),
            (2, "140101", "a", 2, 2.0),  # newer version of the same key
            (3, "140102", "b", 3, 3.0),
        ],
        schema,
    ).write.partitionBy("j_month").parquet(path)
    rc = main(
        ["compact", "--table", path, "--keys", "name",
         "--partition-col", "j_month", "--touched", "140101"],
        spark=spark,
    )
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert (out["rows_before"], out["rows_after"], out["collapsed"]) == (3, 2, 1)
    rows = {r.name: r["meta.version"] for r in spark.read.parquet(path).collect()}
    assert rows == {"a": 2, "b": 3}

    # whole-table form (rename swap)
    flat = str(tmp_path / "flat")
    spark.createDataFrame(
        [(1, "x", 1, 1.0), (2, "x", 5, 9.0)],
        "id long, name string, `meta.version` long, v double",
    ).write.parquet(flat)
    assert main(["compact", "--table", flat, "--keys", "name"], spark=spark) == 0
    assert [r["meta.version"] for r in spark.read.parquet(flat).collect()] == [5]


def test_cli_compact_without_touched_collapses_every_month(spark, tmp_path, capsys):
    """--partition-col without --touched compacts every partition. The
    table is named by a file: URI: the months are found through Spark's
    own read, not a local directory listing (which finds nothing under
    a URI, the way it finds nothing on an HDFS/S3 warehouse)."""
    import json as _json

    from web_api_postgres_etl_spark.__main__ import main

    path = str(tmp_path / "tbl")
    spark.createDataFrame(
        [
            (1, "1401-01", "a", 1), (2, "1401-01", "a", 2),
            (3, "1401-02", "b", 3), (4, "1401-02", "b", 4), (5, "1401-02", "c", 5),
        ],
        "id long, j_month string, name string, `meta.version` long",
    ).write.partitionBy("j_month").parquet(path)
    with pytest.raises(SystemExit, match="hive-partitioned"):
        main(["compact", "--table", "file://" + path, "--keys", "name"], spark=spark)
    rc = main(
        ["compact", "--table", "file://" + path, "--keys", "name",
         "--partition-col", "j_month"],
        spark=spark,
    )
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert (out["rows_before"], out["rows_after"]) == (5, 3)
    rows = {(r.j_month, r.name): r["meta.version"] for r in spark.read.parquet(path).collect()}
    assert rows == {("1401-01", "a"): 2, ("1401-02", "b"): 4, ("1401-02", "c"): 5}


def test_compact_refuses_a_remote_table_before_writing(spark):
    """The swap moves directories with os/shutil, so a table on a
    non-local filesystem is refused at entry, loudly — never a silent
    no-op that reports success."""
    pipe = MedallionPipeline(spark, warehouse="")
    with pytest.raises(ValueError, match="local-filesystem scoped"):
        pipe.compact_partitioned(
            "s3a://bucket/prd_news", keys=["title"], partition_col="j_month"
        )


def test_cli_compact_guards(spark, tmp_path):
    """Review regressions: empty --keys refuses (would collapse the
    table to one row); --touched without --partition-col refuses;
    a partitioned table without --partition-col refuses (flattening);
    a crashed swap is healed before the pre-count."""
    import shutil

    import pytest

    from web_api_postgres_etl_spark.__main__ import main

    path = str(tmp_path / "tbl")
    spark.createDataFrame(
        [(1, "140101", "a", 1, 1.0), (2, "140101", "a", 2, 2.0)],
        "id long, j_month string, name string, `meta.version` long, v double",
    ).write.partitionBy("j_month").parquet(path)
    with pytest.raises(SystemExit, match="at least one column"):
        main(["compact", "--table", path, "--keys", " , "], spark=spark)
    with pytest.raises(SystemExit, match="requires --partition-col"):
        main(["compact", "--table", path, "--keys", "name", "--touched", "140101"], spark=spark)
    with pytest.raises(SystemExit, match="hive-partitioned"):
        main(["compact", "--table", path, "--keys", "name"], spark=spark)
    # crashed swap: live data in .old, path missing — compact heals it
    flat = str(tmp_path / "flat")
    spark.createDataFrame(
        [(1, "x", 1, 1.0), (2, "x", 5, 9.0)],
        "id long, name string, `meta.version` long, v double",
    ).write.parquet(flat)
    shutil.move(flat, flat + ".old")
    assert main(["compact", "--table", flat, "--keys", "name"], spark=spark) == 0
    assert [r["meta.version"] for r in spark.read.parquet(flat).collect()] == [5]


def test_cli_fingerprint(spark, tmp_path, capsys):
    """The fingerprint subcommand prints (n_rows, fingerprint) JSON; the
    --vs comparison exits 0 on a content match (repartitioned rewrite)
    and 3 on a mismatch, with both sides in the payload."""
    import json

    from web_api_postgres_etl_spark.__main__ import main

    t1 = str(tmp_path / "a")
    t2 = str(tmp_path / "b")
    t3 = str(tmp_path / "c")
    df = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, None)], "id long, s string"
    )
    df.write.parquet(t1)
    df.repartition(5).write.parquet(t2)           # same content, new layout
    df.filter("id != 2").write.parquet(t3)        # different content

    assert main(["fingerprint", "--table", t1], spark=spark) == 0
    solo = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert solo["n_rows"] == 3 and int(solo["fingerprint"]) > 0

    assert main(
        ["fingerprint", "--table", t1, "--vs", t2], spark=spark
    ) == 0
    match = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert match["match"] is True
    assert match["fingerprint"] == match["vs"]["fingerprint"]

    assert main(
        ["fingerprint", "--table", t1, "--vs", t3, "--cols", "id,s"],
        spark=spark,
    ) == 3
    diff = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert diff["match"] is False and diff["vs"]["n_rows"] == 2


def test_cli_annindex_lifecycle(spark, tmp_path, capsys):
    """The annindex subcommand drives the whole IVF-PQ lifecycle from
    the shell: build reports sidecar shapes, probe's top-k equals the
    operator API's bit-for-bit, append lands only fresh ids, and
    compact shrinks the post-append small files with the probe result
    unchanged."""
    import json

    from web_api_postgres_etl_spark.__main__ import main
    from web_api_postgres_etl_spark.operators.similarity import ivf_pq_probe

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = str(tmp_path / "corpus")
    batch = str(tmp_path / "batch")
    idx = str(tmp_path / "idx")
    n_corpus = emb.filter("vec_id <= 400").count()
    n_fresh = emb.filter("vec_id > 400").count()
    emb.filter("vec_id <= 400").write.parquet(corpus)
    emb.filter("vec_id > 350").write.parquet(batch)  # overlap + fresh
    qvec = [
        float(x) for x in emb.filter("vec_id = 7").first()["embedding"]
    ]
    qjson = json.dumps(qvec)

    common = ["annindex", "--index", idx, "--every", "11",
              "--centroids", "4", "--pq-k", "8"]
    assert main(common + ["build", "--corpus", corpus], spark=spark) == 0
    built = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert built["rows"] == n_corpus and built["clusters"] == 4
    assert built["m"] == 4 and built["codes_per_subspace"] == [8] * 4

    assert main(common + ["probe", "--query-json", qjson, "--k", "5"],
                spark=spark) == 0
    probed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    want = [
        {"id": r[0], "adc_dist": r[1]}
        for r in ivf_pq_probe(spark, idx, qvec, k=5, nprobe=2).collect()
    ]
    assert probed["topk"] == want

    assert main(common + ["append", "--batch", batch], spark=spark) == 0
    appended = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert appended["appended"] == n_fresh  # replayed ids skipped

    assert main(common + ["compact"], spark=spark) == 0
    compacted = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert compacted["files_after"] < compacted["files_before"]
    assert main(common + ["probe", "--query-json", qjson, "--k", "5"],
                spark=spark) == 0
    again = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # vec_ids 401-500 are now probeable; the original 5 survive compaction
    assert {t["id"] for t in probed["topk"]} <= {
        t["id"] for t in again["topk"]
    } | {t["id"] for t in probed["topk"]}
    assert main(common + ["probe", "--query-json", qjson, "--k", "5"],
                spark=spark) == 0
    capsys.readouterr()

    # nnjoin: a query TABLE against the same index from the shell —
    # the written per-query top-k equals the operator API bit-for-bit
    from pyspark.sql import functions as F

    from web_api_postgres_etl_spark.operators.similarity import (
        ivf_pq_nn_join,
    )

    qtab = str(tmp_path / "queries")
    nnout = str(tmp_path / "nnout")
    emb.filter("vec_id % 151 = 7").select(
        F.col("vec_id").alias("query_id"), "embedding"
    ).write.parquet(qtab)
    assert main(
        common + ["nnjoin", "--queries", qtab, "--out", nnout,
                  "--k", "5"],
        spark=spark,
    ) == 0
    nn = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    want_nn = sorted(
        tuple(r)
        for r in ivf_pq_nn_join(
            spark.read.parquet(qtab), idx, k=5, nprobe=2
        ).collect()
    )
    got_nn = sorted(
        tuple(r) for r in spark.read.parquet(nnout).collect()
    )
    assert got_nn == want_nn
    assert nn["rows"] == len(want_nn)
    assert nn["queries"] == len({t[0] for t in want_nn})

    # rerank (r13): the three-stage read from the shell — shortlist +
    # exact re-rank over the full float table ≡ the operator API
    from web_api_postgres_etl_spark.operators.similarity import (
        nn_rerank_exact,
    )

    alltab = str(tmp_path / "allvecs")
    emb.write.parquet(alltab)
    rrout = str(tmp_path / "rrout")
    assert main(
        common + ["rerank", "--queries", qtab, "--corpus", alltab,
                  "--out", rrout, "--k", "5", "--rerank-k", "3"],
        spark=spark,
    ) == 0
    rr = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    want_rr = sorted(
        tuple(r)
        for r in nn_rerank_exact(
            ivf_pq_nn_join(spark.read.parquet(qtab), idx, k=5, nprobe=2),
            spark.read.parquet(alltab), spark.read.parquet(qtab),
            k=3, metric="cosine",
        ).collect()
    )
    got_rr = sorted(tuple(r) for r in spark.read.parquet(rrout).collect())
    assert got_rr == want_rr
    assert rr["rows"] == len(want_rr) and rr["metric"] == "cosine"

    # dedup (r13): a replayed batch (rows already in the index, same
    # ids) fully survives in exact mode (self-match-exempt); exact
    # copies under NEW ids are dropped
    replay = str(tmp_path / "replay")
    emb.filter("vec_id % 97 = 11").write.parquet(replay)
    dd1 = str(tmp_path / "dd1")
    assert main(
        common + ["dedup", "--batch", replay, "--corpus", alltab,
                  "--out", dd1, "--min-cosine", "0.999999"],
        spark=spark,
    ) == 0
    d1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert d1["dropped"] == 0 and d1["survivors"] == d1["batch_rows"]
    copies = str(tmp_path / "copies")
    emb.filter("vec_id % 97 = 11").select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding", "label"
    ).write.parquet(copies)
    dd2 = str(tmp_path / "dd2")
    assert main(
        common + ["dedup", "--batch", copies, "--corpus", alltab,
                  "--out", dd2, "--min-cosine", "0.999999"],
        spark=spark,
    ) == 0
    d2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert d2["dropped"] == d2["batch_rows"] and d2["survivors"] == 0
    # guard: dedup without a threshold mode raises through the
    # operator's own ValueError
    import pytest as _pt2
    with _pt2.raises(ValueError, match="exactly one"):
        main(
            common + ["dedup", "--batch", replay, "--out", dd2],
            spark=spark,
        )

    # stats: per-cluster totals agree with the code table; the corpus
    # form adds the reconstruction-error columns
    assert main(common + ["stats"], spark=spark) == 0
    st = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st["total_rows"] == spark.read.parquet(idx).count()
    assert all("n_files" in c for c in st["clusters"])
    assert main(common + ["stats", "--corpus", corpus], spark=spark) == 0
    st2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert all(
        c["avg_sq_err"] is None or c["avg_sq_err"] >= 0.0
        for c in st2["clusters"]
    )

    # recall: the CLI face of ann_recall_at_k over the same query
    # table — mean recall well-defined, per-query hits in [0, k]
    assert main(
        common + ["recall", "--queries", qtab, "--corpus", corpus,
                  "--k", "5"],
        spark=spark,
    ) == 0
    rec = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rec["queries"] == spark.read.parquet(qtab).count()
    assert 0.0 <= rec["mean_recall"] <= 1.0
    assert all(0 <= p["n_hits"] <= 5 for p in rec["per_query"])
    # r13: the recall JSON reports the index mode so residual-vs-plain
    # comparisons are attributable (this index was built plain)
    assert rec["residual"] is False

    # guards: missing required operand exits via SystemExit
    import pytest as _pt
    with _pt.raises(SystemExit):
        main(["annindex", "build", "--index", idx], spark=spark)
    with _pt.raises(SystemExit):
        main(["annindex", "nnjoin", "--index", idx], spark=spark)
    with _pt.raises(SystemExit):
        main(["annindex", "recall", "--index", idx], spark=spark)


def test_fs_probes_and_empty_partitioned_sink(spark, tmp_path):
    """r14 (ADVICE): warehouse existence checks go through the Hadoop
    FileSystem API (scheme-aware — an HDFS/S3 warehouse would read as
    universally absent to os.path.exists), and the watermark probe
    distinguishes the two faces Spark reports identically as
    UNABLE_TO_INFER_SCHEMA: a zero-row partitioned write (only
    _SUCCESS on disk) legitimately probes None; a dir with present
    data files is has_data_files=True and any read failure there
    propagates."""
    from web_api_postgres_etl_spark.plans.fs import (
        has_data_files,
        path_exists,
    )
    from web_api_postgres_etl_spark.plans.watermark import WatermarkManager

    ok = str(tmp_path / "ok")
    spark.createDataFrame([(1, 7)], "id long, `meta.version` long").write.parquet(ok)
    assert path_exists(spark, ok) and has_data_files(spark, ok)
    # file:// URIs resolve the same way
    assert path_exists(spark, "file://" + ok)
    assert not path_exists(spark, str(tmp_path / "nope"))
    assert not has_data_files(spark, str(tmp_path / "nope"))

    # zero-row partitioned write → only _SUCCESS in the dir
    empty = str(tmp_path / "empty")
    spark.createDataFrame([], "id long, p long, `meta.version` long").write.partitionBy(
        "p"
    ).parquet(empty)
    assert path_exists(spark, empty) and not has_data_files(spark, empty)
    wm = WatermarkManager(spark, str(tmp_path))
    assert wm.probe({"t": empty}) == {"t": None}


# ------------------------------------------------- footer watermark probe
def _scan_wm(spark, path):
    """The Spark-scan answer: max_watermark(spark.read.parquet(path)),
    None where the column cannot be resolved."""
    return WatermarkManager(spark, path)._scan_max(path)


def _arrow_sink(path, *tables, **write_kw):
    """A sink dir of one pyarrow-written part file per table."""
    import os

    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    for i, t in enumerate(tables):
        pq.write_table(t, os.path.join(path, f"part-{i:05d}.parquet"), **write_kw)
    return path


def _no_scan(monkeypatch):
    """Make the Spark-scan fallback fail: a probe must answer from footers."""

    def scan(self, path):
        raise AssertionError(f"the footers should have answered {path}")

    monkeypatch.setattr(WatermarkManager, "_scan_max", scan)


def test_footer_probe_matches_the_spark_scan(spark, tmp_path, monkeypatch):
    """Where the footers can answer, the probe equals
    max_watermark(spark.read.parquet(p)) without running the scan,
    including None for an all-null column and for a nested leaf."""
    import pyarrow as pa

    monthly = str(tmp_path / "monthly")
    spark.createDataFrame(
        [(i, f"1401{i % 4 + 1:02d}", i * 7 % 101) for i in range(200)],
        "id long, j_month string, `meta.version` long",
    ).repartition(3).write.partitionBy("j_month").parquet(monthly)
    groups = _arrow_sink(
        str(tmp_path / "groups"),
        pa.table({"id": list(range(100)), "meta.version": [(i * 37) % 1000 for i in range(100)]}),
        row_group_size=7,
    )
    negative = str(tmp_path / "negative")
    spark.createDataFrame([(1, -9), (2, -3), (3, None)], "id long, `meta.version` long") \
        .write.parquet(negative)
    int32 = str(tmp_path / "int32")
    spark.createDataFrame([(1, 5), (2, 41)], "id long, `meta.version` int").write.parquet(int32)
    nested = str(tmp_path / "nested")
    spark.createDataFrame([(1, (8,))], "id long, meta struct<version: long>").write.parquet(nested)
    nulls = str(tmp_path / "nulls")
    spark.createDataFrame([(1, None), (2, None)], "id long, `meta.version` long").write.parquet(nulls)
    one_file = next(str(f) for f in (tmp_path / "int32").glob("part-*.parquet"))
    cases = {
        "monthly": monthly, "groups": groups, "negative": negative,
        "int32": int32, "nested": nested, "nulls": nulls,
        "uri": "file://" + monthly, "one_file": one_file,
    }
    expected = {name: _scan_wm(spark, p) for name, p in cases.items()}
    assert expected["groups"] == 999 and expected["negative"] == -3
    assert expected["nested"] is None  # `meta.version` is one flat column, not meta{version}
    assert expected["nulls"] is None  # an all-null column has no max
    _no_scan(monkeypatch)
    assert WatermarkManager(spark, str(tmp_path)).probe(cases) == expected


def test_footer_probe_ignores_hidden_files(spark, tmp_path):
    """Files Spark's file index never reads (a _temporary attempt dir, a
    dot-file) must not raise the watermark, even holding a larger one."""
    import os
    import shutil

    sink = str(tmp_path / "sink")
    spark.createDataFrame([(1, 7), (2, 9)], "id long, `meta.version` long").write.parquet(sink)
    part = next(f for f in os.listdir(sink) if f.endswith(".parquet"))
    big = str(tmp_path / "big")
    spark.createDataFrame([(3, 10**6)], "id long, `meta.version` long").coalesce(1).write.parquet(big)
    big_part = os.path.join(big, next(f for f in os.listdir(big) if f.endswith(".parquet")))
    os.makedirs(os.path.join(sink, "_temporary", "0"))
    shutil.copy(big_part, os.path.join(sink, "_temporary", "0", part))
    shutil.copy(big_part, os.path.join(sink, ".x.parquet"))
    assert WatermarkManager(spark, str(tmp_path)).probe({"t": sink}) == {"t": 9}
    assert _scan_wm(spark, sink) == 9


def test_scan_probe_reads_a_crashed_first_write_as_missing(spark, tmp_path, monkeypatch):
    """A sink holding only a crashed first write's ``_temporary/``
    attempt probes None on the scan path too (every remote sink takes
    it), as on the footer path: the attempt's part file is not a data
    file, so Spark's UNABLE_TO_INFER_SCHEMA there means "no table yet",
    not "corrupt"."""
    import os
    import shutil

    from web_api_postgres_etl_spark.plans.watermark import _NeedsScan

    done = str(tmp_path / "done")
    spark.createDataFrame([(1, 7)], "id long, `meta.version` long").write.parquet(done)
    sink = str(tmp_path / "sink")
    os.makedirs(os.path.join(sink, "_temporary", "0", "task_0"))
    part = next(f for f in os.listdir(done) if f.endswith(".parquet"))
    shutil.copy(os.path.join(done, part), os.path.join(sink, "_temporary", "0", "task_0", part))
    wm = WatermarkManager(spark, str(tmp_path))
    assert wm.probe({"t": sink}) == {"t": None}

    def no_footers(self, path):
        raise _NeedsScan

    monkeypatch.setattr(WatermarkManager, "_footer_max", no_footers)
    assert wm.probe({"t": sink}) == {"t": None}


def test_footer_probe_falls_back_where_footers_cannot_answer(spark, tmp_path, monkeypatch):
    """No min/max statistics, a version column that is not a plain
    signed integer, one named in another letter case (Spark resolves
    names case-insensitively by default), or a sink partitioned by the
    version column: the probe runs the Spark scan and returns its answer."""
    import datetime

    import pyarrow as pa

    nostats = _arrow_sink(
        str(tmp_path / "nostats"),
        pa.table({"id": [1, 2, 3], "meta.version": [4, 11, 6]}),
        write_statistics=False,
    )
    ts = str(tmp_path / "ts")
    spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 2)), (2, datetime.datetime(2024, 3, 4))],
        "id long, `meta.version` timestamp",
    ).write.parquet(ts)
    upper = str(tmp_path / "upper")
    spark.createDataFrame([(1, 3)], "id long, `Meta.Version` long").write.parquet(upper)
    by_version = str(tmp_path / "by_version")
    spark.createDataFrame([(1, 5), (2, 8)], "id long, `meta.version` long") \
        .write.partitionBy("meta.version").parquet(by_version)
    cases = {"nostats": nostats, "ts": ts, "upper": upper, "by_version": by_version}
    expected = {name: _scan_wm(spark, p) for name, p in cases.items()}
    assert expected["nostats"] == 11 and expected["by_version"] == 8
    scanned = []
    scan = WatermarkManager._scan_max
    monkeypatch.setattr(
        WatermarkManager, "_scan_max", lambda self, p: scanned.append(p) or scan(self, p)
    )
    assert WatermarkManager(spark, str(tmp_path)).probe(cases) == expected
    assert scanned == list(cases.values())


def test_footer_probe_takes_the_max_over_files_that_carry_the_column(spark, tmp_path, monkeypatch):
    """A sink whose files disagree on the version column (some written
    before it existed): the watermark is the max over the files that
    carry it, whichever footer Spark would infer the schema from."""
    import pyarrow as pa

    sink = _arrow_sink(
        str(tmp_path / "mixed"),
        pa.table({"id": [1, 2]}),
        pa.table({"id": [3], "meta.version": [5]}),
        pa.table({"id": [4]}),
    )
    _no_scan(monkeypatch)
    assert WatermarkManager(spark, str(tmp_path)).probe({"t": sink}) == {"t": 5}


def test_footer_probe_submits_no_spark_job(spark, tmp_path):
    """On a local sink the probe reads parquet footers on the driver:
    no Spark job is submitted (the scan costs listing, schema-inference
    and aggregate jobs per table)."""
    sc = spark.sparkContext
    sink = str(tmp_path / "monthly")
    spark.createDataFrame(
        [(i, f"1401{i % 3 + 1:02d}", i) for i in range(30)],
        "id long, j_month string, `meta.version` long",
    ).write.partitionBy("j_month").parquet(sink)
    sc.setJobGroup("footer-probe", "watermark probe")
    try:
        out = WatermarkManager(spark, str(tmp_path)).probe({"t": sink})
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert out == {"t": 29}
    assert list(sc.statusTracker().getJobIdsForGroup("footer-probe")) == []


def test_entry_session_key_and_memo_eviction():
    """r14 (ADVICE): the entry-file memo caches key on a stable
    session identifier, not id(spark) — a recycled id must never hand
    a new session a dead session's DataFrames — and a miss under a new
    session evicts the dead session's entries instead of growing
    forever."""
    import __spark_entry__ as entrymod

    class FakeSession:
        pass

    cache: dict = {}
    s1 = FakeSession()
    v1 = entrymod._memo(cache, s1, ("t",), lambda: "one")
    assert v1 == "one" and len(cache) == 1
    # hit: no rebuild
    assert entrymod._memo(cache, s1, ("t",), lambda: "BOOM") == "one"
    k1 = entrymod._session_key(s1)
    # the key is stamped on the object: same key, no recompute drift
    assert entrymod._session_key(s1) == k1
    # a NEW session (the fallback key embeds id(); force distinctness
    # by keeping s1 alive) misses and evicts s1's entries
    s2 = FakeSession()
    assert entrymod._session_key(s2) != k1
    v2 = entrymod._memo(cache, s2, ("t",), lambda: "two")
    assert v2 == "two"
    assert len(cache) == 1 and list(cache)[0][0] == entrymod._session_key(s2)


# ------------------------------------------------- per-table concurrency
IV_SCHEMA = (
    "id long, date_time string, open_value double, low_value double, "
    "high_value double, close_value double, close_value_change double, "
    "`index.id` string, `meta.version` long"
)
NEWS_SCHEMA = "id long, date_time string, title string, text string, `meta.version` long"


def _three_tables(spark, fixtures, wh, **kw):
    """A refreshed warehouse of three fact tables (trades_share,
    indexvalues, news), its pipeline and the dims a tick joins; ``tick(v)``
    builds extractors delivering one new row per table at version ``v``."""
    trades, instruments, assets, categories, exchanges = fixtures
    indexes = spark.createDataFrame([("x1", "Index One")], "id string, name string")
    dims = {
        "instruments": instruments, "assets": assets, "categories": categories,
        "exchanges": exchanges, "indexes": indexes,
    }
    iv = spark.createDataFrame(
        [(1, "14010101093000", 10.0, 9.0, 11.0, 10.5, 0.5, "x1", 1)], IV_SCHEMA
    )
    news = spark.createDataFrame(
        [(1, "14010101093000", "Budget passes", "v1 body", 1)], NEWS_SCHEMA
    )
    pipe = MedallionPipeline(
        spark, wh, range_start="1400/01/01", range_end="1402/12/29", **kw
    )
    results = pipe.run_full_refresh({
        "trades_share": lambda: trades, "indexvalues": lambda: iv,
        "news": lambda: news, **{k: (lambda v=v: v) for k, v in dims.items()},
    })
    assert not [r for r in results if r.error], results

    def tick(v: int):
        day = f"140102{v % 28 + 1:02d}093000"
        rows = {
            "trades_share": spark.createDataFrame(
                [(v, day, 10.0, 12.0, 9.0, 11.0, 1.0, 5, 100, 1100.0, "i1", v)],
                TRADES_SCHEMA),
            "indexvalues": spark.createDataFrame(
                [(v, day, 10.0, 9.0, 11.0, 10.5, 0.5, "x1", v)], IV_SCHEMA),
            "news": spark.createDataFrame(
                [(v, day, f"story {v}", "body", v)], NEWS_SCHEMA),
        }
        return {k: (lambda wm, df=df: df) for k, df in rows.items()}

    return pipe, dims, tick


@pytest.mark.parametrize("fact", ["trades_share", "news", "indexvalues"])
def test_refresh_keeps_tick_rows_of_a_fact_it_did_not_ingest(spark, fixtures, tmp_path, fact):
    """A tick appends to prd only, never to stg: a later refresh that
    does not ingest the ticked fact leaves its prd as is, tick row
    included, instead of rebuilding it from the older stg. The facts no
    tick touched still republish from their stg."""
    pipe, dims, tick = _three_tables(spark, fixtures, str(tmp_path / "wh"))
    results = pipe.run_incremental({fact: tick(9)[fact]}, dims)
    assert not [r for r in results if r.error], results
    prd = table_path(pipe.warehouse, "prd", fact)
    before = sorted(map(tuple, spark.read.parquet(prd).collect()))
    assert 9 in {row[-2] for row in before}  # meta.version, then j_month

    results = pipe.run_full_refresh({k: (lambda v=v: v) for k, v in dims.items()})
    assert not [r for r in results if r.error], results
    others = [f for f in ("trades_share", "indexvalues", "news") if f != fact]
    assert [r.table for r in results if r.table.startswith("prd_")] == [
        f"prd_{f}" for f in others
    ]
    assert sorted(map(tuple, spark.read.parquet(prd).collect())) == before


def test_concurrent_tick_isolates_a_failing_table(spark, fixtures, tmp_path):
    """One extractor of three raises: the other two tables land, the
    failing one is reported with its error, results keep table order and
    the alert hook fires exactly once, from the calling thread."""
    import threading

    alerts: list = []
    pipe, dims, tick = _three_tables(
        spark, fixtures, str(tmp_path / "wh"), retries=0,
        on_failure=lambda r: alerts.append((r.table, threading.current_thread())),
    )
    extractors = tick(10)

    def broken(_wm):
        raise RuntimeError("indexvalues feed down")

    extractors["indexvalues"] = broken
    results = pipe.run_incremental(extractors, dims)
    assert [r.table for r in results] == [
        "prd_trades_share", "prd_indexvalues", "prd_news"
    ]
    by_table = {r.table: r for r in results}
    assert "indexvalues feed down" in by_table["prd_indexvalues"].error
    assert by_table["prd_trades_share"].error is None
    assert by_table["prd_news"].error is None
    assert alerts == [("prd_indexvalues", threading.current_thread())]
    wh = str(tmp_path / "wh")
    for table in ("trades_share", "news"):
        got = spark.read.parquet(table_path(wh, "prd", table))
        assert got.filter(F.col("`meta.version`") == 10).count() == 1, table
    iv = spark.read.parquet(table_path(wh, "prd", "indexvalues"))
    assert iv.agg(F.max("`meta.version`")).first()[0] == 1


def _last_job_id(sc, group: str) -> int:
    """Run one marker job in its own group; its id is the newest."""
    sc.setJobGroup(group, group)
    try:
        sc.parallelize([1], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return max(sc.statusTracker().getJobIdsForGroup(group))


def test_caller_job_group_covers_every_tick_job(spark, fixtures, tmp_path):
    """Each table's chain runs on a pool thread that inherits the
    caller's local properties: every job the tick submits (including
    broadcast and listing jobs) lands in the caller's job group."""
    sc = spark.sparkContext
    pipe, dims, tick = _three_tables(spark, fixtures, str(tmp_path / "wh"))
    first = _last_job_id(sc, "tick-before")
    sc.setJobGroup("tick-under-test", "one incremental tick")
    try:
        results = pipe.run_incremental(tick(10), dims)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    last = _last_job_id(sc, "tick-after")
    assert not [r for r in results if r.error], results
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    grouped = set(sc.statusTracker().getJobIdsForGroup("tick-under-test"))
    assert grouped and grouped == set(range(first + 1, last))


def test_single_table_runs_in_the_calling_thread(spark, fixtures, tmp_path, monkeypatch):
    """A run with one table starts no pool: its jobs are submitted from
    the caller's own thread."""
    from web_api_postgres_etl_spark.plans import pipeline as pipeline_mod

    pipe, dims, tick = _three_tables(spark, fixtures, str(tmp_path / "wh"))

    def no_pool(*_a, **_k):
        raise AssertionError("a one-table run must not start a thread pool")

    monkeypatch.setattr(pipeline_mod, "ThreadPoolExecutor", no_pool)
    results = pipe.run_incremental({"news": tick(10)["news"]}, dims)
    assert [(r.table, r.error) for r in results] == [("prd_news", None)]


def _tree_digest(root: str) -> dict[str, str]:
    import hashlib
    import os

    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_corrupt_sink_stops_the_tick_before_any_write(spark, fixtures, tmp_path):
    """One probe call reads every sink's watermark before any chain
    starts, so one corrupt prd sink raises out of run_incremental
    before anything is written: the healthy sinks stay byte-identical."""
    import os
    import shutil

    wh = str(tmp_path / "wh")
    pipe, dims, tick = _three_tables(spark, fixtures, wh)
    news = table_path(wh, "prd", "news")
    shutil.rmtree(news)
    os.makedirs(news)
    with open(os.path.join(news, "part-00000.parquet"), "w") as fh:
        fh.write("not parquet at all")
    healthy = {t: _tree_digest(table_path(wh, "prd", t))
               for t in ("trades_share", "indexvalues")}
    with pytest.raises(Exception):
        pipe.run_incremental(tick(10), dims)
    for t, digest in healthy.items():
        assert _tree_digest(table_path(wh, "prd", t)) == digest, t


def _py4j_threads(spark) -> int:
    """Live JVM threads serving a Py4J connection (ThreadMXBean): the
    connection's run loop sits at the bottom of such a thread's stack."""
    mx = spark._jvm.java.lang.management.ManagementFactory.getThreadMXBean()
    n = 0
    for t in mx.dumpAllThreads(False, False):
        stack = t.getStackTrace()
        bottom = range(max(len(stack) - 3, 0), len(stack))
        n += any(stack[i].getClassName() == "py4j.ClientServerConnection" for i in bottom)
    return n


def test_concurrent_ticks_leak_no_jvm_threads(spark, fixtures, tmp_path):
    """Each pool thread talks to the JVM over its own pinned Py4J
    connection, served by one JVM thread; the connections must close
    when the pool ends, so those threads do not pile up over ticks.
    (The JVM's total thread count is no measure: Spark's own exchange
    pools add threads up to their caps whatever runs the queries.)"""
    import time

    pipe, dims, tick = _three_tables(spark, fixtures, str(tmp_path / "wh"))
    before = _py4j_threads(spark)
    assert before >= 1  # at least the calling thread's own connection
    for v in range(10, 15):
        results = pipe.run_incremental(tick(v), dims)
        assert not [r for r in results if r.error], results
    # a connection closes once its Python thread is gone: allow the lag
    deadline = time.monotonic() + 10
    while (after := _py4j_threads(spark)) > before and time.monotonic() < deadline:
        time.sleep(0.2)
    assert after <= before, (before, after)


def test_partition_swap_failure_loses_no_partition(spark, tmp_path, monkeypatch):
    """A failure between a partition's two swap renames (live dir moved
    aside, new dir not yet in) must not lose that month: the next
    compaction restores it from .old before dropping stale dirs."""
    import os
    import shutil

    from web_api_postgres_etl_spark.operators.quality import table_fingerprint

    path = str(tmp_path / "sink")
    spark.createDataFrame(
        [(1, "1401-01", "a", 1), (2, "1401-01", "b", 2), (3, "1401-02", "a", 3)],
        "id long, j_month string, name string, `meta.version` long",
    ).write.partitionBy("j_month").parquet(path)

    def state():
        row = table_fingerprint(spark.read.parquet(path)).first()
        return row["n_rows"], row["fingerprint"]

    before = state()
    moves = {"n": 0}
    real_move = shutil.move

    def flaky_move(src, dst, *a, **k):
        moves["n"] += 1
        if moves["n"] == 2:  # the new dir's move into place
            raise OSError("transient rename failure")
        return real_move(src, dst, *a, **k)

    pipe = MedallionPipeline(spark, str(tmp_path / "wh"))
    monkeypatch.setattr(shutil, "move", flaky_move)
    with pytest.raises(OSError, match="transient"):
        pipe.compact_partitioned(
            path, keys=["j_month", "name"], partition_col="j_month",
            touched=["1401-01", "1401-02"],
        )
    monkeypatch.undo()
    pipe.compact_partitioned(
        path, keys=["j_month", "name"], partition_col="j_month",
        touched=["1401-01", "1401-02"],
    )
    assert state() == before
    assert not os.path.exists(path + ".old") and not os.path.exists(path + ".tmp")


def test_compact_partitioned_skips_months_the_sink_lacks(spark, tmp_path):
    """Touched months with no directory are not read (a parquet read of
    no paths would raise); with none present the call writes nothing."""
    import os

    path = str(tmp_path / "sink")
    spark.createDataFrame(
        [(1, "1401-01", "a", 1), (2, "1401-01", "a", 2)],
        "id long, j_month string, name string, `meta.version` long",
    ).write.partitionBy("j_month").parquet(path)
    pipe = MedallionPipeline(spark, str(tmp_path / "wh"))
    pipe.compact_partitioned(path, keys=["name"], partition_col="j_month",
                             touched=["1399-05"])
    assert spark.read.parquet(path).count() == 2  # untouched, not compacted
    assert not os.path.exists(path + ".tmp")
    pipe.compact_partitioned(path, keys=["name"], partition_col="j_month",
                             touched=["1399-05", "1401-01"])
    assert [r["meta.version"] for r in spark.read.parquet(path).collect()] == [2]


def test_partition_dir_matches_spark_writer(spark, tmp_path):
    """partition_dir names a partition exactly as Spark's writer does,
    escapes and the null/empty default included."""
    import os

    from web_api_postgres_etl_spark.plans.fs import partition_dir

    values = ["1401-01", "a/b", "x:y=z", "50%", "q?*", "tab\there", "br[a]{c}^",
              "quo'te\"", "a b", "ü", "#h\\", "", None]
    path = str(tmp_path / "esc")
    spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], "id long, `p:c` string"
    ).write.partitionBy("p:c").parquet(path)
    written = {d for d in os.listdir(path) if not d.startswith(("_", "."))}
    assert written == {partition_dir("p:c", v) for v in values}


def test_compact_partitioned_swaps_escaped_partition_dirs(spark, tmp_path):
    """A partition column whose name Spark's writer escapes (``p:m`` is
    written as ``p%3Am=…``) still has its compacted dirs swapped in:
    the duplicates collapse, with and without ``touched``, and no
    ``.tmp`` or ``.old`` is left behind."""
    import os

    path = str(tmp_path / "sink")
    spark.createDataFrame(
        [(1, "m1", "a", 1), (2, "m1", "a", 2), (3, "m2", "b", 1), (4, "m2", "b", 5)],
        "id long, `p:m` string, name string, `meta.version` long",
    ).write.partitionBy("p:m").parquet(path)
    pipe = MedallionPipeline(spark, str(tmp_path / "wh"))

    def versions():
        return sorted(
            (r["p:m"], r["meta.version"]) for r in spark.read.parquet(path).collect()
        )

    pipe.compact_partitioned(path, keys=["name"], partition_col="p:m",
                             touched=["m1"])
    assert versions() == [("m1", 2), ("m2", 1), ("m2", 5)]
    pipe.compact_partitioned(path, keys=["name"], partition_col="p:m")
    assert versions() == [("m1", 2), ("m2", 5)]
    assert not os.path.exists(path + ".tmp") and not os.path.exists(path + ".old")
