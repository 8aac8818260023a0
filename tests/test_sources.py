"""Flattener, REST param pushdown, dim_date generator."""

from __future__ import annotations

import datetime as dt

from web_api_postgres_etl_spark.functions.dates import (
    fa_today,
    gregorian_to_jalali,
    jalali_to_gregorian,
)
from web_api_postgres_etl_spark.sources.json_flatten import flatten
from web_api_postgres_etl_spark.sources.rest import (
    build_url,
    json_records_to_df,
    watermark_params,
)
from web_api_postgres_etl_spark.config import fan_out


def test_flatten_nested_structs_to_dotted_names(spark):
    df = spark.createDataFrame(
        [(1, {"version": 7, "inner": {"deep": "x"}}, {"id": "i1"})],
        "id long, meta struct<version:long,inner:struct<deep:string>>, instrument struct<id:string>",
    )
    out = flatten(df)
    assert out.columns == ["id", "meta.version", "meta.inner.deep", "instrument.id"]
    row = out.first()
    assert row["meta.version"] == 7
    assert row["meta.inner.deep"] == "x"


def test_flatten_keeps_arrays_whole(spark):
    df = spark.createDataFrame(
        [(1, [{"id": "c1"}])], "id long, categories array<struct<id:string>>"
    )
    out = flatten(df)
    assert out.columns == ["id", "categories"]


def test_json_records_to_df_infers_and_flattens(spark):
    records = [
        {"id": 1, "meta": {"version": 3}, "price": 1.5},
        {"id": 2, "meta": {"version": 4}, "price": None},
    ]
    df = json_records_to_df(spark, records)
    assert "meta.version" in df.columns
    assert df.count() == 2


def test_json_records_to_df_leaves_no_landing_file_in_tmpdir(spark, tmp_path, monkeypatch):
    """The JSON-lines landing file lives with the Spark application, not
    in $TMPDIR, where nothing would ever remove it."""
    import tempfile

    monkeypatch.setenv("TMPDIR", str(tmp_path))
    monkeypatch.setattr(tempfile, "tempdir", None)  # re-read $TMPDIR
    df = json_records_to_df(spark, [{"id": 1, "meta": {"version": 3}}])
    assert [r["meta.version"] for r in df.collect()] == [3]
    assert list(tmp_path.glob("*.jsonl")) == []


def test_rest_watermark_pushdown_url():
    """S1: the watermark must reach the URL (server-side predicate —
    constants.yaml:7-9, mabna_tables_update.py:46)."""
    url = build_url(
        "https://api.example/v1", "exchange", "trades",
        watermark_params(12345, "share", size=500),
    )
    assert "meta.version=12345" in url
    assert "meta.version_op=gt" in url
    assert "instrument.type=share" in url


def test_config_fan_out_counts():
    """G3: trades expands ×8 instrument types (constants.yaml:11-19)."""
    specs = list(fan_out())
    trades = [s for s in specs if s.item == "trades"]
    assert len(trades) == 8
    assert {s.name for s in trades} == {
        f"exchange_trades_{t}"
        for t in [
            "share", "bond", "future", "intellectual_property",
            "energy", "commodity", "currency", "crypto",
        ]
    }


def test_jalali_roundtrip_and_known_dates():
    # Known anchor: 1400/01/01 == 2021-03-21
    assert jalali_to_gregorian(1400, 1, 1) == (2021, 3, 21)
    assert gregorian_to_jalali(2021, 3, 21) == (1400, 1, 1)
    # Esfand leap year: 1399 is leap (1399/12/30 exists) == 2021-03-20
    assert jalali_to_gregorian(1399, 12, 30) == (2021, 3, 20)
    # Round-trip across the reference dim_date span (1320..1429, sampled)
    d = dt.date(1941, 3, 22)
    while d <= dt.date(2051, 3, 20):
        jy, jm, jd = gregorian_to_jalali(d.year, d.month, d.day)
        assert jalali_to_gregorian(jy, jm, jd) == (d.year, d.month, d.day), d
        d += dt.timedelta(days=97)


def test_fa_today_format():
    s = fa_today(dt.date(2021, 3, 21))
    assert s == "1400/01/01"


# ------------------------------------------------------------------ jsonl
def test_read_jsonl_corpus_quarantines_corrupt_lines(spark, tmp_path):
    from pyspark.sql import types as T

    from web_api_postgres_etl_spark.sources.jsonl import (
        read_jsonl_corpus,
        write_jsonl,
    )

    p = tmp_path / "corpus.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "a fine document"}\n'
        '{"doc_id": 2, "text": "another one"}\n'
        '{"doc_id": 3, "text": "truncated\n'          # corrupt: unclosed
        'not json at all\n'                            # corrupt: garbage
        '{"doc_id": 4, "text": null}\n'
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    good, bad = read_jsonl_corpus(spark, str(p), schema=schema)
    assert sorted(r["doc_id"] for r in good.collect()) == [1, 2, 4]
    assert "_corrupt_record" not in good.columns
    quarantined = bad.collect()
    assert len(quarantined) == 2
    raws = {r["_corrupt_record"] for r in quarantined}
    assert 'not json at all' in raws
    assert any(r.startswith('{"doc_id": 3') for r in raws)

    # inference path over a clean file still returns the pair shape
    clean = tmp_path / "clean.jsonl"
    clean.write_text('{"doc_id": 9, "text": "ok"}\n')
    g2, b2 = read_jsonl_corpus(spark, str(clean))
    assert g2.count() == 1 and b2.count() == 0

    # schema colliding with the corrupt column is rejected
    import pytest as pt

    bad_schema = T.StructType([T.StructField("_corrupt_record", T.StringType())])
    with pt.raises(ValueError, match="_corrupt_record"):
        read_jsonl_corpus(spark, str(p), schema=bad_schema)

    # roundtrip through the writer
    out = tmp_path / "export"
    write_jsonl(good, str(out))
    g3, b3 = read_jsonl_corpus(spark, str(out), schema=schema)
    assert sorted(r["doc_id"] for r in g3.collect()) == [1, 2, 4]
    assert b3.count() == 0


def test_read_csv_corpus_quarantines_malformed_rows(spark, tmp_path):
    from pyspark.sql import types as T

    from web_api_postgres_etl_spark.sources.jsonl import read_csv_corpus

    p = tmp_path / "corpus.csv"
    p.write_text(
        "doc_id,text\n"
        '1,"a fine document"\n'
        "2,plain text\n"
        "notanumber,bad id\n"
        '4,"ok"\n'
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    good, bad = read_csv_corpus(spark, str(p), schema)
    assert sorted(r["doc_id"] for r in good.collect()) == [1, 2, 4]
    q = bad.collect()
    assert len(q) == 1 and q[0]["_corrupt_record"] == "notanumber,bad id"
    assert bad.count() == 1  # no corrupt-only-column restriction


def test_corpus_readers_review_hardening(spark, tmp_path):
    """Review findings: the JSON literal `null` quarantines instead of
    dissolving into null padding; CSV lines with an unclosed quote
    (a record split across physical lines) quarantine instead of
    parsing as truncated 'good' rows; all-string CSV schema with
    header=True raises (header/data ambiguity)."""
    from pyspark.sql import types as T

    from web_api_postgres_etl_spark.sources.jsonl import (
        read_csv_corpus,
        read_jsonl_corpus,
    )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    j = tmp_path / "withnull.jsonl"
    j.write_text('{"doc_id": 1, "text": "ok"}\nnull\n')
    good, bad = read_jsonl_corpus(spark, str(j), schema=schema)
    assert [r["doc_id"] for r in good.collect()] == [1]
    assert [r["_corrupt_record"] for r in bad.collect()] == ["null"]

    c = tmp_path / "split.csv"
    c.write_text(
        "doc_id,text\n"
        '1,"line1\n'       # record split across lines: both halves
        'line2"\n'         # carry an odd quote count
        '2,"whole record with ""escaped"" quotes"\n'
    )
    cg, cb = read_csv_corpus(spark, str(c), schema)
    assert [r["doc_id"] for r in cg.collect()] == [2]
    assert cb.count() == 2

    import pytest as pt

    all_str = T.StructType(
        [T.StructField("name", T.StringType()),
         T.StructField("category", T.StringType())]
    )
    with pt.raises(ValueError, match="all-string"):
        read_csv_corpus(spark, str(c), all_str)
    g2, b2 = read_csv_corpus(spark, str(c), all_str, header=False)
    assert g2.count() + b2.count() == 4   # header included, nothing lost


def test_write_format_lever_roundtrips(spark, tmp_path):
    """S4/S5 sinks accept built-in formats: ORC roundtrips exactly
    (columnar, pushdown-capable); CSV/JSON are export feeds; unknown
    formats fail loudly."""
    import pytest

    from web_api_postgres_etl_spark.sources.writers import (
        read_table,
        write_append,
        write_overwrite,
    )

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", -2.0)], "id long, s string, v double"
    )
    canon = lambda d: sorted(map(tuple, d.collect()))
    orc = str(tmp_path / "t_orc")
    write_overwrite(df, orc, fmt="orc")
    write_append(df.filter("id = 1"), orc, fmt="orc")
    back = read_table(spark, orc, fmt="orc")
    assert canon(back) == sorted(canon(df) + [(1, "a", 1.5)])

    csvp = str(tmp_path / "t_csv")
    write_overwrite(df, csvp, fmt="csv")
    got = read_table(spark, csvp, fmt="csv")
    assert canon(got) == canon(df)  # header + inferSchema restore types

    with pytest.raises(ValueError, match="unsupported format"):
        write_overwrite(df, str(tmp_path / "x"), fmt="avro")
