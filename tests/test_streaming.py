"""Structured Streaming incremental: AvailableNow file stream →
foreachBatch append+compact; second delivery upserts."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from web_api_postgres_etl_spark.streaming.incremental import incremental_stream

SCHEMA = "id long, j_date string, name string, `meta.version` long, price double"


def _write_batch(spark, src_dir, rows, fname):
    df = spark.createDataFrame(rows, SCHEMA)
    df.coalesce(1).write.mode("overwrite").parquet(f"{src_dir}/.staging_{fname}")
    # move the part file in as one new file (simulating an arriving batch)
    import glob
    import shutil

    os.makedirs(src_dir, exist_ok=True)
    part = glob.glob(f"{src_dir}/.staging_{fname}/part-*.parquet")[0]
    shutil.move(part, f"{src_dir}/{fname}.parquet")
    shutil.rmtree(f"{src_dir}/.staging_{fname}")


def test_streaming_incremental_upsert(spark, tmp_path):
    src = str(tmp_path / "incoming")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)

    _write_batch(
        spark, src,
        [(1, "1401/01/01", "a", 1, 10.0), (2, "1401/01/02", "b", 2, 20.0)],
        "batch1",
    )
    q = incremental_stream(
        spark, src, sink, ckpt,
        transform=lambda df: df.filter(F.col("price") > 0),
        keys=["j_date", "name"],
        schema=SCHEMA,
    )
    q.awaitTermination(120)
    out1 = {r["name"]: r["meta.version"] for r in spark.read.parquet(sink).collect()}
    assert out1 == {"a": 1, "b": 2}

    # second delivery: new version of key (1401/01/01, a) + new key c
    _write_batch(
        spark, src,
        [(3, "1401/01/01", "a", 3, 11.0), (4, "1401/01/03", "c", 4, 30.0)],
        "batch2",
    )
    q2 = incremental_stream(
        spark, src, sink, ckpt,
        transform=lambda df: df.filter(F.col("price") > 0),
        keys=["j_date", "name"],
        schema=SCHEMA,
    )
    q2.awaitTermination(120)
    final = {r["name"]: (r["meta.version"], r["price"]) for r in spark.read.parquet(sink).collect()}
    assert final == {"a": (3, 11.0), "b": (2, 20.0), "c": (4, 30.0)}


def test_streaming_sink_keeps_its_zone_map_fresh(spark, tmp_path):
    """The sink's compaction swaps its files out; a sibling zone-map
    sidecar is refreshed with it, so the map names exactly the live
    files after a micro-batch (no dead entries, no unmapped files)."""
    import glob

    from web_api_postgres_etl_spark.operators.layout import (
        read_zone_map,
        write_zone_map,
        zone_map,
    )

    src = str(tmp_path / "incoming")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(1, "1401/01/01", "a", 1, 10.0), (2, "1401/01/02", "b", 2, 20.0)], SCHEMA
    ).write.parquet(sink)
    write_zone_map(zone_map(spark, sink, ["price"]), sink)
    _write_batch(spark, src, [(3, "1401/01/01", "a", 3, 11.0)], "batch1")
    q = incremental_stream(
        spark, src, sink, ckpt, transform=lambda df: df,
        keys=["j_date", "name"], schema=SCHEMA,
    )
    q.awaitTermination(120)
    assert {r["name"]: r["meta.version"] for r in spark.read.parquet(sink).collect()} == {
        "a": 3, "b": 2,
    }
    live = {os.path.basename(p) for p in glob.glob(os.path.join(sink, "part-*"))}
    mapped = {
        os.path.basename(r["file"])
        for r in read_zone_map(spark, sink).select("file").collect()
    }
    assert live and mapped == live


def test_dedup_stream_suppresses_in_flight_duplicates(spark, tmp_path):
    """T6: duplicates of (event_id) within the watermark horizon are
    dropped in flight across micro-batches; only first arrivals land."""
    import datetime as dt

    from web_api_postgres_etl_spark.streaming.dedup_stream import (
        dedup_stream_run,
    )

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    T = dt.datetime(2024, 1, 1, 12, 0, 0)

    def rows(items):
        return spark.createDataFrame(
            [(eid, T + dt.timedelta(minutes=m), tag) for eid, m, tag in items],
            "event_id long, ts timestamp, tag string",
        )

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        b1 = [(1, 0, "first"), (2, 1, "first"), (1, 2, "dup-in-batch")]
        b2 = [(2, 3, "dup-across-batch"), (3, 4, "first"), (1, 5, "dup-across-batch")]
        sch = rows(b1).schema
        for b in (b1, b2):
            rows(b).write.parquet(src, mode="append")
            dedup_stream_run(
                spark, src, sink, ckpt, sch, key_cols=["event_id"], watermark="1 hour"
            )
        out = spark.read.parquet(sink).collect()
        got = {r["event_id"]: r["tag"] for r in out}
        assert len(out) == 3, "exactly one row per key must land"
        # WHICH in-batch duplicate survives is partition-arbitrary, but
        # batch-2 re-deliveries must never land: batch-1 state wins
        assert got[1] in {"first", "dup-in-batch"}
        assert got[2] == "first"
        assert got[3] == "first"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_curation_stream_filters_scrubs_and_dedups(spark, tmp_path):
    """Streaming curation ingest: low-quality rows never land, PII is
    scrubbed before landing, and in-flight dedup keys on the SCRUBBED
    digest — two docs differing only in their PII collapse to one."""
    import datetime as dt

    from web_api_postgres_etl_spark.streaming.curation_stream import (
        curate_batch,
        curation_stream_run,
    )

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    T = dt.datetime(2024, 1, 1, 12, 0, 0)
    GOOD1 = "the cat sat on the mat with a dog and it was fine"
    JUNK = "@@@@ #### $$$$ %%%%"
    PII_V1 = "mail me at jane@example.com for the info and the rest"
    PII_V2 = "mail me at omar@example.org for the info and the rest"
    GOOD2 = "this is a second fine document about the same engine"

    def rows(items):
        return spark.createDataFrame(
            [(i, T + dt.timedelta(minutes=m), tx) for i, m, tx in items],
            "doc_id long, ts timestamp, text string",
        )

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        b1 = [(1, 0, GOOD1), (2, 1, JUNK), (3, 2, PII_V1)]
        b2 = [(4, 3, PII_V2), (5, 4, GOOD2), (6, 5, GOOD1)]
        sch = rows(b1).schema
        for b in (b1, b2):
            rows(b).write.parquet(src, mode="append")
            curation_stream_run(
                spark, src, sink, ckpt, sch, min_quality=0.5, watermark="1 hour"
            )
        out = spark.read.parquet(sink)
        got = {r["doc_id"]: r["text"] for r in out.collect()}
        assert set(got) == {1, 3, 5}, got  # junk gone; 4 and 6 deduped
        assert got[3] == "mail me at <EMAIL> for the info and the rest"
        assert "<EMAIL>" not in got[1]
        # batch equivalence: same digests as one-shot curate + dedup
        batch = curate_batch(rows(b1 + b2), min_quality=0.5)
        expected = {
            r["content_digest"]
            for r in batch.select("content_digest").distinct().collect()
        }
        assert {
            r["content_digest"] for r in out.select("content_digest").collect()
        } == expected
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_corpus_ingest_dedups_across_batches(spark, tmp_path):
    """One checkpointed query fed incrementally (the production shape —
    batch ids must be stable for the idempotent partition writes): a
    doc near-duplicating batch-1 content must be dropped in batch 2;
    novel docs land; the signature table grows to cover survivors
    only."""
    from web_api_postgres_etl_spark.streaming.curation_stream import (
        corpus_ingest_run,
    )

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    sig = str(tmp_path / "sigs")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"
    batch1 = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog every day"),
            (2, "spark engines read parquet files with columnar batches"),
        ],
        schema,
    )
    batch1.write.mode("append").parquet(src)
    corpus_ingest_run(
        spark, src, sink, sig, ckpt, schema,
        shingle_n=2, num_hashes=8, bands=4, threshold=0.9,
    )
    batch2 = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog every day"),
            (11, "a completely novel document with entirely fresh phrasing "
                 "about distributed query planning"),
        ],
        schema,
    )
    batch2.write.mode("append").parquet(src)
    corpus_ingest_run(
        spark, src, sink, sig, ckpt, schema,
        shingle_n=2, num_hashes=8, bands=4, threshold=0.9,
    )
    landed = sorted(
        r["doc_id"] for r in spark.read.parquet(sink).collect()
    )
    assert landed == [1, 2, 11]  # 10 is a dup of already-ingested 1
    sig_ids = sorted(r["doc_id"] for r in spark.read.parquet(sig).collect())
    assert sig_ids == [1, 2, 11]  # signature table covers survivors only


def test_corpus_ingest_retry_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: deleting the checkpoint commit
    marker replays the batch (the crash-after-write retry). The
    per-batch dynamic partition overwrite must leave exactly ONE copy
    in both the sink and the signature table."""
    import os

    from web_api_postgres_etl_spark.streaming.curation_stream import (
        corpus_ingest_run,
    )

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    sig = str(tmp_path / "sigs")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"
    spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog every day"),
            (2, "spark engines read parquet files with columnar batches"),
        ],
        schema,
    ).write.mode("append").parquet(src)
    args = dict(shingle_n=2, num_hashes=8, bands=4, threshold=0.9)
    corpus_ingest_run(spark, src, sink, sig, ckpt, schema, **args)
    # simulate crash after both writes but before the commit: batch 0
    # replays on restart with the SAME batch_id (the .crc checksum
    # sidecar must go too or the commit rewrite trips on it)
    os.remove(os.path.join(ckpt, "commits", "0"))
    crc = os.path.join(ckpt, "commits", ".0.crc")
    if os.path.exists(crc):
        os.remove(crc)
    corpus_ingest_run(spark, src, sink, sig, ckpt, schema, **args)
    landed = sorted(r["doc_id"] for r in spark.read.parquet(sink).collect())
    assert landed == [1, 2], landed  # no duplicates from the replay
    sig_ids = sorted(r["doc_id"] for r in spark.read.parquet(sig).collect())
    assert sig_ids == [1, 2], sig_ids


def test_corpus_ingest_checkpoint_reset_never_loses_data(spark, tmp_path):
    """A NEW checkpoint restarts batch ids at 0; the partition key is
    scoped to the checkpoint so the reset run's batch 0 must NOT
    overwrite the first run's partitions (pre-fix: bare batch_id +
    dynamic overwrite silently deleted the oldest ingested data).
    Cross-run dedup against the signature table still applies."""
    from web_api_postgres_etl_spark.streaming.curation_stream import (
        corpus_ingest_run,
    )

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    sig = str(tmp_path / "sigs")
    schema = "doc_id long, text string"
    args = dict(shingle_n=2, num_hashes=8, bands=4, threshold=0.9)
    spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog every day"),
            (2, "spark engines read parquet files with columnar batches"),
        ],
        schema,
    ).write.mode("append").parquet(src)
    corpus_ingest_run(spark, src, sink, sig, str(tmp_path / "ckpt1"), schema, **args)
    spark.createDataFrame(
        [(11, "a completely novel document with entirely fresh phrasing "
              "about distributed query planning")],
        schema,
    ).write.mode("append").parquet(src)
    # abandoned checkpoint → fresh one reprocesses EVERYTHING as batch 0
    corpus_ingest_run(spark, src, sink, sig, str(tmp_path / "ckpt2"), schema, **args)
    landed = sorted(r["doc_id"] for r in spark.read.parquet(sink).collect())
    # 1 and 2 survive the reset (no partition overwritten) and are not
    # re-ingested (signature dedup); the novel doc lands once
    assert landed == [1, 2, 11], landed
    sig_ids = sorted(r["doc_id"] for r in spark.read.parquet(sig).collect())
    assert sig_ids == [1, 2, 11], sig_ids


def test_corpus_ingest_zero_row_first_batch_bootstraps(spark, tmp_path):
    """A zero-row first batch leaves the signature dir holding only
    _SUCCESS; the next batch's read raises UNABLE_TO_INFER_SCHEMA,
    which must be treated as bootstrap (no signatures exist), not a
    permanent failure."""
    from web_api_postgres_etl_spark.streaming.curation_stream import (
        corpus_ingest_run,
    )

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    sig = str(tmp_path / "sigs")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"
    args = dict(shingle_n=2, num_hashes=8, bands=4, threshold=0.9)
    spark.createDataFrame([], schema).write.mode("append").parquet(src)
    corpus_ingest_run(spark, src, sink, sig, ckpt, schema, **args)
    spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog every day")],
        schema,
    ).write.mode("append").parquet(src)
    corpus_ingest_run(spark, src, sink, sig, ckpt, schema, **args)
    landed = sorted(r["doc_id"] for r in spark.read.parquet(sink).collect())
    assert landed == [1], landed


def test_stream_jsonl_corpus_quarantine_semantics(spark, tmp_path):
    """The streaming JSONL face parses + quarantines identically to
    the batch reader (one AvailableNow pass over a planted file)."""
    from pyspark.sql import types as T

    from web_api_postgres_etl_spark.sources.jsonl import stream_jsonl_corpus

    src = tmp_path / "in"
    src.mkdir()
    (src / "batch1.jsonl").write_text(
        '{"doc_id": 1, "text": "clean"}\n'
        'garbage line\n'
        '{"doc_id": 2, "text": "also clean"}\n'
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    stream = stream_jsonl_corpus(spark, str(src), schema)
    assert stream.isStreaming
    collected = []
    q = (
        stream.writeStream.trigger(availableNow=True)
        .foreachBatch(lambda df, _id: collected.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    clean = {r["doc_id"] for r in collected if r["_corrupt_record"] is None}
    bad = [r["_corrupt_record"] for r in collected
           if r["_corrupt_record"] is not None]
    assert clean == {1, 2}
    assert bad == ["garbage line"]


def test_streaming_sessionization_converges_to_batch(spark, tmp_path):
    """session_counts_run: merging in-flight sessions, exactly-once
    APPEND emission, late-row drop, and convergence to the batch
    session_window over the accepted rows."""
    from web_api_postgres_etl_spark.streaming.windowed import (
        session_counts_run,
    )

    schema = "user_id long, ts timestamp"
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)

    import datetime as dt

    t = lambda h, m: dt.datetime(2024, 1, 1, h, m)

    def _push(rows, fname):
        df = spark.createDataFrame(rows, schema)
        df.coalesce(1).write.mode("overwrite").parquet(f"{src}/.stage_{fname}")
        import glob
        import shutil

        part = glob.glob(f"{src}/.stage_{fname}/part-*.parquet")[0]
        shutil.move(part, f"{src}/{fname}.parquet")
        shutil.rmtree(f"{src}/.stage_{fname}")

    def _run():
        session_counts_run(
            spark, src, sink, ckpt, schema,
            gap="30 minutes", watermark="30 minutes",
        )

    def _sink():
        try:
            return sorted(
                (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
                for r in spark.read.parquet(sink).collect()
            )
        except Exception:
            return []

    # batch 1: two events 10 min apart MERGE into one session; the
    # 13:00 sentinel advances the watermark to 12:30, finalizing the
    # [10:00, 10:40) session but leaving its own session open
    _push([(1, t(10, 0)), (1, t(10, 10)), (2, t(13, 0))], "b1")
    _run()
    assert _sink() == [(1, t(10, 0), t(10, 40), 2)]

    # batch 2: a late row behind the watermark whose session is
    # already finalized is DROPPED (no duplicate emission, count
    # unchanged); 16:00 advances the watermark to 15:30, flushing the
    # 13:00 session; 16:00's own session stays open
    _push([(1, t(10, 5)), (2, t(16, 0))], "b2")
    _run()
    assert _sink() == [
        (1, t(10, 0), t(10, 40), 2),
        (2, t(13, 0), t(13, 30), 1),
    ]

    # batch 3: far-future sentinel flushes everything else; the full
    # sink now equals the BATCH session_window over all accepted rows
    # (every row ever pushed except the dropped late one) minus the
    # still-open sentinel session
    _push([(3, t(23, 0))], "b3")
    _run()
    accepted = spark.createDataFrame(
        [(1, t(10, 0)), (1, t(10, 10)), (2, t(13, 0)), (2, t(16, 0))], schema
    )
    batch = sorted(
        (r["user_id"], r["start"], r["end"], r["n"])
        for r in accepted.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("sw")
        )
        .agg(F.count("*").alias("n"))
        .select(
            "user_id",
            F.col("sw.start").alias("start"),
            F.col("sw.end").alias("end"),
            "n",
        )
        .collect()
    )
    assert _sink() == batch


# -------------------------------------- incremental agg maintenance
def test_agg_maintain_two_batches_and_compaction(spark, tmp_path):
    """Two drained batches → read face equals a one-shot aggregate over
    all input; compaction folds the store and stays layerable."""
    from web_api_postgres_etl_spark.operators.aggregates import (
        finalize_agg,
        incremental_agg_state,
    )
    from web_api_postgres_etl_spark.streaming.agg_stream import (
        agg_maintain_run,
        compact_agg_state,
        read_agg_state,
    )

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    schema = "k string, v double"
    b1 = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", None)], schema
    )
    b2 = spark.createDataFrame([("a", 4.0), ("c", 8.0)], schema)
    spec = dict(keys=["k"], sum_cols=["v"], min_cols=["v"], max_cols=["v"])

    b1.write.mode("append").parquet(src)
    agg_maintain_run(spark, src, state, ckpt, schema, **spec)
    b2.write.mode("append").parquet(src)
    agg_maintain_run(spark, src, state, ckpt, schema, **spec)

    got = read_agg_state(spark, state, ["k"], avg_of=["v"])
    want = finalize_agg(
        incremental_agg_state(b1.unionByName(b2), **spec), avg_of=["v"]
    )
    canon = lambda df: sorted(
        (tuple(r) for r in df.select(sorted(df.columns)).collect()), key=repr
    )
    assert canon(got) == canon(want)
    rows = {r.k: r for r in got.collect()}
    assert (rows["a"].n_rows, rows["a"].sum_v, rows["a"].avg_v) == (3, 7.0, 7.0 / 3)
    assert rows["b"].avg_v is None

    # compaction: separate dir, same view, and further batches layer on
    compacted = str(tmp_path / "compacted")
    n = compact_agg_state(spark, state, compacted, ["k"])
    assert n == 3
    assert canon(read_agg_state(spark, compacted, ["k"], avg_of=["v"])) == canon(want)

    src2 = str(tmp_path / "src2")
    ckpt2 = str(tmp_path / "ckpt2")
    spark.createDataFrame([("a", 10.0)], schema).write.mode("append").parquet(src2)
    agg_maintain_run(spark, src2, compacted, ckpt2, schema, **spec)
    rows = {r.k: r for r in read_agg_state(spark, compacted, ["k"], avg_of=["v"]).collect()}
    assert (rows["a"].n_rows, rows["a"].sum_v) == (4, 17.0)


def test_agg_maintain_retry_is_idempotent(spark, tmp_path):
    """Replaying a committed batch (deleted commit marker) must not
    double-count — the batch's partition is overwritten, not appended."""
    import os

    from web_api_postgres_etl_spark.streaming.agg_stream import (
        agg_maintain_run,
        read_agg_state,
    )

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    schema = "k string, v double"
    spark.createDataFrame(
        [("a", 1.0), ("a", 2.0)], schema
    ).write.mode("append").parquet(src)
    spec = dict(keys=["k"], sum_cols=["v"])
    agg_maintain_run(spark, src, state, ckpt, schema, **spec)
    os.remove(os.path.join(ckpt, "commits", "0"))
    crc = os.path.join(ckpt, "commits", ".0.crc")
    if os.path.exists(crc):
        os.remove(crc)
    agg_maintain_run(spark, src, state, ckpt, schema, **spec)
    rows = read_agg_state(spark, state, ["k"]).collect()
    assert [(r.k, r.n_rows, r.sum_v) for r in rows] == [("a", 2, 3.0)]


def test_agg_maintain_rejects_spec_change(spark, tmp_path):
    """Review regression: partitions written under a different spec
    would silently mis-merge on read (parquet infers one footer's
    schema; missing sums surface as skipped NULLs) — the spec sidecar
    must refuse the second writer loudly."""
    import pytest

    from web_api_postgres_etl_spark.streaming.agg_stream import (
        agg_maintain_run,
        compact_agg_state,
        read_agg_state,
    )

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    schema = "k string, v double, u double"
    spark.createDataFrame([("a", 1.0, 2.0)], schema).write.mode("append").parquet(src)
    agg_maintain_run(
        spark, src, state, str(tmp_path / "ck1"), schema, keys=["k"], sum_cols=["v"]
    )
    spark.createDataFrame([("b", 1.0, 2.0)], schema).write.mode("append").parquet(src)
    with pytest.raises(ValueError, match="mismatched spec"):
        agg_maintain_run(
            spark, src, state, str(tmp_path / "ck2"), schema,
            keys=["k"], sum_cols=["v", "u"],
        )
    # compaction carries the sidecar, so layering on the compacted
    # store still validates against the ORIGINAL spec
    compacted = str(tmp_path / "compacted")
    compact_agg_state(spark, state, compacted, ["k"])
    with pytest.raises(ValueError, match="mismatched spec"):
        agg_maintain_run(
            spark, src, compacted, str(tmp_path / "ck3"), schema,
            keys=["k"], sum_cols=["v", "u"],
        )
    agg_maintain_run(
        spark, src, compacted, str(tmp_path / "ck4"), schema,
        keys=["k"], sum_cols=["v"],
    )
    rows = {r.k: r.sum_v for r in read_agg_state(spark, compacted, ["k"]).collect()}
    assert rows == {"a": 2.0, "b": 1.0}


# ------------------------------------------- SCD2 history maintenance
def test_history_maintain_stream_and_replay(spark, tmp_path):
    """Two drained change batches == one-shot build; replaying a
    committed batch is a no-op fold (merge semantics, not partition
    layout, give the idempotency here)."""
    import datetime as dt
    import os

    from web_api_postgres_etl_spark.operators.history import scd2_history
    from web_api_postgres_etl_spark.streaming.history_stream import (
        history_maintain_run,
    )

    t0 = dt.datetime(2024, 1, 1)
    src = str(tmp_path / "src")
    hist = str(tmp_path / "hist")
    ckpt = str(tmp_path / "ckpt")
    schema = "k string, ts timestamp, attr string"
    b1 = [("A", t0, "x"), ("B", t0, "b")]
    b2 = [
        ("A", t0 + dt.timedelta(days=1), "y"),
        ("B", t0 + dt.timedelta(days=1), "b"),  # no-op re-emit
    ]
    spark.createDataFrame(b1, schema).write.mode("append").parquet(src)
    history_maintain_run(
        spark, src, hist, ckpt, schema, ["k"], "ts", ["attr"]
    )
    spark.createDataFrame(b2, schema).write.mode("append").parquet(src)
    history_maintain_run(
        spark, src, hist, ckpt, schema, ["k"], "ts", ["attr"]
    )
    want = sorted(
        map(
            tuple,
            scd2_history(
                spark.createDataFrame(b1 + b2, schema), ["k"], "ts", ["attr"]
            ).collect(),
        )
    )
    got = sorted(map(tuple, spark.read.parquet(hist).collect()))
    assert got == want and len(got) == 3  # A: x,y; B: b (re-emit folded)

    # replay the last committed batch: fixed point, same history
    last = max(int(f) for f in os.listdir(os.path.join(ckpt, "commits")) if f.isdigit())
    os.remove(os.path.join(ckpt, "commits", str(last)))
    crc = os.path.join(ckpt, "commits", f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    history_maintain_run(
        spark, src, hist, ckpt, schema, ["k"], "ts", ["attr"]
    )
    assert sorted(map(tuple, spark.read.parquet(hist).collect())) == want


def test_quantile_maintain_streamed_equals_batch(spark, tmp_path):
    """Two drained batches → the streamed store finalizes to EXACTLY
    the quantiles of a one-shot state over all input (bottom-k closure
    through the store); replays are idempotent; the family sidecar
    refuses mismatched writers and feeds the reader its keys/k."""
    from web_api_postgres_etl_spark.operators.aggregates import (
        finalize_quantiles,
        quantile_sample_state,
    )
    from web_api_postgres_etl_spark.streaming.quantile_stream import (
        quantile_maintain_run,
        read_quantile_state,
    )

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    schema = "id long, g string, v double"
    b1 = spark.createDataFrame(
        [(i, "ab"[i % 2], float(i % 37)) for i in range(400)], schema
    )
    b2 = spark.createDataFrame(
        [(i, "ab"[i % 2], float(i % 53)) for i in range(400, 900)], schema
    )

    b1.write.mode("append").parquet(src)
    quantile_maintain_run(spark, src, state, ckpt, schema, ["g"], "v", "id", k=64)
    b2.write.mode("append").parquet(src)
    quantile_maintain_run(spark, src, state, ckpt, schema, ["g"], "v", "id", k=64)

    got = {
        r["g"]: (r["n_rows"], r["q_0"], r["q_1"])
        for r in read_quantile_state(spark, state, [0.5, 0.9]).collect()
    }
    want = {
        r["g"]: (r["n_rows"], r["q_0"], r["q_1"])
        for r in finalize_quantiles(
            quantile_sample_state(
                b1.unionByName(b2), ["g"], "v", "id", k=64
            ),
            [0.5, 0.9],
        ).collect()
    }
    assert got == want and set(got) == {"a", "b"}

    # replay idempotence: re-draining with nothing new changes nothing
    quantile_maintain_run(spark, src, state, ckpt, schema, ["g"], "v", "id", k=64)
    again = {
        r["g"]: (r["n_rows"], r["q_0"], r["q_1"])
        for r in read_quantile_state(spark, state, [0.5, 0.9]).collect()
    }
    assert again == got

    # family sidecar: a writer with a different k must refuse
    import pytest as _pt
    with _pt.raises(ValueError, match="mismatched spec"):
        quantile_maintain_run(
            spark, src, state, str(tmp_path / "ckpt2"), schema,
            ["g"], "v", "id", k=128,
        )


def test_agg_store_refuses_to_adopt_a_spec_over_orphaned_partitions(spark, tmp_path):
    """A lost spec sidecar over existing partials refuses adoption, as
    in the quantile and sketch stores: pinning whatever spec the next
    writer brings would silently mis-merge the old partitions with the
    new ones. A store with no partitions yet still bootstraps."""
    import os
    import shutil

    import pytest as _pt

    from web_api_postgres_etl_spark.streaming.agg_stream import agg_maintain_run

    schema = "k string, v double, u double"
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    spark.createDataFrame([("a", 1.0, 2.0)], schema).write.mode("append").parquet(src)
    agg_maintain_run(
        spark, src, state, str(tmp_path / "c1"), schema, keys=["k"], sum_cols=["v"]
    )
    shutil.rmtree(state + "_meta")
    with _pt.raises(ValueError, match="refusing to adopt"):
        agg_maintain_run(
            spark, src, state, str(tmp_path / "c2"), schema,
            keys=["k"], sum_cols=["v", "u"],
        )
    assert not os.path.exists(state + "_meta")

    fresh = str(tmp_path / "fresh")
    agg_maintain_run(
        spark, src, fresh, str(tmp_path / "c3"), schema, keys=["k"], sum_cols=["v", "u"]
    )
    assert os.path.exists(fresh + "_meta")


def test_quantile_store_sidecar_lifecycle_guards(spark, tmp_path):
    """The two store-corruption doors stay shut: a lost sidecar over
    existing partials refuses adoption (a k-mismatched merge would
    silently bias every quantile), and a sidecar-only store (all
    drained batches empty/all-NULL) reads as an actionable error, not
    a raw engine exception."""
    import shutil

    import pytest as _pt

    from web_api_postgres_etl_spark.streaming.quantile_stream import (
        quantile_maintain_run,
        read_quantile_state,
    )

    schema = "id long, g string, v double"

    # lost sidecar over existing partials → refuse adoption
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    spark.createDataFrame(
        [(i, "a", float(i)) for i in range(50)], schema
    ).write.mode("append").parquet(src)
    quantile_maintain_run(
        spark, src, state, str(tmp_path / "c1"), schema, ["g"], "v", "id", k=8
    )
    shutil.rmtree(state + "_meta")
    with _pt.raises(ValueError, match="refusing to adopt"):
        quantile_maintain_run(
            spark, src, state, str(tmp_path / "c2"), schema,
            ["g"], "v", "id", k=16,
        )

    # invalid k refused BEFORE any sidecar write (a pinned bad spec
    # would brick the store for every corrected retry)
    state2 = str(tmp_path / "state2")
    with _pt.raises(ValueError, match="k must be >= 1"):
        quantile_maintain_run(
            spark, src, state2, str(tmp_path / "c3"), schema,
            ["g"], "v", "id", k=0,
        )

    # a comma inside a key name would round-trip through the
    # comma-joined sidecar into wrong key names and a silent mis-merge
    with _pt.raises(ValueError, match="contain ','"):
        quantile_maintain_run(
            spark, src, state2, str(tmp_path / "c3b"),
            "id long, `g,h` string, v double", ["g,h"], "v", "id", k=8,
        )
    import os
    assert not os.path.exists(state2 + "_meta")

    # sidecar-only store (all values NULL → zero-row partitions never
    # land) → actionable error on read
    src3 = str(tmp_path / "src3")
    state3 = str(tmp_path / "state3")
    spark.createDataFrame(
        [(1, "a", None), (2, "a", None)], schema
    ).write.mode("append").parquet(src3)
    quantile_maintain_run(
        spark, src3, state3, str(tmp_path / "c4"), schema,
        ["g"], "v", "id", k=8,
    )
    with _pt.raises(ValueError, match="no sample partitions yet"):
        read_quantile_state(spark, state3, [0.5])


# ----------------------------------------------- CDC table maintenance
def test_table_maintain_streamed_equals_batch_and_replays_safely(
    spark, tmp_path
):
    """The CDC-apply face: the maintained table equals the batch
    last-wins state of the whole change log; a replayed batch is a
    fixed point; a checkpoint reset (re-draining history) cannot
    regress rows even though earlier changes re-apply; within-batch
    duplicate versions of one id fold before the upsert."""
    from web_api_postgres_etl_spark.streaming.table_stream import (
        apply_changes,
        table_maintain_run,
    )

    schema = "id long, v string, seq long"
    src = str(tmp_path / "changes")
    table = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")

    # batch 1: bootstrap (incl. a within-batch duplicate of id 1)
    spark.createDataFrame(
        [(1, "a0", 1), (1, "a1", 2), (2, "b0", 1), (3, "c0", 1)], schema
    ).write.mode("append").parquet(src)
    table_maintain_run(spark, src, table, ckpt, schema, "id", "seq")
    got = {r["id"]: (r["v"], r["seq"])
           for r in spark.read.parquet(table).collect()}
    assert got == {1: ("a1", 2), 2: ("b0", 1), 3: ("c0", 1)}

    # batch 2: update 2, insert 4
    spark.createDataFrame(
        [(2, "b1", 5), (4, "d0", 1)], schema
    ).write.mode("append").parquet(src)
    table_maintain_run(spark, src, table, ckpt, schema, "id", "seq")
    got2 = {r["id"]: (r["v"], r["seq"])
            for r in spark.read.parquet(table).collect()}
    assert got2 == {
        1: ("a1", 2), 2: ("b1", 5), 3: ("c0", 1), 4: ("d0", 1)
    }
    # no duplicate ids ever
    assert spark.read.parquet(table).groupBy("id").count().filter(
        "count > 1"
    ).count() == 0

    # re-run with the SAME checkpoint: nothing pending → no change
    table_maintain_run(spark, src, table, ckpt, schema, "id", "seq")
    assert {r["id"]: (r["v"], r["seq"])
            for r in spark.read.parquet(table).collect()} == got2

    # checkpoint reset: history re-drains; the conditional apply must
    # not regress id 2 back to b0 even when its older change re-applies
    table_maintain_run(
        spark, src, table, str(tmp_path / "ckpt2"), schema, "id", "seq"
    )
    assert {r["id"]: (r["v"], r["seq"])
            for r in spark.read.parquet(table).collect()} == got2

    # direct apply_changes: an out-of-order OLD change is dropped
    stale = spark.createDataFrame([(2, "b_old", 3)], schema)
    stats = apply_changes(spark, table, stale, "id", "seq")
    assert stats["rows_replaced"] == 0 and stats["rows_inserted"] == 0
    assert {r["id"]: (r["v"], r["seq"])
            for r in spark.read.parquet(table).collect()} == got2
    # equal-seq rewrite is a value-level no-op but DOES apply
    same = spark.createDataFrame([(2, "b1", 5)], schema)
    stats2 = apply_changes(spark, table, same, "id", "seq")
    assert stats2["rows_replaced"] >= 1
    assert {r["id"]: (r["v"], r["seq"])
            for r in spark.read.parquet(table).collect()} == got2


def test_apply_changes_guards_and_tie_determinism(spark, tmp_path):
    """NULL ids raise on the bootstrap path too (arrival order must
    not decide enforcement); equal-seq duplicates of one id fold to
    the max-digest row deterministically under any partitioning."""
    import hashlib

    import pytest as _pt

    from web_api_postgres_etl_spark.streaming.table_stream import (
        apply_changes,
    )

    schema = "id long, v string, seq long"
    table = str(tmp_path / "t")
    bad = spark.createDataFrame([(None, "x", 1)], schema)
    with _pt.raises(Exception, match="NULL id"):
        apply_changes(spark, table, bad, "id", "seq")

    # equal-seq tie: survivor = max whole-row digest (the operator's
    # exact encoding: SORTED column names (id, seq, v), \x01-joined,
    # NULL -> \x00), not physical order
    rows = [(1, "x", 5), (1, "y", 5)]

    def digest(r):
        parts = [str(r[0]), str(r[2]), r[1]]  # sorted cols: id, seq, v
        return hashlib.md5("\x01".join(parts).encode()).hexdigest()

    want_v = max(rows, key=digest)[1]
    lose_v = min(rows, key=digest)[1]
    assert want_v != lose_v
    for nparts in (1, 7):
        t2 = str(tmp_path / f"t{nparts}")
        df = spark.createDataFrame(rows, schema).repartition(nparts)
        apply_changes(spark, t2, df, "id", "seq")
        got = spark.read.parquet(t2).collect()
        assert len(got) == 1 and got[0]["v"] == want_v, nparts

    # CROSS-BATCH tie: the same two equal-(id, seq) rows split across
    # two applies must land on the SAME winner in EITHER arrival order
    # (the digest participates at apply time, recomputed from the
    # stored row — not just inside the within-batch fold)
    by_v = {r[1]: r for r in rows}
    for order in (("x", "y"), ("y", "x")):
        t3 = str(tmp_path / f"t_split_{order[0]}{order[1]}")
        for v in order:
            apply_changes(
                spark, t3,
                spark.createDataFrame([by_v[v]], schema), "id", "seq",
            )
        got = spark.read.parquet(t3).collect()
        assert len(got) == 1 and got[0]["v"] == want_v, order

    # an all-stale batch (every row gated out) is a true no-op: no
    # empty junk part file lands in the table (the upsert early-return)
    t4 = str(tmp_path / "t_stale")
    apply_changes(
        spark, t4,
        spark.createDataFrame([(1, "new", 9)], schema), "id", "seq",
    )
    import os

    files_before = sorted(
        f for _d, _dn, fs in os.walk(t4) for f in fs
        if f.endswith(".parquet")
    )
    stats = apply_changes(
        spark, t4,
        spark.createDataFrame([(1, "old", 1)], schema), "id", "seq",
    )
    assert stats["added_files"] == [] and stats["rows_inserted"] == 0
    files_after = sorted(
        f for _d, _dn, fs in os.walk(t4) for f in fs
        if f.endswith(".parquet")
    )
    assert files_before == files_after

    # remote-URI scope guard: the rewrite ops are local-filesystem
    # scoped — a non-file scheme must raise loudly, not silently move
    # zero files (stranding rows in the .tmp dir)
    with _pt.raises(ValueError, match="local-filesystem scoped"):
        apply_changes(
            spark, "s3a://bucket/tbl",
            spark.createDataFrame([(1, "a", 1)], schema), "id", "seq",
        )


def test_clusters_maintain_streamed_equals_batch_and_replays(spark, tmp_path):
    """The cluster-maintenance face: after draining pair batches, the
    label table equals a ONE-SHOT connected-components run over the
    union of all pairs; a replayed batch is a value-level fixed point
    (empty delta, zero file writes); a checkpoint reset re-draining
    history in different groupings converges to the identical table."""
    from web_api_postgres_etl_spark.operators.graph import (
        connected_components_fast,
    )
    from web_api_postgres_etl_spark.streaming.cluster_stream import (
        apply_pairs,
        clusters_maintain_run,
    )

    schema = "id_a long, id_b long"
    src = str(tmp_path / "pairs")
    table = str(tmp_path / "labels")
    ckpt = str(tmp_path / "ckpt")

    b1 = [(1, 2), (3, 4), (10, 11)]
    b2 = [(2, 3), (20, 21)]     # merges {1,2} with {3,4}; new cluster
    b3 = [(0, 11), (4, 4)]      # relabels {10,11} down to 0; self-pair

    spark.createDataFrame(b1, schema).write.mode("append").parquet(src)
    clusters_maintain_run(spark, src, table, ckpt, schema)
    got1 = {r["id"]: r["component"] for r in spark.read.parquet(table).collect()}
    assert got1 == {1: 1, 2: 1, 3: 3, 4: 3, 10: 10, 11: 10}

    spark.createDataFrame(b2, schema).write.mode("append").parquet(src)
    spark.createDataFrame(b3, schema).write.mode("append").parquet(src)
    clusters_maintain_run(spark, src, table, ckpt, schema)
    got = {r["id"]: r["component"] for r in spark.read.parquet(table).collect()}
    all_pairs = b1 + b2 + b3
    ids = sorted({x for p in all_pairs for x in p})
    one_shot = connected_components_fast(
        spark.createDataFrame([(i,) for i in ids], ["id"]),
        spark.createDataFrame(all_pairs, schema),
    )
    assert got == {r["id"]: r["component"] for r in one_shot.collect()}
    # no duplicate ids in the maintained table
    assert spark.read.parquet(table).groupBy("id").count().filter(
        "count > 1"
    ).count() == 0

    # replayed batch = fixed point: empty delta, zero writes
    stats = apply_pairs(spark, table, spark.createDataFrame(b2, schema))
    assert stats["n_changed"] == 0 and stats["files_rewritten"] == 0
    assert stats["added_files"] == [] and not stats["bootstrapped"]

    # checkpoint reset with a DIFFERENT grouping (all three batches in
    # one drain) converges to the identical table
    clusters_maintain_run(spark, src, table, str(tmp_path / "ckpt2"), schema)
    assert {
        r["id"]: r["component"] for r in spark.read.parquet(table).collect()
    } == got


def test_apply_pairs_null_endpoints_and_bootstrap_crash_safety(
    spark, tmp_path
):
    """NULL endpoints drop (never enshrined in the table); the
    bootstrap lands through tmp+move so the table directory never
    holds a partial write; a second apply after bootstrap takes the
    conditional path."""
    from web_api_postgres_etl_spark.streaming.cluster_stream import (
        apply_pairs,
    )

    table = str(tmp_path / "labels")
    schema = "id_a long, id_b long"
    b = spark.createDataFrame([(1, 2), (None, 3), (4, None)], schema)
    stats = apply_pairs(spark, table, b)
    assert stats["bootstrapped"] and stats["n_changed"] == 2
    got = {r["id"]: r["component"] for r in spark.read.parquet(table).collect()}
    assert got == {1: 1, 2: 1}

    stats2 = apply_pairs(
        spark, table, spark.createDataFrame([(2, 5)], schema)
    )
    assert not stats2["bootstrapped"] and stats2["n_changed"] == 1
    assert {
        r["id"]: r["component"] for r in spark.read.parquet(table).collect()
    } == {1: 1, 2: 1, 5: 1}


def test_vectors_maintain_stream_appends_and_replays_idempotently(
    spark, tmp_path
):
    """The vector-ingest face: drained batches land in the IVF-PQ index
    encoded under the FROZEN sidecars (grown index ≡ one-shot rebuild
    with the same sidecars); a replayed batch appends ZERO rows; a
    checkpoint reset re-drains harmlessly; NULL rows drop and
    within-batch duplicate ids raise."""
    import pytest
    from pyspark.sql import functions as F

    from web_api_postgres_etl_spark.operators.similarity import (
        write_ivf_pq_index,
    )
    from web_api_postgres_etl_spark.streaming.vector_stream import (
        ivf_pq_append_batch,
        vectors_maintain_run,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    boot = emb.filter(F.col("vec_id") < 300)
    path = str(tmp_path / "idx")
    cents, books = write_ivf_pq_index(
        boot, path, every=11, max_centroids=4, m=4, pq_k=8, pq_iters=1
    )

    schema = "vec_id long, embedding array<float>"
    src = str(tmp_path / "vecs")
    ckpt = str(tmp_path / "ckpt")
    b1 = emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400))
    b2 = emb.filter(F.col("vec_id") >= 400)
    b1.write.mode("append").parquet(src)
    vectors_maintain_run(spark, src, path, ckpt, schema)
    assert spark.read.parquet(path).count() == 400
    b2.write.mode("append").parquet(src)
    vectors_maintain_run(spark, src, path, ckpt, schema)
    assert spark.read.parquet(path).count() == 500

    # grown ≡ one-shot rebuild under the SAME frozen sidecars
    path2 = str(tmp_path / "oneshot")
    write_ivf_pq_index(emb, path2, centroids=cents, codebooks=books)
    a = sorted(
        (r["vec_id"], tuple(r["pq_codes"]), r["cluster"])
        for r in spark.read.parquet(path).collect()
    )
    b = sorted(
        (r["vec_id"], tuple(r["pq_codes"]), r["cluster"])
        for r in spark.read.parquet(path2).collect()
    )
    assert a == b

    # direct replay of an already-landed batch: zero appends
    stats = ivf_pq_append_batch(spark, path, b2)
    assert stats["appended"] == 0 and stats["skipped_existing"] == b2.count()
    # checkpoint reset re-drains everything — still zero growth
    vectors_maintain_run(spark, src, path, str(tmp_path / "ckpt2"), schema)
    assert spark.read.parquet(path).count() == 500

    # NULL rows drop; within-batch duplicate ids raise
    nulls = spark.createDataFrame(
        [(None, [1.0] * 64), (9999, None)], "vec_id long, embedding array<double>"
    )
    assert ivf_pq_append_batch(spark, path, nulls)["n_batch"] == 0
    dup = spark.createDataFrame(
        [(9999, [1.0] * 64), (9999, [2.0] * 64)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="duplicate"):
        ivf_pq_append_batch(spark, path, dup)
    # EXACT re-delivery of one NEW row within a batch folds (at-least-
    # once sources re-send) — one appended row, no raise
    redelivered = spark.createDataFrame(
        [(8888, [0.5] * 64), (8888, [0.5] * 64)],
        "vec_id long, embedding array<double>",
    )
    st = ivf_pq_append_batch(spark, path, redelivered)
    assert st == {"appended": 1, "skipped_existing": 0, "n_batch": 1}


def test_apply_changes_first_class_deletes(spark, tmp_path):
    """r14 (the r13 verdict #3): tombstone rows route through
    purge_rows inside the batch. Pins: delete+update of one id in one
    batch resolves by seq (equal seq → the delete wins,
    deterministically); delete-then-replay of the older insert is a
    no-op — the tombstone sidecar stops resurrection; a re-insert
    ABOVE the delete's seq lands; the op column never reaches the
    table; exact delete replays are gated out without re-appending."""
    from web_api_postgres_etl_spark.streaming.table_stream import (
        apply_changes,
        tombstone_path,
    )

    schema = "id long, v string, seq long, op string"
    table = str(tmp_path / "tbl")

    # bootstrap WITH a tombstone in the first batch: id 3 is deleted at
    # seq 2 (beating its own seq-1 insert); id 9 never existed — its
    # tombstone must still be recorded
    b1 = spark.createDataFrame(
        [
            (1, "a0", 1, "U"),
            (2, "b0", 1, None),
            (3, "c0", 1, "U"),
            (3, None, 2, "D"),
            (9, None, 5, "D"),
        ],
        schema,
    )
    st1 = apply_changes(spark, table, b1, "id", "seq", op_col="op")
    assert st1["bootstrapped"] and st1["rows_inserted"] == 2
    assert st1["tombstones_appended"] == 2 and st1["rows_deleted"] == 0
    got = {r["id"]: r["v"] for r in spark.read.parquet(table).collect()}
    assert got == {1: "a0", 2: "b0"}
    assert "op" not in spark.read.parquet(table).columns

    # replaying id 3's ORIGINAL insert (older seq) must not resurrect
    replay = spark.createDataFrame([(3, "c0", 1, "U")], schema)
    st2 = apply_changes(spark, table, replay, "id", "seq", op_col="op")
    assert st2["rows_inserted"] == 0 and st2["rows_replaced"] == 0
    assert spark.read.parquet(table).filter("id = 3").count() == 0
    # ...nor may a seq-9 insert of the never-existing-but-tombstoned 9
    # below its tombstone (seq 5) — while an ABOVE-tombstone one lands
    assert apply_changes(
        spark, table,
        spark.createDataFrame([(9, "z0", 4, None)], schema),
        "id", "seq", op_col="op",
    )["rows_inserted"] == 0
    st3 = apply_changes(
        spark, table,
        spark.createDataFrame([(9, "z1", 6, None)], schema),
        "id", "seq", op_col="op",
    )
    assert st3["rows_inserted"] == 1
    assert {r["id"]: r["v"] for r in spark.read.parquet(table).collect()} == {
        1: "a0", 2: "b0", 9: "z1"
    }

    # delete+update same batch, same id: higher seq wins; at EQUAL seq
    # the delete wins (z ranks above any digest)
    b4 = spark.createDataFrame(
        [(1, "a1", 7, "U"), (1, None, 7, "D"), (2, "b1", 8, "U"),
         (2, None, 7, "D")],
        schema,
    )
    st4 = apply_changes(spark, table, b4, "id", "seq", op_col="op")
    assert st4["rows_deleted"] == 1 and st4["tombstones_appended"] == 1
    assert st4["rows_replaced"] == 1
    assert {r["id"]: r["v"] for r in spark.read.parquet(table).collect()} == {
        2: "b1", 9: "z1"
    }

    # exact delete replay: gated out entirely — no purge scan, no new
    # tombstone rows
    tomb = tombstone_path(table)
    n_tomb = spark.read.parquet(tomb).count()
    st5 = apply_changes(
        spark, table,
        spark.createDataFrame([(1, None, 7, "D")], schema),
        "id", "seq", op_col="op",
    )
    assert st5["rows_deleted"] == 0 and st5["tombstones_appended"] == 0
    assert spark.read.parquet(tomb).count() == n_tomb

    # op_col must exist
    import pytest as _pt

    with _pt.raises(ValueError, match="op_col"):
        apply_changes(
            spark, table,
            spark.createDataFrame([(1, "x", 9, None)], schema),
            "id", "seq", op_col="nope",
        )


def test_cdc_delete_end_state_pure_function_of_log(spark, tmp_path):
    """r14: with deletes in the log, the visible end state is STILL a
    pure function of the change log's per-id ordering-triple maxima —
    the same changes applied in different batchings and orders (the
    checkpoint-reset / at-least-once regime) converge to identical
    tables, and replaying everything after convergence changes
    nothing."""
    from web_api_postgres_etl_spark.streaming.table_stream import (
        apply_changes,
    )

    schema = "id long, v string, seq long, op string"
    log = [
        (1, "a0", 1, None), (1, "a1", 3, None), (1, None, 4, "D"),
        (1, "a2", 6, None),                     # resurrected above D
        (2, "b0", 1, None), (2, None, 9, "D"),  # ends deleted
        (3, "c0", 2, None), (3, None, 2, "D"),  # equal seq: D wins
        (4, None, 3, "D"), (4, "d0", 2, None),  # delete arrives first
        (5, "e0", 1, None), (5, "e1", 2, None),  # plain updates
    ]
    want = {1: ("a2", 6), 5: ("e1", 2)}

    def run(name, batches):
        t = str(tmp_path / name)
        for rows in batches:
            if rows:
                apply_changes(
                    spark, t,
                    spark.createDataFrame(rows, schema),
                    "id", "seq", op_col="op",
                )
        return t

    # one shot; row-at-a-time in log order; row-at-a-time REVERSED;
    # two halves; and one-shot-then-full-replay
    t_oneshot = run("one", [log])
    t_rows = run("rows", [[r] for r in log])
    t_rev = run("rev", [[r] for r in reversed(log)])
    t_halves = run("halves", [log[:6], log[6:]])
    t_replay = run("replay", [log, log])
    for t in (t_oneshot, t_rows, t_rev, t_halves, t_replay):
        got = {
            r["id"]: (r["v"], r["seq"])
            for r in spark.read.parquet(t).collect()
        }
        assert got == want, f"{t}: {got}"
        # no duplicate ids ever
        assert spark.read.parquet(t).groupBy("id").count().filter(
            "count > 1"
        ).count() == 0


def test_table_maintain_run_with_tombstones(spark, tmp_path):
    """r14: the streaming face passes op_col through — a drained
    change stream with tombstones converges, and a checkpoint reset
    re-draining the full history (including the deletes) is a
    fixed point."""
    from web_api_postgres_etl_spark.streaming.table_stream import (
        table_maintain_run,
    )

    schema = "id long, v string, seq long, op string"
    src = str(tmp_path / "changes")
    table = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")

    spark.createDataFrame(
        [(1, "a0", 1, None), (2, "b0", 1, None)], schema
    ).write.mode("append").parquet(src)
    table_maintain_run(
        spark, src, table, ckpt, schema, "id", "seq", op_col="op"
    )
    spark.createDataFrame(
        [(1, None, 2, "D"), (3, "c0", 1, None)], schema
    ).write.mode("append").parquet(src)
    table_maintain_run(
        spark, src, table, ckpt, schema, "id", "seq", op_col="op"
    )
    want = {2: "b0", 3: "c0"}
    assert {
        r["id"]: r["v"] for r in spark.read.parquet(table).collect()
    } == want
    # checkpoint reset: full history re-drains, the delete replays,
    # id 1 must stay dead
    table_maintain_run(
        spark, src, table, str(tmp_path / "ckpt2"), schema, "id", "seq",
        op_col="op",
    )
    assert {
        r["id"]: r["v"] for r in spark.read.parquet(table).collect()
    } == want
