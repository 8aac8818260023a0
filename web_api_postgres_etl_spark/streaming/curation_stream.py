"""Streaming curation ingest: the batch curation column operators
(quality gate, PII scrub, exact-dup key) composed onto a Structured
Streaming source — documents are cleaned, filtered, and in-flight
deduplicated BEFORE they land, so the batch corpus passes (MinHash,
line dedup, sampling) start from an already-hygienic sink.

Everything row-level reuses the batch definitions verbatim
(functions.text.quality_score / redact_pii / content_hash): curation
rules cannot drift between the batch and streaming faces because there
is only one definition of each. The streaming-only parts are the
watermark-bounded duplicate suppression (state evicted as event time
passes — firehose-safe) and the append sink.

Batch equivalence is pinned in tests: the streamed sink equals the
same filters + first-per-digest dedup applied to the input as one
batch DataFrame.
"""

from __future__ import annotations

from .ckpt import ckpt_tag as _ckpt_tag

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import content_hash, quality_score, redact_pii
from ..plans.fs import read_if_present


def curate_batch(
    df: DataFrame,
    text_col: str = "text",
    min_quality: float = 0.5,
) -> DataFrame:
    """The shared row-level curation transform (stream and batch run
    THIS): score quality on the raw text, drop low-quality rows, scrub
    PII, and attach the exact-dup digest of the SCRUBBED text (dedup
    must key on what actually lands in the corpus)."""
    scored = df.withColumn("quality", quality_score(text_col))
    kept = scored.filter(F.col("quality") >= min_quality)
    scrubbed = kept.withColumn(text_col, redact_pii(text_col))
    return scrubbed.withColumn("content_digest", content_hash(text_col))


def curation_stream_run(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    schema,
    text_col: str = "text",
    time_col: str = "ts",
    min_quality: float = 0.5,
    watermark: str = "1 hour",
) -> None:
    """One AvailableNow invocation: curate + in-flight exact dedup on
    the content digest within the watermark horizon, append survivors.
    Late re-deliveries beyond the horizon pass through (bounded state);
    the batch exact-dedup pass is the backstop — same layering as the
    reference's append + compact repair (mabna_tables_update.py:262-287,
    here applied to corpus hygiene instead of trade versions)."""
    stream = spark.readStream.schema(schema).parquet(source_dir)
    curated = curate_batch(stream, text_col, min_quality)
    deduped = curated.withWatermark(
        time_col, watermark
    ).dropDuplicatesWithinWatermark(["content_digest"])
    q = (
        deduped.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def corpus_ingest_run(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    sig_dir: str,
    checkpoint_dir: str,
    schema,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 2,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
) -> None:
    """Continuous corpus ingestion with cross-batch near-dup dedup:
    every micro-batch is (1) deduped against the PERSISTED minhash
    signature table (``dedup_against_corpus`` — batch cost scales with
    the batch, never with everything ever ingested), (2) appended to
    the corpus sink, and (3) its survivors' signatures appended to the
    signature table so later batches dedup against it.

    Batch logic runs verbatim inside ``foreachBatch`` — the standard
    Structured Streaming face for flows that need joins/aggregations
    per micro-batch beyond the stateful-operator whitelist. Exactly
    the reference's append+watermark layering (mabna_tables_update.py:
    262-287), applied to corpus hygiene: the signature table IS the
    watermark state, stored as plain parquet.

    First-batch bootstrap: an absent/empty signature directory means
    an empty corpus — the batch self-signs and lands whole. In-batch
    near-dups are NOT collapsed here (two twins in one batch both
    land); run the batch ``near_dup_pairs`` compaction as the backstop,
    the same layering the exact-dup stream documents.

    foreachBatch is at-least-once, so both writes are IDEMPOTENT per
    batch: sink and signature table are partitioned by
    ``ingest_batch_id`` and written with dynamic partition overwrite —
    a retried batch replaces its own partition instead of appending a
    second copy. The retry paths compose correctly: if the signature
    append (or the checkpoint commit) failed after the sink landed, the
    rerun either reproduces the identical survivor set (signatures not
    yet visible) and overwrites the partition with the same rows, or —
    when the first attempt's signatures DID land — dedups the batch
    against its own signatures to an empty survivor set, and dynamic
    overwrite of an empty frame touches no partitions. Either way the
    corpus ends up with exactly one copy.

    The partition key is ``md5(checkpoint_dir)[:8]-batch_id``, not the
    bare batch id: Spark keeps ``batch_id`` stable across
    restart-retries of the SAME checkpoint (the idempotency that
    matters), but a NEW checkpoint restarts ids at 0 — with a bare key
    its batch 0 would silently OVERWRITE the oldest existing
    partitions. Scoping the key to the checkpoint makes a checkpoint
    reset degrade to duplication (the backstop compaction's job), never
    to data loss. Corollary: when abandoning a corrupt checkpoint,
    point the query at a FRESH checkpoint path — recreating the same
    path reuses its partition keys. Sink and signature directories must
    be fresh or written by this layout (a pre-partitioning flat
    directory mixed with ``ingest_batch_id=N/`` dirs fails Spark's
    partition discovery loudly).
    """
    from ..operators.dedup import dedup_against_corpus, minhash_table

    sig_cols = [f"mh_{i}" for i in range(num_hashes)]
    # shared normalize-then-hash recipe (see streaming/ckpt.py for the
    # normalization rationale and the r8 migration note)
    ckpt_tag = _ckpt_tag(checkpoint_dir)

    def _write_partition(df, path: str) -> None:
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest_batch_id")
            .parquet(path)
        )

    def _process(batch_df, batch_id: int) -> None:
        # ONLY a signature store that is not there yet is the
        # first-batch bootstrap (plans.fs rule 2: no path, or a
        # zero-row first batch that left only _SUCCESS): any other read
        # failure (permissions, corrupt footer) must fail the batch —
        # treating it as "first batch" would land the whole batch
        # UNDEDUPED and append its signatures, permanently ingesting
        # duplicates with no error surfaced.
        sigs = read_if_present(spark, sig_dir)
        if sigs is not None:
            sigs = sigs.select(id_col, *sig_cols)
        have_sigs = sigs is not None and len(sigs.take(1)) > 0
        if have_sigs:
            kept = dedup_against_corpus(
                batch_df, sigs, id_col, text_col,
                shingle_n, num_hashes, bands, threshold,
            )
        else:
            kept = batch_df
        # one pass per batch: persist survivors, then derive their
        # signatures from the cached frame
        kept = kept.persist()
        tag = F.lit(f"{ckpt_tag}-{int(batch_id)}").alias("ingest_batch_id")
        _write_partition(kept.select("*", tag), sink_dir)
        _write_partition(
            minhash_table(
                kept, id_col, text_col, shingle_n, num_hashes
            ).select(id_col, *sig_cols, tag),
            sig_dir,
        )
        kept.unpersist()

    q = (
        spark.readStream.schema(schema)
        .parquet(source_dir)
        .writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
