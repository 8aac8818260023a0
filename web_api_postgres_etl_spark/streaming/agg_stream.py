"""Streaming incremental aggregate maintenance: keep per-key
aggregates (count/sum/min/max, finalized averages) continuously up to
date over a file stream WITHOUT ever rescanning history.

Design — partial-state partitions, merge-on-read:

- each micro-batch reduces to its own partial-state rows
  (``operators.aggregates.incremental_agg_state`` — one map-side-
  combining groupBy over just the batch);
- the state store is parquet partitioned by a checkpoint-scoped batch
  tag, written with dynamic partition overwrite — the same idempotency
  layering as ``curation_stream.corpus_ingest_run``: foreachBatch is
  at-least-once, and a replayed batch REPLACES its own partition
  instead of double-counting (the classic streaming-aggregation bug
  this layout makes structurally impossible);
- the read face (``read_agg_state``) folds every partition's partials
  with one keyed groupBy (``merge_agg_states`` — algebraic, so the
  fold order never matters), then ``finalize_agg`` adds averages.

Contrast with Spark's built-in streaming aggregation: the state-store
version holds running totals in RocksDB/HDFS state keyed to ONE query
and is opaque to batch readers. This layout keeps the state as plain
parquet — batch jobs, ad-hoc SQL, and a NEW streaming query (fresh
checkpoint) all read the same store, and a checkpoint reset degrades
to re-aggregating replayed input partitions (visible duplicates a
compaction resolves) rather than silent corruption.

Scale: the store grows one small partition per batch (key-cardinality
rows, not input rows); read-time merge cost grows with batch count
until ``compact_agg_state`` folds history into a single partition —
run it on whatever cadence keeps partition counts sane (e.g. daily
over 15-minute batches, the reference's own loop granularity).
"""

from __future__ import annotations

from .ckpt import check_or_write_sidecar
from .ckpt import ckpt_tag as _ckpt_tag

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.aggregates import (
    finalize_agg,
    incremental_agg_state,
    merge_agg_states,
)
from ..plans.fs import read_if_present

_PART_COL = "agg_batch_id"


def _spec_row(keys, sum_cols, min_cols, max_cols, distinct_cols) -> tuple:
    return (
        ",".join(k.split(".")[-1] for k in keys),
        ",".join(sum_cols or []),
        ",".join(min_cols or []),
        ",".join(max_cols or []),
        ",".join(distinct_cols or []),
    )


# the store's spec sidecar (streaming/ckpt.py::check_or_write_sidecar):
# partitions written under DIFFERENT specs would silently mis-merge on
# read (parquet schema inference picks one arbitrary footer; missing
# state columns surface as skipped NULLs — undercounting, not an error)
_SPEC_SCHEMA = (
    "keys string, sum_cols string, min_cols string, max_cols string, "
    "distinct_cols string"
)


def agg_maintain_run(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    schema,
    keys: list[str],
    sum_cols: list[str] | None = None,
    min_cols: list[str] | None = None,
    max_cols: list[str] | None = None,
    distinct_cols: list[str] | None = None,
) -> None:
    """Drain the file stream at ``source_dir`` (AvailableNow trigger),
    writing each micro-batch's partial aggregate state to its own
    partition of ``state_dir``. Safe to call repeatedly — the
    checkpoint resumes where the last drain stopped; a replayed batch
    overwrites its own partition (idempotent). The partition tag is
    checkpoint-PATH-scoped, so resetting to a NEW checkpoint path
    duplicates input contributions (a later compaction's job to fold)
    instead of overwriting older partitions — same reasoning as
    ``corpus_ingest_run``'s key (curation_stream.py). CAVEAT: deleting
    and reusing the SAME checkpoint path restarts batch_id at 0 under
    the same tag — the replayed first batch overwrites {tag}-0 while
    stale {tag}-1..n partitions remain and the merged state silently
    over-counts; pair any checkpoint reset with a fresh checkpoint dir
    (or a wipe of that tag's partitions).
    """
    if _PART_COL in {k.split(".")[-1] for k in keys}:
        raise ValueError(f"agg_maintain_run: {_PART_COL!r} is reserved")
    # shared normalize-then-hash recipe (see streaming/ckpt.py for the
    # normalization rationale and the r8 migration note)
    ckpt_tag = _ckpt_tag(checkpoint_dir)
    check_or_write_sidecar(
        spark, state_dir, _SPEC_SCHEMA,
        _spec_row(keys, sum_cols, min_cols, max_cols, distinct_cols), "agg",
    )

    def _process(batch_df, batch_id: int) -> None:
        state = incremental_agg_state(
            batch_df, keys, sum_cols=sum_cols, min_cols=min_cols,
            max_cols=max_cols, distinct_cols=distinct_cols,
        )
        (
            state.withColumn(_PART_COL, F.lit(f"{ckpt_tag}-{int(batch_id)}"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(_PART_COL)
            .parquet(state_dir)
        )

    q = (
        spark.readStream.schema(schema)
        .parquet(source_dir)
        .writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_agg_state(
    spark: SparkSession,
    state_dir: str,
    keys: list[str],
    avg_of: list[str] | None = None,
    distinct_of: list[str] | None = None,
) -> DataFrame:
    """Current aggregate view over the partial-state store: one keyed
    groupBy folds all batch partitions (algebraic merge — order-free),
    then finalized averages are added as a projection. A zero-row
    store (e.g. only empty batches ever landed) raises the engine's
    schema-inference error — there IS no state to read, and guessing
    an empty frame's schema would silently hide a mis-pointed path."""
    states = spark.read.parquet(state_dir).drop(_PART_COL)
    return finalize_agg(
        merge_agg_states(states, keys), avg_of=avg_of, distinct_of=distinct_of
    )


def compact_agg_state(
    spark: SparkSession,
    state_dir: str,
    compacted_dir: str,
    keys: list[str],
) -> int:
    """Fold the whole partial-state store into a single partition at
    ``compacted_dir`` (tag ``compacted``), returning the merged row
    count. Written to a SEPARATE directory so the fold is atomic from
    readers' perspective — swap paths (or point the maintainer's next
    ``state_dir`` at it) once the write lands; compacting in place
    would race the maintainer's dynamic overwrites. The compacted
    store is itself a valid state store: ``read_agg_state`` and
    further ``agg_maintain_run`` batches layer on top of it."""
    merged = merge_agg_states(
        spark.read.parquet(state_dir).drop(_PART_COL), keys
    )
    (
        merged.withColumn(_PART_COL, F.lit("compacted"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(_PART_COL)
        .parquet(compacted_dir)
    )
    # carry the spec sidecar: maintainers layering on the compacted
    # store must validate against the ORIGINAL spec, not re-bootstrap;
    # a pre-sidecar store has none (the next maintainer bootstraps
    # one), and an unreadable one raises
    meta = read_if_present(spark, state_dir + "_meta")
    if meta is not None:
        meta.coalesce(1).write.mode("overwrite").parquet(compacted_dir + "_meta")
    return spark.read.parquet(compacted_dir).count()
