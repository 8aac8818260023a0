"""Streaming count-min sketch maintenance: keep a bounded-size value
frequency summary continuously up to date over a file stream without
ever rescanning history — the sketch sibling of ``agg_stream``'s
partial-state store, and the shape that answers "what are the hot
URLs / user agents / n-grams right now" over an open-ended domain no
per-key state table could hold.

Same layering as ``agg_maintain_run``: each micro-batch reduces to its
own ≤ depth × width cell partition (checkpoint-scoped tag, dynamic
partition overwrite — a replayed batch REPLACES its own partition, so
at-least-once delivery can never double-count); the read face merges
all partitions cell-wise (``cms_merge`` is exact integer addition, so
merge order never matters and the merged store ≡ the one-shot sketch
of all input, bit-for-bit). A family sidecar records (col, depth,
width) — cells are POSITIONAL, so partitions written under a
different family would silently alias wrong buckets on read; the
first writer pins the family and every later writer must match.
"""

from __future__ import annotations

from .ckpt import check_or_write_sidecar
from .ckpt import ckpt_tag as _ckpt_tag

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketch import cms_build, cms_merge
from ..plans.fs import read_if_present

_PART_COL = "cms_batch_id"


def cms_maintain_run(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    schema,
    col: str,
    depth: int = 4,
    width: int = 1024,
) -> None:
    """Drain the file stream at ``source_dir`` (AvailableNow), writing
    each micro-batch's sketch cells to its own partition of
    ``state_dir``. Safe to call repeatedly; a replayed batch
    overwrites its own partition (idempotent). The partition tag is
    checkpoint-PATH-scoped, so resetting to a NEW checkpoint path
    duplicates contributions visibly (a compaction's job to fold)
    rather than overwriting old partitions. CAVEAT: deleting and
    reusing the SAME checkpoint path restarts batch_id at 0 under the
    same tag — the replayed first batch then overwrites partition
    {tag}-0 while stale partitions {tag}-1..n remain, and the merged
    store silently over-counts; a checkpoint reset must come with a
    fresh checkpoint dir (or a wipe of that tag's partitions)."""
    # shared normalize-then-hash recipe (see streaming/ckpt.py for the
    # normalization rationale and the r8 migration note)
    ckpt_tag = _ckpt_tag(checkpoint_dir)
    check_or_write_sidecar(
        spark, state_dir, "col string, depth int, width int",
        (col, int(depth), int(width)), "cms",
    )

    def _process(batch_df, batch_id: int) -> None:
        cells = cms_build(batch_df, col, depth=depth, width=width)
        (
            cells.withColumn(_PART_COL, F.lit(f"{ckpt_tag}-{int(batch_id)}"))
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


def read_cms_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Current merged sketch over the partial store — exact cell-wise
    sums, ≡ the one-shot sketch of everything ingested. Use with
    ``cms_estimate``/``cms_heavy_hitters`` (pass the family's depth
    and width — read them from :func:`read_cms_family`).

    A store whose sidecar exists but which has received no cells yet
    (empty source, or every batch all-NULL) is VALID and reads as the
    empty sketch; a path with neither sidecar nor cells raises (a
    mis-pointed path must not masquerade as an empty store)."""
    cells = read_if_present(spark, state_dir)
    if cells is None:
        # legitimate-but-empty only if the family sidecar vouches
        read_cms_family(spark, state_dir)  # raises on a mis-pointed path
        return spark.createDataFrame([], "row int, bucket int, cnt long")
    return cms_merge(cells.drop(_PART_COL))


def read_cms_family(spark: SparkSession, state_dir: str) -> tuple:
    """(col, depth, width) recorded by the first writer."""
    rows = spark.read.parquet(state_dir + "_meta").collect()
    if len(rows) != 1:
        raise ValueError(
            f"cms state at {state_dir}: expected exactly 1 _meta row, "
            f"found {len(rows)}"
        )
    return (rows[0]["col"], rows[0]["depth"], rows[0]["width"])
