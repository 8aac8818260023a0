"""T1/T3 — Structured Streaming face over the incremental pipeline.

The reference's "stream" is a 15-minute Airflow cron
(mabna_tables_update.py:383) polling a version watermark. The faithful
Spark shape is a file-source stream with ``Trigger.AvailableNow`` (run
to completion on each scheduled invocation — exactly the cron-driven
micro-batch) and a ``foreachBatch`` sink that appends then compacts
(last-wins, O2) — the reference's append + drop_duplicates pair as one
transactional-ish batch function.

Semantics note: the version watermark is a *data* watermark (monotone
long), not event time, so no ``withWatermark``/event-time windows are
involved — late re-delivery is repaired by compaction, matching
mabna_tables_update.py:262-287.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..plans.pipeline import MedallionPipeline
from ..sources.writers import write_append


def incremental_stream(
    spark: SparkSession,
    source_dir: str,
    sink_path: str,
    checkpoint_dir: str,
    transform: Callable[[DataFrame], DataFrame],
    keys: list[str],
    schema=None,
    available_now: bool = True,
):
    """File-source micro-batch stream: new files under ``source_dir`` →
    ``transform`` → append to ``sink_path`` → compact.

    ``AvailableNow`` processes everything pending then stops — the
    cron-invocation semantics; flip to ``processingTime='15 minutes'``
    for a resident driver. The checkpoint replaces the reference's
    re-derived MAX(version) probe with exact file-offset tracking
    (strictly stronger: no window for double-processing between probe
    and append).
    """
    reader = spark.readStream
    if schema is not None:
        reader = reader.schema(schema)
    stream = reader.parquet(source_dir)
    pipe = MedallionPipeline(spark, warehouse="")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        out = transform(batch_df)
        write_append(out, sink_path)
        pipe.compact_partitioned(sink_path, keys)

    writer = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="15 minutes")
    return writer.start()
