"""Pin and release helpers for staging frames.

A staging frame that several later plans read is pinned with
``pin``: an eager ``localCheckpoint``. The frame is computed once,
its blocks stay in executor storage, and its plan becomes a one-node
``LogicalRDD`` scan. Every downstream plan starts from that scan —
the in-session form of landing a layer as a table before the next
layer reads it. ``persist()`` is not used for this: a persisted frame
enters later plans as an ``InMemoryRelation`` that still carries its
whole upstream plan, so the analyzer re-walks that tree and AQE
re-renders its plan string in every consumer, and AQE may not change
the cached plan's output partitioning.

Trade-off: a local checkpoint has no lineage. If an executor holding
its blocks is lost, the frame cannot be recomputed and every plan that
reads it fails. A pipeline that must survive executor loss should land
the layer as a table instead.

Spark has two distinct pinning layers and only one obvious release
API: ``Dataset.unpersist`` clears the SQL cache for a ``.persist()``-ed
frame, but a ``.localCheckpoint()``-ed frame is pinned at the RDD
layer (its plan is a ``LogicalRDD`` over the checkpointed RDD), which
``Dataset.unpersist`` does not reach — left alone it stays in
``getPersistentRDDs`` until the JVM object is garbage-collected.
``release_frame`` handles both, so loop bodies and long-lived sessions
can release staging frames deterministically instead of waiting on GC.

A released frame (and anything lazily derived from it) is UNUSABLE —
a localCheckpointed frame has no lineage left to recompute from.
Release only after every consumer has materialized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def pin(frame: DataFrame, pins: list[DataFrame] | None = None) -> DataFrame:
    """Compute ``frame`` now and return it as a one-node checkpoint scan.

    The result is appended to ``pins`` when given, so the caller can
    ``release_frame`` it once every consumer has materialized."""
    frame = frame.localCheckpoint(eager=True)
    if pins is not None:
        pins.append(frame)
    return frame


def release_frame(df: DataFrame) -> None:
    """Unpin ``df`` whether it was persisted or localCheckpointed.

    No-op for frames that are neither. Best-effort on the RDD layer
    (private plan access): if the internals shift in a future Spark,
    the ContextCleaner still reclaims checkpointed RDDs on GC."""
    df.unpersist()
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:
        pass
