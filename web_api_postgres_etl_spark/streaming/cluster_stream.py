"""Streaming near-dup cluster maintenance: keep a persisted
(id, component) label table current from a stream of near-dup PAIR
batches — the cross-batch face of the components family, composing
``operators.graph.merge_components_delta`` (recompute only the
components a batch touches) with ``operators.layout.upsert_rows``
(rewrite only the parquet files holding a changed label). Both halves
scale with data TOUCHED, so a corpus-sized label table absorbs a
kilobyte pair batch without a full-graph job or a full-table rewrite.

Universe rule (differs from ``merge_components``' standalone
contract): a pair batch brings its OWN endpoints into the node
universe, so no pair is ever dropped for referencing an id the label
table hasn't seen — which is what makes the end state a pure function
of the UNION of all pair batches, independent of how the stream
groups them. Min-id component labels are history-independent (the
same confluence that lets chained merges equal a one-shot run), so:

- replaying a batch is a value-level fixed point — the delta comes
  back empty and the upsert early-returns with zero writes;
- a checkpoint reset that re-drains history in DIFFERENT batch
  groupings converges to the identical table.

The table stores only ids that have EVER appeared in a pair — a
deliberate scale choice: materializing corpus-sized singleton rows
would make the "small state" table as big as the corpus. Readers
treat an absent id as its own singleton cluster.

Cites /root/reference scope: the reference's incremental production
refresh (mabna_tables_update.py) maintains tables from deltas; this
extends the same discipline to dedup cluster state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import release_frame
from ..operators.graph import connected_components_fast, merge_components_delta
from ..operators.layout import (
    land_bootstrap,
    table_has_parquet,
    upsert_rows,
)


def apply_pairs(
    spark: SparkSession,
    labels_path: str,
    pairs: DataFrame,
    id_col: str = "id",
    comp_col: str = "component",
    edge_src: str = "id_a",
    edge_dst: str = "id_b",
    max_iter: int = 12,
) -> dict:
    """One batch of near-dup pairs → the label table. Returns
    ``upsert_rows``'s stats dict plus ``n_changed`` (delta rows) and
    ``bootstrapped``. Bootstraps the table from the batch alone when
    ``labels_path`` holds no parquet files yet. NULL endpoints are
    dropped (they identify nothing); self-pairs are harmless (the
    components loop canonicalizes them away)."""
    clean = pairs.select(
        F.col(edge_src).alias("id_a"), F.col(edge_dst).alias("id_b")
    ).filter(F.col("id_a").isNotNull() & F.col("id_b").isNotNull())
    # the face's universe rule: endpoints ARE the batch's node set
    endpoints = (
        clean.select(F.col("id_a").alias("id"))
        .union(clean.select(F.col("id_b").alias("id")))
        .distinct()
    )
    # table_has_parquet raises on a non-local path, before any bootstrap
    if not table_has_parquet(labels_path):
        pins: list[DataFrame] = []
        boot = connected_components_fast(
            endpoints, clean, max_iter=max_iter, pins=pins
        ).select(F.col("id").alias(id_col), F.col("component").alias(comp_col))
        added = land_bootstrap(boot, labels_path)
        for p in pins:
            release_frame(p)
        n = spark.read.parquet(labels_path).count()
        return {
            "rows_replaced": 0,
            "rows_inserted": n,
            "files_rewritten": 0,
            "removed_files": [],
            "added_files": added,
            "n_changed": n,
            "bootstrapped": True,
        }
    labels = spark.read.parquet(labels_path)
    pins = []
    delta = merge_components_delta(
        labels, endpoints, clean,
        node_id=id_col, comp_col=comp_col, max_iter=max_iter, pins=pins,
    )
    # localCheckpoint, NOT persist: the delta's old-vs-new comparison
    # join reads the very parquet files upsert_rows is about to
    # rewrite — a recomputed partition mid-mutation would compare
    # against post-apply state or die on FileNotFound (the
    # apply_changes gated-frame rule)
    delta = delta.localCheckpoint(eager=True)
    try:
        stats = upsert_rows(spark, labels_path, delta, id_col)
        stats["n_changed"] = stats["rows_replaced"] + stats["rows_inserted"]
        stats["bootstrapped"] = False
        return stats
    finally:
        release_frame(delta)
        for p in pins:
            release_frame(p)


def clusters_maintain_run(
    spark: SparkSession,
    source_dir: str,
    labels_path: str,
    checkpoint_dir: str,
    schema,
    edge_src: str = "id_a",
    edge_dst: str = "id_b",
) -> None:
    """Drain the pair-file stream at ``source_dir`` (AvailableNow),
    folding each micro-batch into the label table via
    :func:`apply_pairs`. Call repeatedly as new pair files land; the
    checkpoint remembers consumed files. Replayed batches are
    value-level fixed points and re-drained history converges under
    ANY batch grouping (module docstring), so at-least-once
    foreachBatch delivery needs no partition bookkeeping."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        apply_pairs(
            spark, labels_path, batch_df,
            edge_src=edge_src, edge_dst=edge_dst,
        )

    stream = (
        spark.readStream.schema(schema)
        .parquet(source_dir)
        .writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    stream.awaitTermination()
