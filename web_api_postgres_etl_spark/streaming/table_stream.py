"""CDC table maintenance: keep a queryable plain-parquet table current
from a change stream, applying each micro-batch as a SURGICAL keyed
upsert — the streaming face of ``operators.layout.upsert_rows``.

How this differs from the engine's other two maintenance shapes:

- ``streaming/incremental.py`` (T1/T3) appends then COMPACTS — the
  whole table (or each touched partition) is rewritten by the
  last-wins window. Right when batches touch most keys.
- This module rewrites ONLY the parquet files containing a replaced
  id. Right when batches are small relative to the table — the usual
  CDC regime, where a compaction pass would re-shuffle terabytes to
  apply kilobytes.

Each micro-batch is first folded LAST-WINS per id inside the batch
(a CDC feed can carry several versions of one row; ``upsert_rows``
rightly refuses ambiguous duplicate ids), ordered by ``seq_col`` with
ties broken by a whole-row digest (the partition key itself would be
a no-op tiebreak, leaving equal-seq duplicates to physical order),
then applied.

Idempotency: the apply is CONDITIONAL on the (``seq_col``, row-digest)
pair — a change ordered below the stored row's pair is dropped, never
applied — so the table's end state is a pure function of the change
log's per-id ``(seq, digest)`` maxima: replaying a batch is a
value-level fixed point, and even a checkpoint reset that re-drains
history in a DIFFERENT batch order cannot regress a row
(at-least-once foreachBatch needs no partition bookkeeping here,
unlike ``agg_stream`` — sums are not idempotent; merges are). The
digest participates at APPLY time, not just inside the batch fold,
precisely so that two DISTINCT rows carrying an equal ``(id, seq)``
resolve identically whether they arrive in one batch or split across
two — the digest is recomputed from the stored row's own columns (a
canonical sorted-column recipe), so nothing extra is persisted. The
one seam it inherits: ``upsert_rows``'s duplicate-on-crash window,
repaired by the next successful run of the same batch (the stored
probe takes the per-id MAX pair, so the duplicate never corrupts the
apply decision).

DELETE semantics (r14, first-class): a change log at 100 TB carries
tombstones, so ``apply_changes`` accepts an optional ``op_col`` — rows
whose op equals ``delete_value`` are deletes, routed through
``operators.layout.purge_rows`` inside the same batch; everything else
upserts as before. Purity is preserved by extending the ordering pair
to a TRIPLE ``(seq, is_delete, digest)`` and persisting applied
tombstones in a ``<table>_tombstones`` sidecar:

- Within a batch, the last-wins fold ranks by (seq DESC, is_delete
  DESC, digest DESC) — at equal seq a delete beats any update,
  deterministically, whatever the batch split.
- Across batches, a change applies only if its triple exceeds BOTH the
  stored row's ``(seq, 0, digest)`` and the tombstone's ``(seq, 1,
  '')``. Without the sidecar, replaying an insert after its delete
  (checkpoint reset, at-least-once redelivery) would resurrect the
  row — the table alone cannot remember "id 7 was deleted at seq 9".
  With it, the end state stays a pure function of the log's per-id
  maxima over upserts AND deletes.
- Deletes gate STRICTLY above the tombstone (an exact replay is a free
  no-op — no table re-scan, no sidecar append); upserts keep the
  ``>=`` value-level-no-op rewrite rule. The sidecar holds only
  (id, seq) — a takedown remembers the ID forever, never the content.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import release_frame
from ..operators.dedup import dedup_last_wins
from ..operators.layout import (
    land_bootstrap,
    purge_rows,
    table_has_parquet,
    upsert_rows,
)


# the canonical sorted-column digest now lives in operators.layout
# (shared with table_fingerprint); the gate semantics are unchanged
from ..operators.layout import row_digest as _row_digest  # noqa: E402


def tombstone_path(table_path: str) -> str:
    """Sidecar location for a maintained table's applied-delete log:
    a SIBLING directory (the zone-map rule — table-directory swaps
    must not destroy it), holding only (id, seq) rows."""
    return table_path.rstrip("/") + "_tombstones"


def apply_changes(
    spark: SparkSession,
    table_path: str,
    changes: DataFrame,
    id_col: str,
    seq_col: str,
    op_col: str | None = None,
    delete_value: str = "D",
) -> dict:
    """One batch of CDC rows → the table: fold last-wins per id (by
    ``seq_col`` DESC, tie → delete-beats-update then whole-row digest
    — a batch may carry several versions of one row; ``seq_col`` is a
    real table column and survives), gate on the per-id maximum of the
    stored row's and the tombstone sidecar's ordering triples, then
    apply — surgical upsert for data rows, ``purge_rows`` + a sidecar
    tombstone for deletes (module docstring for the purity argument).

    With ``op_col=None`` (default) the feed carries no tombstones and
    behavior is exactly the pre-r14 upsert-only contract. With it,
    rows whose ``op_col`` equals ``delete_value`` are deletes (the op
    column is change-log metadata — it never lands in the table);
    everything else upserts. Returns ``upsert_rows``'s stats dict plus
    ``n_change_rows`` (POST-fold — one row per id) and
    ``bootstrapped``, and — only when ``op_col`` is given —
    ``rows_deleted`` (table rows physically purged) and
    ``tombstones_appended`` (delete winners newly recorded).
    Bootstraps the table when ``table_path`` holds no parquet files
    yet (the first batch IS the table — minus any ids whose tombstone
    outranks them)."""
    # NULL ids raise on BOTH paths (upsert_rows re-checks its own path
    # harmlessly): a NULL id enshrined by the bootstrap could never be
    # matched by the conditional join again — permanent junk enforced
    # inconsistently by arrival order
    checked_id = F.when(
        F.col(id_col).isNull(),
        F.raise_error(F.lit("apply_changes: NULL id in change batch")),
    ).otherwise(F.col(id_col))
    changes = changes.withColumn(id_col, checked_id)
    # within-batch fold ties on the ordering TRIPLE, not the partition
    # key (which is constant inside its own partition — a no-op
    # tiebreak would leave equal-seq duplicates to physical order, and
    # an UNPERSISTED nondeterministic fold could even hand upsert_rows
    # a different row per action)
    tb = "__cdc_tb"
    if tb in changes.columns:
        raise ValueError(
            f"apply_changes: input column {tb!r} collides with the "
            "fold's internal tiebreaker — rename it first"
        )
    if op_col is not None and op_col not in changes.columns:
        raise ValueError(
            f"apply_changes: op_col {op_col!r} not in change columns "
            f"{changes.columns}"
        )
    # payload = the table's columns; the op column is change-log
    # metadata and never lands. The canonical sorted-column recipe
    # (see _row_digest) — the SAME expression is recomputed over the
    # stored table's columns at gate time, which is what makes
    # equal-(id, seq) DISTINCT rows resolve identically whether they
    # arrive in one batch or split across two
    payload_cols = [c for c in changes.columns if c != op_col]
    is_del = (
        F.coalesce(F.col(op_col) == F.lit(delete_value), F.lit(False))
        if op_col is not None
        else F.lit(False)
    )
    # the ordering triple's (z, d) half: z=1 makes a delete beat any
    # same-seq update (module docstring); d differentiates equal-seq
    # DISTINCT updates — a delete's effect carries no payload, so its
    # digest is pinned '' (two deletes of one id at one seq are the
    # same delete)
    folded = dedup_last_wins(
        changes.withColumn(
            tb,
            F.struct(
                is_del.cast("int").alias("z"),
                F.when(is_del, F.lit(""))
                .otherwise(_row_digest(payload_cols))
                .alias("d"),
            ),
        ),
        [id_col], version_col=seq_col, tiebreaker=tb,
    )
    # table_has_parquet raises on a non-local path, before any bootstrap
    table_exists = table_has_parquet(table_path)
    tomb = tombstone_path(table_path)
    tomb_exists = op_col is not None and table_has_parquet(tomb)
    if not table_exists and op_col is None:
        # upsert-only bootstrap: the first batch IS the table
        added = land_bootstrap(folded.drop(tb), table_path)
        # one count serves both stats: the bootstrap writes exactly one
        # row per folded id, so rows_inserted ≡ n_change_rows — a
        # second n_changes_stat() job would re-run the whole unpersisted
        # digest+window fold just to recount the same number
        n = spark.read.parquet(table_path).count()
        return {
            "rows_replaced": 0,
            "rows_inserted": n,
            "files_rewritten": 0,
            "removed_files": [],
            "added_files": added,
            "n_change_rows": n,
            "bootstrapped": True,
        }
    # persist: upsert_rows evaluates its updates frame across ~5
    # separate actions (dup-check, matched scan, count, two writes) —
    # without the pin the window fold + stored-seq join recompute each
    # time (the documented per-branch recompute trap)
    folded = folded.persist()
    gated = None
    try:
        n_batch = folded.count()
        # CONDITIONAL apply — the CDC rule that makes the end state a
        # pure function of the change log's per-id ordering-triple
        # maxima: a change ordered below BOTH the stored row's
        # (seq, 0, digest) and the tombstone's (seq, 1, '') is
        # dropped, never applied (else a checkpoint reset re-draining
        # history in a different order could REGRESS a row — or
        # resurrect a deleted one). Probes are semi-joined to the
        # batch's ids FIRST so their shuffles are bounded by data
        # TOUCHED, not table size; per-id MAX because a crashed prior
        # apply can leave an id physically duplicated. Exact update
        # ties (same seq AND same digest = same content) apply — a
        # value-level no-op rewrite; exact delete replays are gated
        # OUT (strict >) so they cost nothing.
        pair = F.struct(
            F.col(seq_col).alias("s"),
            F.col(tb)["z"].alias("z"),
            F.col(tb)["d"].alias("d"),
        )
        gated = folded
        probe_cols = []
        if table_exists:
            stored = (
                spark.read.parquet(table_path)
                .join(folded.select(id_col), on=id_col, how="left_semi")
                .groupBy(F.col(id_col).alias("__cdc_sid"))
                .agg(F.max(F.struct(
                    F.col(seq_col).alias("s"),
                    F.lit(0).alias("z"),
                    _row_digest(payload_cols).alias("d"),
                )).alias("__cdc_sp"))
            )
            gated = gated.join(
                stored, gated[id_col] == stored["__cdc_sid"], "left"
            )
            probe_cols.append("__cdc_sp")
        if tomb_exists:
            tombs = (
                spark.read.parquet(tomb)
                .join(folded.select(id_col), on=id_col, how="left_semi")
                .groupBy(F.col(id_col).alias("__cdc_tid"))
                .agg(F.max(F.col(seq_col)).alias("__cdc_ts"))
                .select(
                    "__cdc_tid",
                    F.struct(
                        F.col("__cdc_ts").alias("s"),
                        F.lit(1).alias("z"),
                        F.lit("").alias("d"),
                    ).alias("__cdc_tp"),
                )
            )
            gated = gated.join(
                tombs, gated[id_col] == tombs["__cdc_tid"], "left"
            )
            probe_cols.append("__cdc_tp")
        if probe_cols:
            gmax = (
                F.greatest(*[F.col(c) for c in probe_cols])
                if len(probe_cols) > 1
                else F.col(probe_cols[0])
            )
            gated = gated.filter(
                gmax.isNull()
                | F.when(F.col(tb)["z"] == 1, pair > gmax)
                .otherwise(pair >= gmax)
            ).drop("__cdc_sid", "__cdc_sp", "__cdc_tid", "__cdc_tp")
        # localCheckpoint, NOT persist: gated's lineage reads the very
        # parquet files purge/upsert are about to remove — a recomputed
        # partition (executor loss, cache eviction) would re-read the
        # table mid-mutation and gate against post-apply state or die
        # on FileNotFound; severing the lineage makes the handoff safe
        gated = gated.localCheckpoint(eager=True)
        stats = {
            "rows_replaced": 0,
            "rows_inserted": 0,
            "files_rewritten": 0,
            "removed_files": [],
            "added_files": [],
        }
        bootstrapped = False
        if op_col is not None:
            dels = gated.filter(F.col(tb)["z"] == 1).select(
                id_col, seq_col
            )
            ups = gated.filter(F.col(tb)["z"] == 0).drop(tb, op_col)
            n_del = dels.count()
            stats["rows_deleted"] = 0
            stats["tombstones_appended"] = 0
            if n_del:
                if table_exists:
                    pstats = purge_rows(
                        spark, table_path, dels.select(id_col), id_col
                    )
                    stats["rows_deleted"] = pstats["rows_purged"]
                    stats["files_rewritten"] += pstats["files_rewritten"]
                    stats["removed_files"] += pstats["removed_files"]
                    stats["added_files"] += pstats["added_files"]
                # record AFTER the physical purge: a crash in between
                # leaves purged rows with no tombstone — the replay
                # re-applies the delete (purge no-op) and records it;
                # the reverse order could leave a tombstone gating out
                # a purge that never happened only if purges could
                # fail silently, which they cannot (they raise)
                dels.write.mode("append").parquet(tomb)
                stats["tombstones_appended"] = n_del
        else:
            ups = gated.drop(tb)
        if op_col is not None and not table_exists:
            n_ups = ups.count()
            if n_ups:
                stats["added_files"] += land_bootstrap(ups, table_path)
                stats["rows_inserted"] = n_ups
                bootstrapped = True
        else:
            ustats = upsert_rows(spark, table_path, ups, id_col)
            for k in ("rows_replaced", "rows_inserted"):
                stats[k] = ustats[k]
            stats["files_rewritten"] += ustats["files_rewritten"]
            stats["removed_files"] += ustats["removed_files"]
            stats["added_files"] += ustats["added_files"]
        stats["n_change_rows"] = n_batch
        stats["bootstrapped"] = bootstrapped
        return stats
    finally:
        if gated is not None and gated is not folded:
            release_frame(gated)
        folded.unpersist()


def table_maintain_run(
    spark: SparkSession,
    source_dir: str,
    table_path: str,
    checkpoint_dir: str,
    schema,
    id_col: str,
    seq_col: str,
    op_col: str | None = None,
    delete_value: str = "D",
) -> None:
    """Drain the change-file stream at ``source_dir`` (AvailableNow),
    applying each micro-batch to the table via :func:`apply_changes`
    (``op_col`` routes tombstone rows through the in-batch delete
    path). Call repeatedly as new change files land — each run is one
    deterministic batch; the checkpoint remembers which files were
    consumed. Replayed batches are value-level fixed points (see the
    module docstring), so a checkpoint reset re-applies history
    harmlessly — the END STATE is a pure function of the change log's
    per-id (seq, is_delete, digest) maxima."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        apply_changes(
            spark, table_path, batch_df, id_col, seq_col,
            op_col=op_col, delete_value=delete_value,
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
