"""Slowly-changing-dimension history (SCD Type 2): change-log →
validity-interval dimension table, point-in-time snapshots, and
incremental merge.

The reference keeps only the LATEST state per key: its incremental
loader tracks max ``meta.version`` per table and last-wins-compacts new
rows over old (mabna_tables_update.py:68-98, 271-280 — the O2 operator,
``dedup.dedup_last_wins``). SCD2 is the other half of that warehouse
story: keep EVERY state a key passed through, each with a
``[valid_from, valid_to)`` interval, so any historical point in time
can be queried. This is the standard Kimball Type-2 dimension build,
expressed as two window passes.

Semantics (``scd2_history``):

- input = a change log: each row is an OBSERVATION "key had these
  attribute values at ``ts``" (CDC extracts re-emit unchanged rows; a
  state that did not change is NOT a new version);
- consecutive identical states per key collapse — a row survives iff
  its attribute struct IS DISTINCT FROM the previous observation's
  (null-safe, so NULL attribute values compare equal to NULL);
- ``valid_from`` = the observation's ``ts``; ``valid_to`` = the NEXT
  surviving observation's ts (half-open interval, so snapshots at a
  boundary see the newer state); the last state per key has
  ``valid_to`` NULL and ``is_current`` TRUE.

Scale shape: ONE shuffle on the key columns; both window passes (the
collapse lag and the interval lead) share the same partitioning and
ordering, and the intermediate filter preserves distribution + sort, so
Catalyst plans a single exchange + a single sort. No driver-side state,
no collects. At 100 TB the change log arrives partitioned by ingest
date; the build shuffles each key's (small) observation list once —
same discipline as ``dedup_last_wins``, which this generalizes (keep
ALL versions with intervals instead of version 1 of the window).

Totality: a NULL ``ts`` cannot anchor an interval; rather than silently
dropping or misordering such rows, the build raises at runtime
(lazy ``raise_error`` — no extra validation scan).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .project import qcol

_OUT_COLS = ("valid_from", "valid_to", "is_current")


def _checked_ts(ts_col: str) -> Column:
    """ts, raising loudly on NULL (an interval cannot start nowhere).

    ``raise_error`` only fires if a NULL actually flows through — the
    check rides the existing scan instead of adding a validation pass.
    """
    c = qcol(ts_col)
    return F.when(
        c.isNull(),
        F.raise_error(
            F.lit(f"scd2: NULL {ts_col} cannot anchor a validity interval")
        ).cast("timestamp"),
    ).otherwise(c)


def _validate(keys: Sequence[str], attr_cols: Sequence[str]) -> None:
    if not keys:
        raise ValueError("scd2: at least one key column is required")
    if not attr_cols:
        raise ValueError("scd2: at least one attribute column is required")
    clash = set(_OUT_COLS) & ({k.split(".")[-1] for k in keys} | set(attr_cols))
    if clash:
        raise ValueError(
            f"scd2: key/attribute columns collide with output columns {sorted(clash)}"
        )


def scd2_history(
    changes: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    attr_cols: Sequence[str],
    seq_col: str | None = None,
) -> DataFrame:
    """Build a Type-2 dimension history from a change log.

    Returns one row per (key, state) with columns
    ``keys + attr_cols + (valid_from, valid_to, is_current)``; see the
    module docstring for interval semantics. ``seq_col`` breaks ties
    between same-``ts`` observations of one key (e.g. a CDC sequence
    number): the seq-last state is the one that holds from that
    instant, and earlier same-instant states are dropped (zero-width
    intervals — they never held). Without ``seq_col``, same-ts
    duplicates have no defined order and the caller should
    de-duplicate first (``dedup_last_wins``).
    """
    _validate(keys, attr_cols)
    key_out = [k.split(".")[-1] for k in keys]
    order = [F.col("__ts").asc()]
    if seq_col is not None:
        order.append(qcol(seq_col).asc())

    projected = changes.select(
        *[qcol(k).alias(o) for k, o in zip(keys, key_out)],
        _checked_ts(ts_col).alias("__ts"),
        *([qcol(seq_col).alias(seq_col.split(".")[-1])] if seq_col else []),
        *[qcol(a).alias(a) for a in attr_cols],
    )
    state = F.struct(*[F.col(a) for a in attr_cols])
    w = Window.partitionBy(*key_out).orderBy(*order)
    # collapse: survive iff the state IS DISTINCT FROM the previous
    # observation's (lag yields NULL for the first row, and a struct of
    # NULL fields is itself non-NULL, so first rows always survive)
    collapsed = (
        projected.withColumn("__prev", F.lag(state).over(w))
        .filter(~state.eqNullSafe(F.col("__prev")))
        .drop("__prev")
    )
    # interval pass: same partitioning AND sort as the collapse window
    # (the filter preserves both), so no second exchange is planned
    valid_to = F.lead("__ts").over(w)
    out = collapsed.select(
        *key_out,
        *attr_cols,
        F.col("__ts").alias("valid_from"),
        valid_to.alias("valid_to"),
        valid_to.isNull().alias("is_current"),
    )
    # zero-width intervals (a same-ts successor exists — possible only
    # under seq_col ties) never held at any instant: drop them, so a
    # stored history has at most ONE row per (key, valid_from) and
    # scd2_merge's replay stays deterministic. The chain stays
    # contiguous (the predecessor's valid_to and the successor's
    # valid_from are the same instant).
    return out.filter(
        F.col("valid_to").isNull() | (F.col("valid_to") != F.col("valid_from"))
    )


def scd2_snapshot(history: DataFrame, at) -> DataFrame:
    """Point-in-time view: the state of every key at instant ``at``
    (a timestamp literal or Column). Half-open intervals:
    ``valid_from <= at < valid_to``; keys whose first state begins
    after ``at`` are absent. Returns the dimension rows minus the
    interval bookkeeping columns.

    Scale: a pure filter — rides partition/zone pruning when the
    history is stored partitioned or z-ordered on ``valid_from``
    (operators/layout.py); no shuffle.
    """
    at_c = at if isinstance(at, Column) else F.lit(at).cast("timestamp")
    keep = (F.col("valid_from") <= at_c) & (
        F.col("valid_to").isNull() | (F.col("valid_to") > at_c)
    )
    return history.filter(keep).drop("valid_to", "is_current").withColumnRenamed(
        "valid_from", "state_since"
    )


def scd2_merge(
    history: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    attr_cols: Sequence[str],
    seq_col: str | None = None,
) -> DataFrame:
    """Incrementally fold a new change batch into an existing SCD2
    history: rebuild ONLY the keys present in ``changes``, pass
    untouched keys through by reference.

    Each stored history row is itself a change event ("key entered
    state S at valid_from"), so the affected keys' rows union the new
    observations and re-run the two-pass build — which closes current
    rows that a newer state supersedes, collapses no-op re-emits, and
    handles late (out-of-order) observations by re-deriving the key's
    whole interval chain. Ties between a stored state and a new
    observation at the same ts resolve to the NEW observation
    (last-wins, matching the reference's upsert semantics).

    Exactness caveat (inherent to Type-2 storage, documented not
    hidden): the stored history is the COLLAPSED log. A late event
    that lands between two formerly-identical observations cannot
    resurrect the collapsed duplicate — merge is exact w.r.t. the
    stored history, and identical to a full-log rebuild whenever each
    key's observations arrive in ts order.

    Scale: ``changes`` is a batch (bounded); the semi/anti splits on
    the key shuffle history key-hashed — at 100 TB, store the history
    bucketed on the key columns and the splits co-locate shuffle-free.
    The rebuild itself touches only affected keys' rows.
    """
    _validate(keys, attr_cols)
    key_out = [k.split(".")[-1] for k in keys]
    for frame, side in ((history, "history"), (changes, "changes")):
        missing = set(key_out) - set(frame.columns)
        if missing:
            raise ValueError(f"scd2_merge: {side} lacks key columns {sorted(missing)}")

    affected = changes.select(*[qcol(k).alias(o) for k, o in zip(keys, key_out)]).distinct()
    untouched = history.join(affected, on=key_out, how="left_anti")
    replayed = (
        history.join(affected, on=key_out, how="left_semi")
        .select(
            *key_out,
            F.col("valid_from").alias("__ts"),
            F.lit(0).alias("__src"),
            *attr_cols,
        )
    )
    # within-batch order folds into __src so one tiebreaker column
    # serves both "change beats stored state" (stored rows carry 0)
    # and the CDC sequence; computed BEFORE the projection narrows the
    # batch columns, since seq_col need not be an attribute
    src = (
        F.lit(1)
        if seq_col is None
        else F.lit(1) + F.coalesce(qcol(seq_col).cast("long"), F.lit(0))
    )
    incoming = changes.select(
        *[qcol(k).alias(o) for k, o in zip(keys, key_out)],
        _checked_ts(ts_col).alias("__ts"),
        src.alias("__src"),
        *[qcol(a).alias(a) for a in attr_cols],
    )
    # only one state can hold at a given instant: collapse same-(key, ts)
    # rows to the winning observation BEFORE the rebuild (otherwise the
    # superseded state would survive as a degenerate zero-width interval)
    w_tie = Window.partitionBy(*key_out, "__ts").orderBy(F.col("__src").desc())
    log = (
        replayed.unionByName(incoming)
        .withColumn("__rn", F.row_number().over(w_tie))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )
    rebuilt = scd2_history(
        log, keys=key_out, ts_col="__ts", attr_cols=list(attr_cols)
    )
    return untouched.select(rebuilt.columns).unionByName(rebuilt)


def maintain_history(
    spark,
    changes: DataFrame,
    history_path: str,
    keys: Sequence[str],
    ts_col: str,
    attr_cols: Sequence[str],
    seq_col: str | None = None,
) -> int:
    """Maintained-artifact face of SCD2: fold a change batch into the
    parquet history at ``history_path`` (bootstrap: an absent path
    builds the initial history from the batch alone). Returns the row
    count of the updated history.

    Write discipline is the pipeline compactor's
    (plans/pipeline.py::compact_partitioned): the merge reads the table
    it will replace, so it is written beside it and swapped in with two
    instant renames (sources/writers.py::replace_table) — never an
    in-place overwrite of a frame's own source. At 100 TB keep the
    history partitioned or bucketed on the keys; ``scd2_merge``
    rewrites only the keys the batch touches, and untouched keys stream
    through the anti-join side unchanged.
    """
    from ..plans.fs import read_if_present
    from ..sources.writers import recover_swap, replace_table, write_overwrite

    # repair a crashed prior swap FIRST: in its crash window the live
    # history sits in .old and the path is gone — reading before
    # recovery would misread that state as the bootstrap case and
    # rebuild from the new batch alone, silently dropping all history
    recover_swap(history_path)
    # bootstrap only where no history is there yet (plans.fs rule 2);
    # an unreadable one raises rather than being rebuilt from the batch
    existing = read_if_present(spark, history_path)
    if existing is None:
        hist = scd2_history(changes, keys, ts_col, attr_cols, seq_col=seq_col)
        write_overwrite(hist, history_path)
    else:
        merged = scd2_merge(existing, changes, keys, ts_col, attr_cols, seq_col=seq_col)
        replace_table(merged, history_path)
    return spark.read.parquet(history_path).count()
