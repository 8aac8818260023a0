"""What the streaming partial-state stores share: the checkpoint-scoped
partition tag and the spec sidecar guard — one definition of each.

The streaming stores (agg_stream, sketch_stream, curation_stream)
write each micro-batch to its own partition keyed
``{ckpt_tag(checkpoint_dir)}-{batch_id}`` with dynamic partition
overwrite, which makes a replayed batch overwrite itself (idempotent
at-least-once). Three hand-maintained copies of the tag recipe is how
round 7's bug happened — sketch_stream normalized the path before
hashing, the other two did not, so ``'/x'`` vs ``'/x/'`` gave a
replayed batch a DIFFERENT tag and the merged store double-counted.

MIGRATION NOTE (round 8): the tag now hashes the rstrip('/')-
normalized path everywhere. A store whose writer passed a
trailing-slash checkpoint spelling BEFORE this change carries
partitions under the old un-normalized tag; resuming the same
checkpoint after upgrading re-tags future (and replayed) batches under
the normalized tag, so a batch replayed across the upgrade boundary
would duplicate instead of overwrite. Fold such stores once
(``compact_agg_state`` / the family's compaction) or start a fresh
checkpoint before resuming.

The tag is checkpoint-PATH-scoped: resetting to a NEW checkpoint path
duplicates contributions visibly (a compaction's job to fold), but
deleting and reusing the SAME path restarts batch_id at 0 under the
same tag — the replayed first batch overwrites {tag}-0 while stale
{tag}-1..n remain and the merged state silently over-counts. Pair any
checkpoint reset with a fresh checkpoint dir.

The partial-state stores (agg_stream, quantile_stream, sketch_stream)
pin the spec their partitions were built with in a ``<state>_meta``
sidecar (``check_or_write_sidecar``): partitions built under another
spec would silently mis-merge on read. Whether a sidecar or a store is
there yet is decided by ``plans.fs`` (its data-file and missing-table
rules), as for every other table.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import SparkSession

from ..plans.fs import has_data_files, read_if_present


def ckpt_tag(checkpoint_dir: str) -> str:
    """8-hex-char tag for a checkpoint path; normalized so every
    spelling of one path maps to ONE tag."""
    return hashlib.md5(checkpoint_dir.rstrip("/").encode()).hexdigest()[:8]


def check_or_write_sidecar(
    spark: SparkSession, state_dir: str, schema: str, row: tuple, store: str
) -> None:
    """Pin ``row`` (the store's spec, in ``schema``) in the sidecar
    ``state_dir + "_meta"``, or check it against the pinned one. The
    FIRST writer records the spec and every later writer must match it
    exactly. A missing sidecar over EXISTING partitions refuses to
    adopt whatever spec the next writer brings: partials built under
    another spec would silently mis-merge with the new ones. A sidecar
    written before a spec field existed reads with that field's empty
    default, so widening a spec never bricks a store. ``store`` names
    the store in errors."""
    meta_path = state_dir + "_meta"
    meta = read_if_present(spark, meta_path)
    if meta is None:
        if has_data_files(spark, state_dir):
            raise ValueError(
                f"{store} state at {state_dir} has partitions but no "
                "readable spec sidecar — refusing to adopt a spec over "
                "existing partitions (rewrite the _meta sidecar with the "
                "spec they were built with)"
            )
        spark.createDataFrame([row], schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(meta_path)
        return
    rows = meta.collect()
    if len(rows) != 1:
        raise ValueError(
            f"{store} state at {state_dir}: expected exactly 1 _meta row, "
            f"found {len(rows)}"
        )
    stored = tuple(rows[0])
    stored += ("",) * (len(row) - len(stored))
    if stored != row:
        raise ValueError(
            f"{store} state at {state_dir} was built with spec {stored}; "
            f"refusing to write partitions with mismatched spec {row} — "
            "partitions of another spec family would silently mis-merge "
            "on read"
        )
