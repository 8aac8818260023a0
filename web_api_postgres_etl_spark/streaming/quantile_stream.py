"""Streaming quantile-state maintenance: keep per-key percentiles
continuously up to date over a file stream without rescanning history
— the third member of the partial-state store family (``agg_stream``
for algebraic aggregates, ``sketch_stream`` for open-domain frequency,
this for quantiles).

Same layering as its siblings: each micro-batch reduces to its own
bottom-k sample partition (``operators.aggregates.
quantile_sample_state`` — k structs per key per batch, never rows);
partitions are keyed ``{ckpt_tag}-{batch_id}`` with dynamic partition
overwrite, so at-least-once replays REPLACE their own partition; the
read face folds all partitions with ``merge_quantile_states`` (the
bottom-k closure — merged state ≡ the one-shot state of all input,
bit-for-bit) and finalizes percentiles as a projection.

A family sidecar records (keys, value, id, k): samples built with a
different k must not merge (a larger k cannot be conjured from
partials that already discarded rows, and a smaller one would
silently change every estimate's error bar), and mismatched key/value
columns would mis-merge the way the agg store documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.aggregates import (
    finalize_quantiles,
    merge_quantile_states,
    quantile_sample_state,
)
from ..plans.fs import read_if_present
from .ckpt import check_or_write_sidecar
from .ckpt import ckpt_tag as _ckpt_tag

_PART_COL = "qstate_batch_id"


def _spec_row(keys, value_col, id_col, k) -> tuple:
    return (
        ",".join(kk.split(".")[-1] for kk in keys),
        value_col,
        id_col,
        int(k),
    )


# a k-mismatched merge of partials silently biases every quantile
# (partials built with a different k already discarded rows)
_SPEC_SCHEMA = "keys string, value_col string, id_col string, k int"


def quantile_maintain_run(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    schema,
    keys: list[str],
    value_col: str,
    id_col: str,
    k: int = 1024,
) -> None:
    """Drain the file stream at ``source_dir`` (AvailableNow), writing
    each micro-batch's bottom-k quantile sample to its own partition
    of ``state_dir``. Safe to call repeatedly; a replayed batch
    overwrites its own partition (idempotent). Checkpoint-tag
    semantics — including the same-path-reset over-count hazard — are
    the shared contract documented in ``streaming/ckpt.py``."""
    if _PART_COL in {kk.split(".")[-1] for kk in keys}:
        raise ValueError(f"quantile_maintain_run: {_PART_COL!r} is reserved")
    bad_keys = [kk for kk in keys if "," in kk.split(".")[-1]]
    if bad_keys:
        # the sidecar serializes key names comma-joined and the reader
        # splits on ',' — a comma INSIDE a name would round-trip into
        # wrong key names and a silent mis-merge
        raise ValueError(
            f"quantile_maintain_run: key names {bad_keys} contain ',' — "
            "the spec sidecar stores keys comma-joined; rename them first"
        )
    if k < 1:
        # validate BEFORE the sidecar write: pinning an invalid spec
        # would brick the store (every corrected retry then refuses as
        # a spec mismatch) without a single partition ever landing
        raise ValueError(f"quantile_maintain_run: k must be >= 1, got {k}")
    tag = _ckpt_tag(checkpoint_dir)
    check_or_write_sidecar(
        spark, state_dir, _SPEC_SCHEMA, _spec_row(keys, value_col, id_col, k),
        "quantile",
    )

    def _process(batch_df, batch_id: int) -> None:
        state = quantile_sample_state(batch_df, keys, value_col, id_col, k=k)
        (
            state.withColumn(_PART_COL, F.lit(f"{tag}-{int(batch_id)}"))
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


def read_quantile_state(
    spark: SparkSession,
    state_dir: str,
    probs: list[float],
    prefix: str = "q_",
) -> DataFrame:
    """Current per-key quantiles over the partial store: one keyed fold
    (bottom-k closure — order-free, ≡ one-shot) + the pinned
    PERCENTILE_CONT finalization. Keys and k come from the family
    sidecar, so a reader cannot mis-merge by passing different
    parameters than the writers used."""
    rows = spark.read.parquet(state_dir + "_meta").collect()
    if len(rows) != 1:
        raise ValueError(
            f"quantile state at {state_dir}: expected exactly 1 _meta row, "
            f"found {len(rows)}"
        )
    keys = [c for c in rows[0]["keys"].split(",") if c]
    k = int(rows[0]["k"])
    states = read_if_present(spark, state_dir)
    if states is None:
        # sidecar exists but no sample partition ever landed (every
        # drained batch was empty/all-NULL — a zero-row dynamic
        # overwrite touches no partitions): the store is legitimately
        # empty, but its KEY TYPES are unknowable without data, so an
        # empty frame cannot be fabricated — raise the actionable form
        raise ValueError(
            f"quantile state at {state_dir} has a spec sidecar but no "
            "sample partitions yet — drain a batch with non-NULL "
            f"values in {rows[0]['value_col']!r} before reading"
        )
    return finalize_quantiles(
        merge_quantile_states(states.drop(_PART_COL), keys, k=k),
        probs,
        prefix=prefix,
    )
