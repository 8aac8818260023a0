"""T2 — high-watermark manager.

The reference re-derives watermarks from the sink itself each run:
``SELECT MAX("meta.version")`` per production table
(mabna_tables_update.py:69-98), passed between tasks as a dict (XCom).
Self-describing state — no separate store to drift out of sync; we keep
that design and return a plain dict.

The max is answered from the sink's parquet footers: each data file's
row-group min/max statistics of the version column (Dremel-style
columnar metadata), read with pyarrow on the driver — O(files), no
Spark job. A Spark scan (``spark.read.parquet`` + ``max_watermark``)
answers only what footers cannot: a sink on a non-local filesystem, a
version column that is not a plain signed integer, a row group without
statistics, a column whose name matches only in another letter case, or
a sink partitioned by the version column.
"""

from __future__ import annotations

import json
import os
from urllib.parse import unquote

from pyspark.sql import SparkSession

from ..operators.aggregates import max_watermark
from .fs import (
    error_condition,
    file_local,
    is_local,
    local_data_files,
    read_if_present,
)


class _NeedsScan(Exception):
    """The footers cannot answer this probe; the Spark scan must."""


def _data_files(root: str, column: str) -> list[str]:
    """The parquet data files a Spark read of ``root`` would scan. A
    partition directory keyed by ``column`` means the value lives in
    directory names, not footers."""
    files = list(local_data_files(root))
    keys = {
        unquote(seg.split("=", 1)[0]).lower()
        for d in {os.path.dirname(f) for f in files}
        for seg in os.path.relpath(d, root).split(os.sep)
        if "=" in seg
    }
    if column.lower() in keys:
        raise _NeedsScan
    return files


def _signed_int(col) -> bool:
    """INT32/INT64 holding plain signed integers (no annotation, or a
    signed INT one) — the types whose footer max is the column's max."""
    if col.physical_type not in ("INT32", "INT64") or col.max_repetition_level:
        return False
    logical = col.logical_type.type
    return logical == "NONE" or (
        logical == "INT" and json.loads(col.logical_type.to_json())["isSigned"]
    )


def _file_footer_max(file: str, column: str) -> int | None:
    """max(``column``) of one parquet file from its footer; None when
    the file lacks the column or holds only nulls there. Only the
    top-level flat column named exactly ``column`` counts (a nested
    ``meta{version}`` leaf does not: ``qcol`` reads the dotted name as
    one flat column)."""
    import pyarrow.parquet as pq

    try:
        meta = pq.read_metadata(file)
    except Exception as exc:
        exc.add_note(f"reading the parquet footer of {file}")
        raise
    schema = meta.schema
    idx = None
    for i in range(len(schema)):
        col = schema.column(i)
        if col.path == col.name == column:
            idx = i
        elif col.path == col.name and col.path.lower() == column.lower():
            raise _NeedsScan  # a case-insensitive match, which Spark may resolve
    if idx is None:
        return None
    if not _signed_int(schema.column(idx)):
        raise _NeedsScan
    best = None
    for r in range(meta.num_row_groups):
        rg = meta.row_group(r)
        stats = rg.column(idx).statistics
        if stats is not None and stats.has_min_max:
            best = stats.max if best is None else max(best, stats.max)
        elif rg.num_rows and not (
            stats is not None and stats.has_null_count and stats.null_count == rg.num_rows
        ):
            raise _NeedsScan  # non-null values without min/max statistics
    return best


class WatermarkManager:
    """Probe-and-carry watermark state for one warehouse directory."""

    def __init__(self, spark: SparkSession, warehouse: str, version_col: str = "meta.version"):
        self.spark = spark
        self.warehouse = warehouse
        self.version_col = version_col

    def probe(self, table_paths: dict[str, str]) -> dict[str, int | None]:
        """{table → max(version) | None-if-missing/empty} — the XCom
        dict. Only a table that does not exist YET downgrades to None —
        missing path, a dir holding no data files (a zero-row
        partitioned write leaves just _SUCCESS), or one without the
        version column (pre-versioned bootstrap). Any other probe
        failure propagates (r13, the _read_index_meta rule): a corrupt
        sink silently probing None would re-ingest the entire source —
        correct by last-wins idempotence, but a full-corpus rescan at
        100 TB must be a DECISION, not a swallowed error.

        A local sink is answered from its data files' parquet footers
        without a Spark job: the max over the row-group statistics of
        every file that carries the column (a data file that is not
        parquet raises). The Spark scan runs only for a remote sink or
        when the footers cannot answer (see the module docstring)."""
        out: dict[str, int | None] = {}
        for name, path in table_paths.items():
            try:
                out[name] = self._footer_max(path)
            except _NeedsScan:
                out[name] = self._scan_max(path)
        return out

    def _footer_max(self, path: str) -> int | None:
        """max(version) of a local sink from its data files' footers;
        raises ``_NeedsScan`` where they cannot answer."""
        if not is_local(self.spark, path):
            raise _NeedsScan
        maxes = [
            v for f in _data_files(file_local(path), self.version_col)
            if (v := _file_footer_max(f, self.version_col)) is not None
        ]
        return max(maxes, default=None)

    def _scan_max(self, path: str) -> int | None:
        """max(version) by a Spark scan of ``path``, with the same
        None-versus-raise rules as ``probe``."""
        from pyspark.errors import AnalysisException

        # a sink with no table yet (plans.fs rule 2: no path, or no
        # data files) probes None; one whose data files cannot be read
        # raises — a corrupt sink must be a decision, not a swallowed
        # full re-ingest
        sink = read_if_present(self.spark, path)
        if sink is None:
            return None
        try:
            return max_watermark(sink, self.version_col)
        except AnalysisException as exc:
            if error_condition(exc) in ("UNRESOLVED_COLUMN", "FIELD_NOT_FOUND"):
                return None  # pre-versioned bootstrap: no version column yet
            raise
