"""Data-layout operators: multi-dimensional Z-order clustering and
small-file compaction — the table-maintenance half of running a
100 TB corpus, where SCAN cost is decided by how bytes sit on disk
long before Catalyst sees a plan.

The reference (a pandas/Airflow ETL, mabna_tables_etl.py) rewrites
whole tables per run and never manages layout; at Spark scale layout
IS the optimization:

- Parquet keeps per-file (and per-row-group) min/max statistics for
  every column. A reader prunes a file when the predicate cannot
  intersect its [min, max] — but linear sorting concentrates only ONE
  column; a filter on any other column intersects nearly every file.
- Z-ordering interleaves the bits of several columns into one key and
  sorts by it, so files become axis-aligned boxes in k-dimensional
  space: a conjunctive range/point predicate on ANY prefix-free
  subset of the z-columns intersects O(n^(1-1/k))-ish of the files
  instead of all of them (the Delta Lake / Databricks OPTIMIZE
  ZORDER move; vanilla Spark has no native operator for it).

Engine-exactness: normalization uses ONLY integer arithmetic —
``(v - vmin) * (2^bits - 1) DIV max(vmax - vmin, 1)`` on BIGINT, then
a STATIC bit-interleave expression (a Python loop emits ~bits×k
OR/shift terms — whole-stage codegen folds them; never a HOF lambda,
whose interpreted body would run per row per bit). The identical
arithmetic is expressible in any SQL engine, so the key itself is
oracle-checkable bit for bit.
"""

from __future__ import annotations

import os
from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.fs import file_local, local_data_files, unescape_path_name
from .project import qcol


def zorder_key(
    scaled_cols: Sequence[Column],
    bits: int,
) -> Column:
    """Interleave ``bits`` low bits of each already-scaled column into
    one BIGINT Morton key: output bit (i*k + j) = bit i of column j.
    Static expression — k×bits OR/shift terms, fully codegen'd."""
    k = len(scaled_cols)
    if k * bits > 62:
        raise ValueError(
            f"{k} columns x {bits} bits = {k * bits} key bits > 62 — "
            "lower bits (locality needs only the high bits anyway)"
        )
    out: Column = F.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(scaled_cols):
            bit = F.shiftright(c, i).bitwiseAND(F.lit(1))
            out = out.bitwiseOR(F.shiftleft(bit, i * k + j))
    return out


def add_zorder_key(
    df: DataFrame,
    cols: Sequence[str],
    bits: int = 16,
    key_col: str = "z_key",
    bounds: dict[str, tuple[int, int]] | None = None,
) -> DataFrame:
    """Append the Morton key over integral ``cols``.

    ``bounds`` maps column → (min, max); omitted bounds are computed
    in ONE aggregate (2k scalars collected — bounded metadata, the
    same driver-collect budget as watermark probes). Pass explicit
    bounds on incremental/streaming writes so new batches land in the
    SAME key space as old files (recomputed bounds would shift every
    key and silently destroy cross-file locality).

    NULLs clamp to vmin (sort first, prune like the minimum); cast
    non-long integrals freely — dates should be keyed via
    ``datediff`` days by the caller."""
    if not cols:
        raise ValueError("zorder needs at least one column")
    if key_col in df.columns:
        raise ValueError(f"column {key_col!r} already exists on the input")
    need = [c for c in cols if bounds is None or c not in bounds]
    got: dict[str, tuple[int, int]] = dict(bounds or {})
    if need:
        aggs = []
        for c in need:
            aggs.append(F.min(qcol(c).cast("long")).alias(f"__mn_{c}"))
            aggs.append(F.max(qcol(c).cast("long")).alias(f"__mx_{c}"))
        row = df.agg(*aggs).first()
        for c in need:
            mn, mx = row[f"__mn_{c}"], row[f"__mx_{c}"]
            if mn is None:  # all-NULL column: degenerate, key on 0
                mn, mx = 0, 0
            got[c] = (int(mn), int(mx))
    scaled = []
    for c in cols:
        vmin, vmax = got[c]
        levels = (1 << bits) - 1
        span = max(vmax - vmin, 1)
        if span * levels >= (1 << 53):
            raise ValueError(
                f"column {c!r} spans {span} values x {levels} levels — "
                "the scaling product leaves the double-exact integer "
                "range (2^53), so bucket boundaries would drift "
                "between engines; pre-bucket the column (e.g. DIV a "
                "coarser unit) before z-ordering"
            )
        clamped = F.greatest(
            F.lit(vmin).cast("long"),
            F.least(
                F.lit(vmax).cast("long"),
                F.coalesce(qcol(c).cast("long"), F.lit(vmin)),
            ),
        )
        # long multiply (exact) then IEEE double divide + floor: both
        # guarded < 2^53, so the quotient — and therefore the bucket —
        # is bit-identical in any IEEE-754 engine
        scaled.append(
            F.floor(((clamped - F.lit(vmin)) * F.lit(levels)) / F.lit(span))
            .cast("long")
        )
    return df.withColumn(key_col, zorder_key(scaled, bits))


def cluster_by_zorder(
    df: DataFrame,
    cols: Sequence[str],
    num_partitions: int,
    bits: int = 16,
    bounds: dict[str, tuple[int, int]] | None = None,
    keep_key: bool = False,
) -> DataFrame:
    """Range-partition + sort the frame by its Morton key so a
    subsequent ``.write.parquet`` emits files that are tight
    k-dimensional boxes (each file's per-column min/max stats become
    selective for predicates on ANY of ``cols``).

    ``repartitionByRange`` samples key quantiles — one extra pass over
    the keys, balanced output sizes even under key skew; the
    within-partition sort is the only other cost. No join, no
    wide-row shuffle beyond the single clustering exchange."""
    keyed = add_zorder_key(df, cols, bits=bits, bounds=bounds)
    out = keyed.repartitionByRange(num_partitions, F.col("z_key")).sortWithinPartitions(
        "z_key"
    )
    return out if keep_key else out.drop("z_key")


def zone_map(
    spark: SparkSession,
    path: str,
    cols: Sequence[str],
) -> DataFrame:
    """Per-file zone map — (file, n_rows, <c>_min, <c>_max, <c>_nulls
    for every requested column) — built with ONE distributed scan
    grouped on ``input_file_name()``. This is the data-skipping index
    Delta/Iceberg keep in their transaction log, materialized
    explicitly for a plain parquet directory: persist it next to the
    table and planners can select files without touching data.

    Scale shape: the scan reads only ``cols`` (column pruning reaches
    the parquet reader); the shuffle carries one row per FILE, so the
    zone map for a 100 TB / 100k-file table is ~100k tiny rows —
    metadata, not data. Rebuild cost is one column-pruned pass;
    incremental maintenance is appending rows for new files only
    (filter the listing against the existing map).

    Min/max over an all-NULL file are NULL — ``prune_files`` treats
    those as unmatchable for range predicates (SQL comparison
    semantics), which is exactly what parquet row-group stats do."""
    df = spark.read.parquet(path)
    return df.groupBy(F.input_file_name().alias("file")).agg(*_zone_aggs(cols))


def _zone_aggs(cols: Sequence[str]) -> list[Column]:
    aggs: list[Column] = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [
            F.min(qcol(c)).alias(f"{c}_min"),
            F.max(qcol(c)).alias(f"{c}_max"),
            F.sum(qcol(c).isNull().cast("long")).alias(f"{c}_nulls"),
        ]
    return aggs


def _rel_id(uri_or_path: str, base_local: str) -> str:
    """File identity for zone-map maintenance: the path RELATIVE to
    the table root. Not the basename — one partitioned write job gives
    files in different ``col=val/`` dirs the SAME basename (same task
    number + job uuid), so basenames collide across partitions. Not
    the full URI either — ``file:///`` vs ``hdfs://`` prefixes across
    environments is how manifests go stale."""
    return os.path.relpath(file_local(uri_or_path), base_local)


def zone_map_update(
    spark: SparkSession,
    path: str,
    existing: DataFrame,
    cols: Sequence[str],
) -> DataFrame:
    """Incrementally maintain a zone map: scan ONLY files not yet in
    ``existing`` (matched on the table-relative path — see
    :func:`_rel_id`) and union their stats in — the append-mostly
    maintenance path, so a streaming ingest's new files cost one small
    scan instead of a full-table rebuild. Rewritten-in-place files
    (same name, new content) violate parquet immutability and don't
    occur under Spark's writers. Listing is driver-side filesystem
    metadata — the same seam ``compact_small_files`` uses."""
    base = file_local(path)
    known = {
        _rel_id(r["file"], base) for r in existing.select("file").collect()
    }
    files = list(local_data_files(base))
    new_files = [f for f in files if _rel_id(f, base) not in known]
    if not files and known:
        # a local-listing miss (remote URI, moved table) must fail
        # LOUDLY: silently returning the stale map would make pruned
        # reads drop every file the map has never heard of
        raise ValueError(
            f"listing {path!r} found no data files but the existing "
            f"zone map has {len(known)} — non-local path or moved "
            "table? (this maintenance face lists the local "
            "filesystem, the same seam as compact_small_files)"
        )
    if not new_files:
        return existing
    df = spark.read.option("basePath", path).parquet(*new_files)
    fresh = df.groupBy(F.input_file_name().alias("file")).agg(*_zone_aggs(cols))
    return existing.unionByName(fresh)


def _partition_cols(leaf: str, base_local: str) -> list[str]:
    """A data file's hive partition columns, in directory order, from
    its path relative to the table root (all files of one table share
    the layout — Spark enforces it at write time). Directory names are
    escaped by the writer, so each name is unescaped back to the
    column's own."""
    segs = os.path.relpath(leaf, base_local).split(os.sep)[:-1]
    return [unescape_path_name(s.split("=", 1)[0]) for s in segs if "=" in s]


def _read_files(spark: SparkSession, path: str, uris: list[str]) -> DataFrame:
    """The table's rows in ``uris`` (``input_file_name`` values), with
    partition columns. Those URIs percent-encode the ``%`` of escaped
    partition dirs, while a reader takes a path string literally, so
    each is read by its local path."""
    return spark.read.option("basePath", path).parquet(
        *[file_local(u) for u in uris]
    )


def _move_parquet_in(frame, tmp: str, base_local: str, pcols: list) -> list:
    """Write ``frame`` to ``tmp`` (partition-aware when ``pcols``) and
    move every part file into the table — the duplicate-on-crash
    never-lose ordering step both purge_rows and upsert_rows build on
    (new files land BEFORE any old file is removed; Spark part names
    embed a job UUID so collisions cannot occur). Returns the moved
    files as file:// URIs (the zone-map identity)."""
    import shutil
    from pathlib import Path

    writer = frame.write.mode("overwrite")
    if pcols:
        writer = writer.partitionBy(*pcols)
    writer.parquet(tmp)
    moved = []
    tmp_local = file_local(tmp)
    for src in list(local_data_files(tmp_local)):
        dst = os.path.join(base_local, os.path.relpath(src, tmp_local))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.move(src, dst)
        moved.append(Path(dst).as_uri())
    shutil.rmtree(tmp_local, ignore_errors=True)
    return moved


def row_digest(cols: Sequence[str]) -> Column:
    """Canonical whole-row digest: md5 over the SORTED column names —
    sorted so two frames whose physical column orders legitimately
    differ (a change batch vs the stored table, a rewrite vs its
    source) compute the identical digest for identical row content.
    NULLs encode explicitly: concat_ws SKIPS them, so ('a', NULL) and
    (NULL, 'a') would otherwise share a digest. Shared by the CDC
    apply gate (streaming/table_stream.py) and the content
    fingerprint (operators/quality.py::table_fingerprint)."""
    return F.md5(F.concat_ws(
        "\u0001",
        *[
            F.coalesce(F.col(f"`{c}`").cast("string"), F.lit("\u0000"))
            for c in sorted(cols)
        ],
    ))


def table_has_parquet(path: str) -> bool:
    """True iff the (local-filesystem) table directory already holds at
    least one data file (``plans.fs`` rule 1) — the maintenance faces'
    bootstrap test. A directory that exists but holds no data file (a
    crashed first write that never moved files in) correctly reads as
    'no table yet'."""
    return next(local_data_files(file_local(path)), None) is not None


def land_bootstrap(frame: DataFrame, path: str) -> list[str]:
    """Crash-safe FIRST landing of a maintained table: write ``frame``
    to a sibling tmp dir and move the part files in (the
    ``_move_parquet_in`` never-lose ordering). A crash mid-write
    leaves only the tmp dir — never a readable-looking table directory
    with no parquet files that would wedge every replay onto the
    conditional path. Shared by the CDC and cluster maintenance
    streaming faces. Returns the moved files as ``file://`` URIs."""
    local = file_local(path)
    os.makedirs(local, exist_ok=True)
    return _move_parquet_in(
        frame, path.rstrip("/") + ".bootstrap_tmp", local, []
    )


def zone_map_path(path: str) -> str:
    """Sidecar location for a table's persisted zone map: a SIBLING
    directory (``<table>._zone_map``), not a child — compaction swaps
    the whole table directory through ``.tmp``/``.old`` renames
    (writers.replace_table), which would silently destroy a child
    sidecar; a sibling survives every table rewrite, and the
    underscore keeps it visibly metadata."""
    return path.rstrip("/") + "._zone_map"


def write_zone_map(zmap: DataFrame, path: str) -> None:
    """Persist a zone map as the table's sidecar (overwrite — the map
    is derived state, rebuildable from one column-pruned scan)."""
    zmap.write.mode("overwrite").parquet(zone_map_path(path))


def read_zone_map(spark: SparkSession, path: str) -> DataFrame:
    """Load the sidecar written by :func:`write_zone_map`."""
    return spark.read.parquet(zone_map_path(path))


def has_zone_map(path: str) -> bool:
    return os.path.isdir(zone_map_path(path))


def zone_map_cols(zmap: DataFrame) -> list[str]:
    """The indexed columns, recovered from the map's own schema (every
    indexed column contributes ``<c>_min``/``<c>_max``/``<c>_nulls``)
    — so maintenance never needs the column list as a side channel."""
    return [c[: -len("_min")] for c in zmap.columns if c.endswith("_min")]


def zone_map_refresh(
    spark: SparkSession,
    path: str,
    cols: Sequence[str] | None = None,
    existing: DataFrame | None = None,
    pins: list[DataFrame] | None = None,
) -> DataFrame:
    """Reconcile the persisted zone map with the table's CURRENT file
    set and write the sidecar back: entries whose file no longer
    exists are dropped (compaction/purge removed it — a stale entry
    would make ``prune_files`` return nonexistent paths), files not
    yet mapped are scanned (one column-pruned pass over ONLY those
    files). This is the maintenance call after any rewrite —
    ``compact``/``compact_partitioned``/``purge_rows`` — and is what
    the pipeline runner invokes automatically when a sidecar exists.

    ``cols`` defaults to the columns recorded in the existing map
    (:func:`zone_map_cols`); with no sidecar yet, ``cols`` is required
    and the map is built from scratch. Returns the refreshed map —
    localCheckpointed, so long-lived callers pass ``pins=[]`` and
    release via ``caching.release_frame`` after they are done with the
    returned frame (Dataset.unpersist alone does not free a
    localCheckpoint — the repo-wide pins contract).

    Scale shape: listing is filesystem metadata, the diff is
    driver-side over file NAMES (bounded by file count), and only new
    files are read. The refreshed frame is localCheckpointed before
    the sidecar overwrite — the plan would otherwise lazily read the
    very files it is replacing."""
    if existing is None and has_zone_map(path):
        existing = read_zone_map(spark, path)
    if existing is None:
        if cols is None:
            raise ValueError(
                f"zone_map_refresh: no sidecar at {zone_map_path(path)!r} "
                "and no cols given — pass cols to build the first map"
            )
        fresh = zone_map(spark, path, cols).localCheckpoint(eager=True)
        if pins is not None:
            pins.append(fresh)
        write_zone_map(fresh, path)
        return fresh
    if cols is None:
        cols = zone_map_cols(existing)
    base = file_local(path)
    # identity = table-relative path (basenames COLLIDE across
    # partition dirs of one write job — see _rel_id); the map's own
    # URIs key the removal filter so it matches exactly what
    # input_file_name recorded
    known: dict[str, str] = {}
    for r in existing.select("file").collect():
        known[_rel_id(r["file"], base)] = r["file"]
    current = {_rel_id(f, base): f for f in local_data_files(base)}
    if not current and known:
        raise ValueError(
            f"listing {path!r} found no data files but the existing "
            f"zone map has {len(known)} — non-local path or moved "
            "table? (this maintenance face lists the local filesystem)"
        )
    removed_uris = [known[rel] for rel in set(known) - set(current)]
    new_files = [p for rel, p in current.items() if rel not in known]
    refreshed = existing
    if removed_uris:
        refreshed = refreshed.filter(~F.col("file").isin(removed_uris))
    if new_files:
        df = spark.read.option("basePath", path).parquet(*new_files)
        fresh = df.groupBy(F.input_file_name().alias("file")).agg(
            *_zone_aggs(cols)
        )
        refreshed = refreshed.unionByName(fresh)
    refreshed = refreshed.localCheckpoint(eager=True)
    if pins is not None:
        pins.append(refreshed)
    write_zone_map(refreshed, path)
    return refreshed


def prune_files(
    zmap: DataFrame,
    ranges: dict[str, tuple],
) -> list[str]:
    """Files whose [min, max] envelope can intersect EVERY predicate
    in ``ranges`` (col → (lo, hi), either bound None for open). A file
    is pruned when ``c_max < lo`` or ``c_min > hi`` — or when its
    min/max are NULL (all-NULL file: no row can satisfy a range).

    The collect ships file NAMES for the surviving subset — bounded
    by file count (metadata), never by data; the classic manifest-
    pruning step every table format runs on the driver."""
    cond = F.lit(True)
    for c, (lo, hi) in ranges.items():
        if lo is None and hi is None:
            # fully open range constrains nothing — and must NOT prune
            # all-NULL files (read_pruned's residual keeps their rows)
            continue
        cmin, cmax = F.col(f"{c}_min"), F.col(f"{c}_max")
        keep = cmin.isNotNull()
        if lo is not None:
            keep = keep & (cmax >= F.lit(lo))
        if hi is not None:
            keep = keep & (cmin <= F.lit(hi))
        cond = cond & keep
    return [r["file"] for r in zmap.filter(cond).select("file").collect()]


def read_pruned(
    spark: SparkSession,
    path: str,
    zmap: DataFrame,
    ranges: dict[str, tuple],
) -> DataFrame:
    """Scan only the files ``prune_files`` keeps, then re-apply the
    predicate exactly (zone maps are a may-intersect filter, not a
    proof) — rows come back identical to the full scan, the I/O
    doesn't. On a z-ordered table (``cluster_by_zorder``) a box
    predicate on any clustered column keeps a small fraction of
    files; on a linearly-sorted table only the sort column prunes.

    Empty survivor list still returns the full schema (zero-row scan
    of the directory) so downstream plans resolve."""
    files = prune_files(zmap, ranges)
    residual = F.lit(True)
    for c, (lo, hi) in ranges.items():
        if lo is not None:
            residual = residual & (qcol(c) >= F.lit(lo))
        if hi is not None:
            residual = residual & (qcol(c) <= F.lit(hi))
    if not files:
        return spark.read.parquet(path).filter(F.lit(False))
    # basePath keeps hive-partition directory columns resolvable when
    # the survivors are leaf files under partition=value/ dirs —
    # without it the partition columns vanish from the schema
    return spark.read.option("basePath", path).parquet(*files).filter(residual)


def compact_small_files(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 1,
) -> int:
    """Rewrite a parquet directory into ~``target_file_bytes`` files —
    the maintenance pass that undoes streaming ingest's small-file
    accumulation (each micro-batch commits its own files; a thousand
    batches of 1 MB make a listing-and-open bound scan long before
    the bytes matter). Returns the file count written.

    Sizing reads ONLY filesystem metadata (os.walk over the local
    path — the sandbox face of a FileSystem.listStatus call; byte
    math is identical on any store). The rewrite is one
    ``coalesce`` — a narrow, shuffle-free merge of existing
    partitions — through ``writers.replace_table``, the rewrite every
    compactor uses, so readers never observe a missing path. Layout
    within files is preserved as-read; run ``cluster_by_zorder`` first
    when re-clustering is wanted."""
    from ..sources.writers import recover_swap, replace_table

    recover_swap(path)
    local = file_local(path)
    total = sum(os.path.getsize(f) for f in local_data_files(local))
    n = max(min_files, int(total / target_file_bytes) + (1 if total % target_file_bytes else 0))
    # coalesce cannot RAISE the partition count — when the reader
    # already packs the small files into fewer partitions than n, fewer
    # files come out, which is why the return value counts what was
    # actually written, not the target
    replace_table(spark.read.parquet(path).coalesce(n), path)
    return sum(1 for _ in local_data_files(local))


# ------------------------------------------------------ surgical delete
def purge_rows(
    spark: SparkSession,
    path: str,
    ids: DataFrame,
    id_col: str,
) -> dict:
    """Surgical delete — the right-to-be-forgotten / takedown op:
    remove every row whose ``id_col`` appears in ``ids`` by rewriting
    ONLY the parquet files that contain at least one matching row;
    untouched files are never read twice, never rewritten, and keep
    their bytes (and any zone-map entries) intact. Hive-partitioned
    layouts are handled: rewritten rows land back inside their own
    ``col=value/`` directories. This is the DELETE half of the
    plain-parquet table story this module builds (zone maps = stats,
    ``compact_small_files`` = OPTIMIZE).

    Returns ``{"rows_purged", "files_rewritten", "removed_files",
    "added_files"}``. The file lists are ``file://`` URIs in exactly
    the identity ``zone_map``'s ``file`` column uses
    (``input_file_name()``), so zone-map maintenance is a direct
    filter + re-scan: drop rows whose file is in ``removed_files``,
    union ``zone_map`` over the ``added_files`` read with
    ``basePath=path`` (``zone_map_update`` alone would only ADD,
    leaving dead entries that make ``prune_files`` return nonexistent
    paths).

    Scale shape: ONE column-pruned scan finds affected files and the
    purged-row count together (a semi-join shuffling (file, id) pairs,
    aggregated to per-file match counts — collected rows bounded by
    file count); only the affected files are then re-read once for the
    anti-join rewrite. Cost scales with data TOUCHED, not table size —
    the property that makes deletes tractable at 100 TB.

    Crash contract (plain parquet has no manifest commit — the seam a
    table format would fill): new files move in BEFORE old files are
    deleted, so a crash in between leaves DUPLICATED survivor rows,
    never lost rows; the duplicates are exactly what the engine's
    last-wins / exact-dedup compaction removes. Re-running the purge
    after a crash still removes the target ids.
    """
    import os

    base_local = file_local(path)

    full = spark.read.parquet(path)
    if id_col not in full.columns:
        raise ValueError(f"purge_rows: {id_col!r} not in table columns {full.columns}")
    checked_id = F.when(
        qcol(id_col).isNull(),
        F.raise_error(F.lit("purge_rows: NULL id in ids frame")),
    ).otherwise(qcol(id_col))
    ids_only = ids.select(checked_id.alias(id_col)).distinct()
    # one pass: affected files AND the purged-row count together
    per_file = (
        full.select(F.input_file_name().alias("file"), qcol(id_col).alias(id_col))
        .join(ids_only, id_col, "left_semi")
        .groupBy("file")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    affected = [r["file"] for r in per_file]
    rows_purged = sum(r["n"] for r in per_file)
    if not affected:
        return {
            "rows_purged": 0,
            "files_rewritten": 0,
            "removed_files": [],
            "added_files": [],
        }
    # partition-aware rewrite: moved files must land back inside their
    # own col=value/ directories (root-level leaf files silently
    # corrupt partitioned reads)
    pcols = _partition_cols(file_local(affected[0]), base_local)

    sub = _read_files(spark, path, affected)
    kept = sub.join(ids_only, id_col, "left_anti")
    added = _move_parquet_in(
        kept, path.rstrip("/") + ".purge_tmp", base_local, pcols
    )
    for uri in affected:
        os.remove(file_local(uri))
    return {
        "rows_purged": rows_purged,
        "files_rewritten": len(affected),
        "removed_files": list(affected),
        "added_files": added,
    }


def upsert_rows(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    id_col: str,
) -> dict:
    """Surgical keyed upsert — the UPDATE/INSERT half of the
    plain-parquet table story next to :func:`purge_rows` (DELETE),
    ``compact_small_files`` (OPTIMIZE) and the zone maps (stats):
    rows in ``updates`` REPLACE same-id rows in the table; new ids
    INSERT. Only the parquet files that contain a replaced id are
    rewritten — untouched files keep their bytes and zone-map entries,
    so cost scales with data TOUCHED, not table size.

    ``updates`` must carry exactly the table's columns (any order) and
    UNIQUE non-NULL ids — duplicate ids in one batch are ambiguous
    (which copy wins?) and raise; pre-fold them with last-wins
    compaction if the batch is itself a change log.

    Returns ``{"rows_replaced", "rows_inserted", "files_rewritten",
    "removed_files", "added_files"}`` — file lists in the zone-map
    identity (``file://`` URIs), ``added_files`` covering BOTH the
    appended update files and the rewrite outputs, so zone-map
    maintenance is the same filter + re-scan as after a purge.

    Crash contract (the purge_rows ordering, extended): update files
    move in FIRST, old affected files are rewritten-then-removed LAST
    — any crash leaves DUPLICATED ids (old + new version visible),
    never lost rows. Repair is the engine's last-wins compaction keyed
    on ``id_col`` (o2 semantics) or simply re-running the upsert after
    deduplicating its input; nothing needs a manifest (the documented
    seam a table format would fill).

    Scale shape: one column-pruned semi-join scan finds affected files
    and the replaced-row count (shuffles (file, id) pairs; collected
    rows bounded by file count); the update batch is written once; the
    affected files are re-read once for the anti-join rewrite."""
    import os

    base_local = file_local(path)
    full = spark.read.parquet(path)
    if id_col not in full.columns:
        raise ValueError(
            f"upsert_rows: {id_col!r} not in table columns {full.columns}"
        )
    if set(updates.columns) != set(full.columns):
        raise ValueError(
            "upsert_rows: updates columns must equal table columns — "
            f"table {sorted(full.columns)} vs updates "
            f"{sorted(updates.columns)} (a schema change is a rewrite, "
            "not an upsert)"
        )
    # TYPES too, not just names: a type-drifted batch would land
    # parquet files with a different physical type, and the next read
    # of the mixed table fails AFTER the old well-typed versions are
    # gone — exactly the corruption an upsert must refuse up front
    t_types, u_types = dict(full.dtypes), dict(updates.dtypes)
    drift = {c: (t_types[c], u_types[c]) for c in t_types
             if t_types[c] != u_types[c]}
    if drift:
        raise ValueError(
            f"upsert_rows: updates column types differ from the table's "
            f"— {drift} (cast the batch to the table schema first)"
        )
    checked_id = F.when(
        qcol(id_col).isNull(),
        F.raise_error(F.lit("upsert_rows: NULL id in updates")),
    ).otherwise(qcol(id_col))
    updates = updates.select(
        *[checked_id.alias(id_col) if c == id_col else F.col(f"`{c}`")
          for c in full.columns]
    )
    dup = (
        updates.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1).limit(1).collect()
    )
    if dup:
        raise ValueError(
            f"upsert_rows: duplicate id {dup[0][id_col]!r} in updates — "
            "one batch must carry one row per id (fold with last-wins "
            "compaction first)"
        )
    ids_only = updates.select(id_col)
    n_updates = updates.count()
    if n_updates == 0:
        # an empty batch (common in CDC replays where the seq gate
        # drops every row) must be a true no-op: without this,
        # _move_parquet_in would land an EMPTY part file in the table
        # every batch, accumulating junk files until compaction
        return {
            "rows_replaced": 0,
            "rows_inserted": 0,
            "files_rewritten": 0,
            "removed_files": [],
            "added_files": [],
        }

    # 1. affected pre-existing files + replaced-row count + matched
    # DISTINCT ids, one pass over one pinned semi-join (the distinct-id
    # count keeps rows_inserted correct even when a crashed prior run
    # left duplicated physical rows for one id — the repair rerun the
    # crash contract advertises)
    matched = (
        full.select(F.input_file_name().alias("file"), qcol(id_col).alias(id_col))
        .join(ids_only, id_col, "left_semi")
        .persist()
    )
    per_file = (
        matched.groupBy("file").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    n_matched_ids = matched.select(id_col).distinct().count()
    matched.unpersist()
    affected = [r["file"] for r in per_file]
    rows_replaced = sum(r["n"] for r in per_file)

    # partition layout still matters for pure inserts — discover it
    # from ANY existing data file when no file is affected
    leaf = (
        file_local(affected[0]) if affected
        else next(local_data_files(base_local), None)
    )
    pcols = _partition_cols(leaf, base_local) if leaf else []

    # 2. new versions move in FIRST (duplicate-on-crash, never lose)
    added = _move_parquet_in(
        updates, path.rstrip("/") + ".upsert_new_tmp", base_local, pcols
    )

    # 3. rewrite affected files without the replaced ids, then drop them
    if affected:
        sub = _read_files(spark, path, affected)
        kept = sub.join(ids_only, id_col, "left_anti")
        added += _move_parquet_in(
            kept, path.rstrip("/") + ".upsert_old_tmp", base_local, pcols
        )
        for uri in affected:
            os.remove(file_local(uri))
    return {
        "rows_replaced": rows_replaced,
        "rows_inserted": n_updates - n_matched_ids,
        "files_rewritten": len(affected),
        "removed_files": list(affected),
        "added_files": added,
    }
