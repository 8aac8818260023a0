"""S4/S5 — table sinks (overwrite / append), parquet-native with JDBC parity.

Reference: ``df.to_sql(name, con, if_exists='replace'|'append',
schema=…)`` (mabna_tables_create.py:60-61 and 10 more sites;
mabna_tables_update.py:58-59 and 6 more). ``replace`` drops and
recreates the table non-atomically (readers can observe a missing
table — SURVEY.md §7.4.6); Spark's per-directory parquet overwrite is
kept atomic per table path here.

The engine's canonical storage is parquet (zstd) laid out as
``{warehouse}/{layer}_{name}`` mirroring the reference's
source/staging/production schemas. ``jdbc_*`` variants provide actual-
Postgres parity when a JDBC URL is supplied (not exercised in this
container — no Postgres — but the option plumbing is the real one).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def table_path(warehouse: str, layer: str, name: str) -> str:
    return f"{warehouse}/{layer}_{name}"


_FORMATS = ("parquet", "orc", "json", "csv")


def _writer(df: DataFrame, mode: str, partition_by, fmt: str):
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {_FORMATS}")
    w = df.write.mode(mode).format(fmt)
    if fmt == "csv":
        w = w.option("header", "true")
    if partition_by:
        w = w.partitionBy(*partition_by)
    return w


def write_overwrite(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    fmt: str = "parquet",
) -> None:
    """Full-refresh sink (S4). ``partition_by`` is the 100 TB lever: prd
    tables partition by Jalali month (j_date prefix) so compaction and
    BI range scans touch only the partitions they need. ``fmt`` picks
    the built-in file format (parquet default; orc for ORC-standard
    warehouses, json/csv for export feeds — columnar formats keep
    predicate pushdown + column pruning, the text formats do not and
    are export-only by design)."""
    _writer(df, "overwrite", partition_by, fmt).save(path)


def write_append(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    fmt: str = "parquet",
) -> None:
    """Incremental append sink (S5) — delta rows only; the last-wins
    compactor (operators.dedup.dedup_last_wins) repairs duplicates."""
    _writer(df, "append", partition_by, fmt).save(path)


def read_table(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {_FORMATS}")
    r = spark.read.format(fmt)
    if fmt == "csv":
        r = r.option("header", "true").option("inferSchema", "true")
    return r.load(path)


def recover_swap(path: str) -> None:
    """Repair a crashed ``replace_table`` swap before starting a new one.

    The whole-table swap (write ``path.tmp`` → move ``path`` →
    ``path.old`` → move ``path.tmp`` → ``path`` → rm ``path.old``) has a
    crash window in which ``path`` is gone and the live data sits in
    ``.old`` (new data in ``.tmp``). The partition swap has one per
    partition: ``path/<dir>`` gone, its live data in ``.old/<dir>``,
    while ``.tmp`` still exists. Rewriters call this at entry: restore
    ``.old`` to ``path`` when ``path`` vanished mid-swap, or each
    ``.old/<dir>`` whose ``path/<dir>`` vanished mid-swap, then drop
    any stale ``.old``/``.tmp`` so a fresh swap can't nest the live dir
    inside a leftover or fail on an existing target."""
    import os
    import shutil

    from ..plans.fs import file_local

    path = file_local(path)
    old, tmp = path + ".old", path + ".tmp"
    if os.path.exists(old) and not os.path.exists(path):
        shutil.move(old, path)
    elif os.path.exists(old) and os.path.exists(tmp):
        # only a partition swap leaves .tmp beside .old and path; a
        # whole-table swap past its window holds the OLD table in .old,
        # whose dirs must not come back
        for name in os.listdir(old):
            if not os.path.exists(os.path.join(path, name)):
                shutil.move(os.path.join(old, name), os.path.join(path, name))
    for stale in (old, tmp):
        if os.path.exists(stale):
            shutil.rmtree(stale)


def replace_table(
    df: DataFrame, path: str, partition_col: str | None = None
) -> None:
    """Replace the table at ``path`` with ``df`` — the one rewrite every
    compactor and maintained table uses. ``df`` may read ``path``
    itself: it is written beside it, to ``path.tmp`` (partitioned by
    ``partition_col`` when given), so the source is untouched until the
    write is done and nothing needs materializing first. Then it is
    swapped in by renames, so readers find the table missing only
    between two instant renames, never for a whole delete: the whole
    dir (``path`` → ``.old``, ``.tmp`` → ``path``), or each partition
    dir written, the live one moved to ``.old/<dir>`` FIRST so a crash
    between the two renames leaves its data in ``.old``, never only in
    ``.tmp``. Partitions ``df`` has no rows for stay as they are. Call
    ``recover_swap(path)`` before reading ``path``."""
    import glob
    import os
    import shutil

    from ..plans.fs import _escape_path_name, file_local

    local = file_local(path)
    write_overwrite(
        df, path + ".tmp", partition_by=[partition_col] if partition_col else None
    )
    old, tmp = local + ".old", local + ".tmp"
    if partition_col is None:
        shutil.move(local, old)
        shutil.move(tmp, local)
        shutil.rmtree(old)
        return
    os.makedirs(old, exist_ok=True)
    # the dir names carry the column name as Spark's writer escapes it
    # (``p:m`` → ``p%3Am=…``), the spelling ``plans.fs.partition_dir`` uses
    prefix = glob.escape(f"{tmp}/{_escape_path_name(partition_col)}=")
    for pdir in glob.glob(prefix + "*"):
        name = os.path.basename(pdir)
        dst = os.path.join(local, name)
        if os.path.exists(dst):
            shutil.move(dst, os.path.join(old, name))
        shutil.move(pdir, dst)
    shutil.rmtree(old)
    shutil.rmtree(tmp)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int = 32,
    path: str | None = None,
    sort: bool = True,
) -> None:
    """Bucketed managed table — the co-located-join lever.

    Two tables bucketed (and sorted) on the same key with the same
    bucket count join WITHOUT a shuffle on either side: each task zips
    bucket i with bucket i (SortMergeJoin over pre-sorted buckets, no
    Exchange in the plan — asserted in tests/test_bucketed.py). At
    100 TB this removes the dominant cost of repeated fact-fact joins
    (e.g. trades self-conciliation or fact⋈fact enrichments the
    reference never attempts). Requires ``saveAsTable`` (bucket
    metadata lives in the catalog, not in parquet)."""
    w = df.write.mode("overwrite").bucketBy(num_buckets, bucket_col)
    if sort:
        w = w.sortBy(bucket_col)
    if path:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table)


# ------------------------------------------------------------ JDBC parity
def jdbc_options(
    url: str,
    table: str,
    user: str = "",
    password: str = "",
    driver: str = "org.postgresql.Driver",
) -> dict[str, str]:
    """Connection-option dict (S9) — secrets come from env/config, mirroring
    the reference's Airflow connection (mabna_tables_create.py:40-43).
    ``driver`` defaults to Postgres (the reference's engine); tests
    exercise the identical path against the in-process Derby that ships
    with Spark (tests/test_jdbc.py)."""
    opts = {"url": url, "dbtable": table, "driver": driver}
    if user:
        opts["user"] = user
    if password:
        opts["password"] = password
    return opts


def jdbc_write(df: DataFrame, opts: dict[str, str], mode: str) -> None:
    """S4/S5 over JDBC: ``mode`` in {overwrite, append}. ``truncate``
    avoids the reference's drop/recreate DDL churn on overwrite."""
    (
        df.write.format("jdbc")
        .options(**opts)
        .option("truncate", "true")
        .option("batchsize", "10000")
        .mode(mode)
        .save()
    )


def jdbc_read(
    spark: SparkSession,
    opts: dict[str, str],
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
) -> DataFrame:
    """S6 — parallel JDBC scan. The reference reads whole tables on one
    connection (pd.read_sql_query — mabna_tables_create.py:141-144);
    here ``partitionColumn`` on the monotone ``meta.version`` splits the
    read across executors."""
    r = spark.read.format("jdbc").options(**opts)
    if partition_column:
        r = (
            r.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound or 0))
            .option("upperBound", str(upper_bound or 1))
        )
    return r.load()
