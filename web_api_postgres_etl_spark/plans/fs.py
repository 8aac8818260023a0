"""Warehouse-path probes that work on ANY Hadoop filesystem.

The pipeline's skip/bootstrap decisions ("is this stg table present
yet?", "is this sink empty or corrupt?") were originally
``os.path.exists`` checks — correct on local[?] but silently wrong the
day the warehouse moves to HDFS/S3: every path reads as absent, every
prd refresh is skipped behind a green run (the stale-prd hazard the
r13 hardening set out to close). These helpers route the same checks
through the Hadoop FileSystem API resolved FROM the path itself, so
``file:``, ``hdfs:`` and ``s3a:`` warehouses all answer truthfully;
bare paths resolve against ``fs.defaultFS`` exactly as Spark's own
readers do.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _hadoop_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def path_exists(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` exists on its own filesystem (scheme-aware:
    the filesystem is resolved from the path, falling back to
    ``fs.defaultFS`` for bare paths — the resolution Spark's readers
    themselves use, so "exists" here agrees with what a subsequent
    ``spark.read`` would see)."""
    fs, hpath = _hadoop_path(spark, path)
    return bool(fs.exists(hpath))


def is_local(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` resolves to the local filesystem: a ``file:``
    URI, or a bare path while ``fs.defaultFS`` is local."""
    fs, _ = _hadoop_path(spark, path)
    return fs.getUri().getScheme() == "file"


def has_data_files(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` holds at least one DATA file (recursive,
    skipping ``_*``/``.*`` bookkeeping such as ``_SUCCESS`` and
    checksums). Distinguishes the two faces Spark reports identically
    as ``UNABLE_TO_INFER_SCHEMA``: a zero-row partitioned write that
    left only ``_SUCCESS`` (legitimately empty → probe None) versus a
    directory whose data files exist but cannot be read as parquet
    (corrupt → must raise, never silently re-ingest)."""
    fs, hpath = _hadoop_path(spark, path)
    if not fs.exists(hpath):
        return False
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        name = it.next().getPath().getName()
        if not (name.startswith("_") or name.startswith(".")):
            return True
    return False


# characters Spark's writer percent-escapes in partition directory names
# (ExternalCatalogUtils.escapePathName): ASCII controls and "#%'*/:=?\^{[]
_PATH_ESCAPES = frozenset(map(chr, range(1, 32))) | frozenset("\"#%'*/:=?\\\x7f{[]^")


def _escape_path_name(s: str) -> str:
    return "".join(f"%{ord(c):02X}" if c in _PATH_ESCAPES else c for c in s)


def partition_dir(col: str, value) -> str:
    """The ``col=value`` directory name Spark's writer gives a partition
    (values by their string form; null and "" map to Hive's default
    partition name)."""
    v = (
        "__HIVE_DEFAULT_PARTITION__"
        if value is None or str(value) == ""
        else _escape_path_name(str(value))
    )
    return f"{_escape_path_name(col)}={v}"
