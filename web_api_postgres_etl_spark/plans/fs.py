"""What a table holds, and whether it is there at all — the one place
that decides both.

Two rules decide every self-describing read of a table (the footer
watermark probe, the bootstrap-or-merge faces, the streaming stores'
sidecars, the layout maintenance ops):

1. **Data files.** A table's data files are the files Spark's own file
   index (``InMemoryFileIndex``) reads: every file under the path whose
   name, and every directory name between it and the path, is not
   :func:`hidden` — so ``_SUCCESS``, ``.crc`` checksums, in-flight
   ``._COPYING_`` uploads and a crashed write's ``_temporary/`` attempt
   are never data, while a partition dir such as ``_p=1`` is.
2. **Missing table.** A read finds no table yet when it raises
   ``PATH_NOT_FOUND``, or ``UNABLE_TO_INFER_SCHEMA`` while the path
   holds no data files under rule 1 (a zero-row partitioned write left
   only ``_SUCCESS``; a crashed first write only ``_temporary/``). Any
   other failure is a broken table and raises: a corrupt sink read as
   "not there yet" would be silently re-ingested or re-bootstrapped
   (:func:`read_if_present`). The error condition is read from the
   exception's condition field, never from message text.

Rule 1 comes in two listing forms that share :func:`hidden`:
:func:`data_files` goes through the Hadoop FileSystem API resolved
from the path itself, so ``file:``, ``hdfs:`` and ``s3a:`` warehouses
all answer truthfully (bare paths resolve against ``fs.defaultFS``, as
Spark's readers do); :func:`local_data_files` walks a local directory
for the local-filesystem-scoped rewrite ops and the footer probe's
fast path, whose URIs :func:`file_local` unwraps.
"""

from __future__ import annotations

import os
import re
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession


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


def file_local(uri: str) -> str:
    """file:// URI (or bare path) → local filesystem path — the ONE
    unwrap every local-filesystem op shares (the rewrite swaps,
    purge/upsert/CDC apply, zone-map maintenance, the footer probe);
    zone-map identities stay URIs, only filesystem operations unwrap
    them. Non-local schemes RAISE: these ops move directories and part
    files with os/shutil, and an s3a://-style path passed through
    unchanged would make every listing come back empty — a compaction
    would then report success without swapping anything in, or an
    upsert would strand its rows in the .tmp dir (silent data
    non-landing). They are local-filesystem scoped by design; a
    distributed deployment fronts them with a table format's commit
    protocol instead."""
    from urllib.parse import unquote, urlparse

    parsed = urlparse(uri)
    if parsed.scheme not in ("file", ""):
        raise ValueError(
            f"table rewrite ops are local-filesystem scoped: got "
            f"{uri!r} (scheme {parsed.scheme!r}) — compaction/purge/"
            "upsert/apply_changes move files with os/shutil and cannot "
            "operate on remote URIs; use a table format (Delta/"
            "Iceberg) for remote rewrites"
        )
    return unquote(parsed.path) if parsed.scheme == "file" else uri


def hidden(name: str) -> bool:
    """A file or directory name Spark's file index never reads
    (``HadoopFSUtils.shouldFilterOutPathName`` and the index's data-path
    filter): a ``_`` name that is not a ``col=value`` partition dir
    (``_SUCCESS``, ``_temporary``, ``_metadata``), a ``.`` name (``.crc``
    checksums), or an in-flight ``._COPYING_`` upload."""
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def local_data_files(root: str) -> Iterator[str]:
    """The data files (rule 1) under the local directory ``root``, as
    local paths; a file ``root`` is its own data file, and a missing
    one holds none. Hidden directories are pruned, never descended."""
    if os.path.isfile(root):
        yield root
        return
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not hidden(x)]
        yield from (os.path.join(d, f) for f in files if not hidden(f))


def data_files(spark: SparkSession, path: str) -> Iterator[str]:
    """The data files (rule 1) under ``path`` on its own filesystem, as
    the URIs Hadoop lists them by — the set ``spark.read.parquet(path)
    .inputFiles()`` reads. One recursive listing (a flat listing on an
    object store); a file is kept when no name on its path below
    ``path`` is hidden."""
    fs, hpath = _hadoop_path(spark, path)
    if not fs.exists(hpath):
        return
    root = fs.makeQualified(hpath).toUri().getPath().rstrip("/")
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        p = it.next().getPath()
        rel = p.toUri().getPath()[len(root):]
        if not any(hidden(n) for n in rel.split("/") if n):
            yield p.toString()


def has_data_files(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` holds at least one data file (rule 1) —
    what tells the two faces Spark reports as
    ``UNABLE_TO_INFER_SCHEMA`` apart: no data files (not there yet)
    versus data files that cannot be read as parquet (broken)."""
    return next(data_files(spark, path), None) is not None


def error_condition(exc) -> str | None:
    """Top-level error condition of a PySpark exception (e.g.
    ``UNRESOLVED_COLUMN.WITH_SUGGESTION`` → ``UNRESOLVED_COLUMN``), or
    None when the exception carries no condition. Message-substring
    classification is version-dependent (and a condition name quoted
    inside an unrelated message would misclassify); the condition field
    is the stable contract."""
    for getter in ("getCondition", "getErrorClass"):
        fn = getattr(exc, getter, None)
        if fn is None:
            continue
        try:
            cond = fn()
        except Exception:
            continue
        if cond:
            return str(cond).split(".", 1)[0]
    return None


def read_if_present(spark: SparkSession, path: str) -> DataFrame | None:
    """``spark.read.parquet(path)``, or None when no table is there yet
    (rule 2). Any other read failure raises."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as exc:
        cond = error_condition(exc)
        if cond == "PATH_NOT_FOUND" or (
            cond == "UNABLE_TO_INFER_SCHEMA" and not has_data_files(spark, path)
        ):
            return None
        raise


# characters Spark's writer percent-escapes in partition directory names
# (ExternalCatalogUtils.escapePathName): ASCII controls and "#%'*/:=?\^{[]
_PATH_ESCAPES = frozenset(map(chr, range(1, 32))) | frozenset("\"#%'*/:=?\\\x7f{[]^")


def _escape_path_name(s: str) -> str:
    return "".join(f"%{ord(c):02X}" if c in _PATH_ESCAPES else c for c in s)


def unescape_path_name(s: str) -> str:
    """The inverse of the writer's escaping: every ``%XX`` hex pair
    decoded, as partition discovery reads a directory name
    (ExternalCatalogUtils.unescapePathName)."""
    return re.sub(r"%([0-9A-Fa-f]{2})", lambda m: chr(int(m.group(1), 16)), s)


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
