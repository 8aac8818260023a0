"""plans/fs.py: the data-file rule checked against Spark's own file
index, and the missing-table rule on the paths that bootstrap."""

from __future__ import annotations

import os
import shutil

import pytest

from web_api_postgres_etl_spark.plans.fs import (
    _escape_path_name,
    data_files,
    file_local,
    local_data_files,
    read_if_present,
    unescape_path_name,
)


def _part(path: str) -> str:
    return next(
        os.path.join(d, f)
        for d, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def _temporary_attempt(path):
    os.makedirs(os.path.join(path, "_temporary", "0", "task_0"))
    shutil.copy(_part(path), os.path.join(path, "_temporary", "0", "task_0", "part-x.parquet"))


def _copying_upload(path):
    shutil.copy(_part(path), os.path.join(path, "part-y.parquet._COPYING_"))


@pytest.mark.parametrize(
    "case, partition_by, extra",
    [
        ("success_and_crc", None, None),  # Spark's local writer leaves both
        ("temporary_attempt", None, _temporary_attempt),
        ("copying_upload", None, _copying_upload),
        ("underscore_partition", "_p", None),
    ],
)
def test_data_files_equal_what_spark_reads(spark, tmp_path, case, partition_by, extra):
    """Both listing forms name exactly the files
    ``spark.read.parquet(path).inputFiles()`` reads: never ``_SUCCESS``,
    ``.crc`` checksums, a ``_temporary/`` attempt or a ``._COPYING_``
    upload; always the files under a ``_p=1`` partition dir."""
    path = str(tmp_path / case)
    writer = spark.createDataFrame([(1, 1), (2, 2)], "id long, `_p` long").write
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(path)
    if extra:
        extra(path)
    names = {f for _d, _dirs, files in os.walk(path) for f in files}
    assert "_SUCCESS" in names and any(f.endswith(".crc") for f in names)

    spark_reads = {file_local(u) for u in spark.read.parquet(path).inputFiles()}
    assert spark_reads
    assert {file_local(u) for u in data_files(spark, path)} == spark_reads
    assert {file_local(u) for u in data_files(spark, "file://" + path)} == spark_reads
    assert set(local_data_files(path)) == spark_reads
    if partition_by:
        assert all("/_p=" in f for f in spark_reads)


def test_read_if_present_missing_versus_broken(spark, tmp_path):
    """No path, a dir holding only ``_SUCCESS``, or only a crashed
    write's ``_temporary/`` attempt: no table yet. A data file that is
    not parquet: a broken table, which raises."""
    assert read_if_present(spark, str(tmp_path / "nope")) is None

    empty = str(tmp_path / "empty")
    spark.createDataFrame([], "id long, p long").write.partitionBy("p").parquet(empty)
    assert read_if_present(spark, empty) is None

    crashed = str(tmp_path / "crashed")
    spark.createDataFrame([(1,)], "id long").write.parquet(crashed)
    _temporary_attempt(crashed)
    for f in os.listdir(crashed):
        if f != "_temporary":
            os.remove(os.path.join(crashed, f))
    assert read_if_present(spark, crashed) is None

    ok = str(tmp_path / "ok")
    spark.createDataFrame([(1,)], "id long").write.parquet(ok)
    assert read_if_present(spark, ok).count() == 1

    broken = str(tmp_path / "broken")
    os.makedirs(broken)
    with open(os.path.join(broken, "data.txt"), "w") as fh:
        fh.write("not parquet\n")
    with pytest.raises(Exception):
        read_if_present(spark, broken)


def test_maintain_history_raises_on_a_non_parquet_data_file(spark, tmp_path):
    """A history path holding a data file that is not parquet is a
    broken table: the fold raises and leaves the file in place, rather
    than reading the path as missing and bootstrapping over it."""
    import datetime

    from web_api_postgres_etl_spark.operators.history import maintain_history

    path = str(tmp_path / "dim_history")
    os.makedirs(path)
    junk = os.path.join(path, "data.txt")
    with open(junk, "w") as fh:
        fh.write("not parquet\n")
    changes = spark.createDataFrame(
        [("A", datetime.datetime(2024, 1, 1), "x")], "k string, ts timestamp, attr string"
    )
    with pytest.raises(Exception):
        maintain_history(spark, changes, path, ["k"], "ts", ["attr"])
    assert os.listdir(path) == ["data.txt"]


@pytest.mark.parametrize("name", ["p:m", "a=b/c", "100%", "x%41", "plain", "{q}#\x01"])
def test_unescape_path_name_inverts_the_writer_escape(spark, name):
    """``unescape_path_name`` undoes the writer's escaping and reads an
    escaped directory name as Spark's partition discovery does."""
    utils = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    escaped = _escape_path_name(name)
    assert escaped == utils.escapePathName(name)
    assert unescape_path_name(escaped) == name
    assert unescape_path_name(name) == utils.unescapePathName(name)
