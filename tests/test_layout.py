"""Z-order clustering + small-file compaction (operators/layout.py).

Covers the three claims the module makes:
1. the Morton key's integer arithmetic is engine-exact (DuckDB mirror
   built from the same bit-interleave loop);
2. z-clustered files are tight k-d boxes — a single-dimension
   predicate prunes MORE files than a linear sort on the other
   dimension allows (the reason the operator exists);
3. compaction rewrites many small files into few, byte-identically.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE
from web_api_postgres_etl_spark.operators.layout import (
    add_zorder_key,
    cluster_by_zorder,
    compact_small_files,
)


def _mirror_sql(cols: list[str], bounds: dict[str, tuple[int, int]],
                bits: int, id_cols: list[str]) -> str:
    """Generate the identical scale+interleave arithmetic in DuckDB
    SQL — the same static expression loop the operator emits."""
    levels = (1 << bits) - 1
    scaled = []
    for c in cols:
        mn, mx = bounds[c]
        span = max(mx - mn, 1)
        scaled.append(
            f"CAST(floor((least({mx}, greatest({mn}, {c})) - {mn}) "
            f"* {levels} / {span}) AS BIGINT)"
        )
    terms = []
    k = len(cols)
    for i in range(bits):
        for j, s in enumerate(scaled):
            terms.append(f"((({s} >> {i}) & 1) << {i * k + j})")
    z = " | ".join(terms)
    ids = ", ".join(id_cols)
    return f"SELECT {ids}, {z} AS z_key FROM lineitem"


def test_zorder_key_matches_duckdb_mirror(spark, oracle):
    li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
    cols = ["l_orderkey", "l_partkey"]
    bits = 8
    keyed = add_zorder_key(li, cols, bits=bits)
    got = sorted(
        (r["l_orderkey"], r["l_linenumber"], r["z_key"])
        for r in keyed.select("l_orderkey", "l_linenumber", "z_key").collect()
    )
    bounds = {}
    for c in cols:
        mn, mx = oracle.execute(
            f"SELECT min({c}), max({c}) FROM lineitem"
        ).fetchone()
        bounds[c] = (int(mn), int(mx))
    want = sorted(
        tuple(row)
        for row in oracle.execute(
            _mirror_sql(cols, bounds, bits, ["l_orderkey", "l_linenumber"])
        ).fetchall()
    )
    assert got == want


def test_zorder_key_null_and_collision_guards(spark):
    df = spark.createDataFrame(
        [(1, 10, None), (2, None, 5), (3, 20, 7)],
        "id long, x long, y long",
    )
    keyed = add_zorder_key(df, ["x", "y"], bits=4)
    # NULLs clamp to the minimum — total, no dropped rows
    assert keyed.count() == 3
    assert keyed.filter(F.col("z_key").isNull()).count() == 0
    with pytest.raises(ValueError, match="already exists"):
        add_zorder_key(keyed, ["x"], bits=4)
    with pytest.raises(ValueError, match="62"):
        add_zorder_key(df, ["x", "y"], bits=32)


def test_zorder_span_guard_raises(spark):
    df = spark.createDataFrame([(0,), (1 << 40,)], "v long")
    with pytest.raises(ValueError, match="2\\^53"):
        add_zorder_key(df, ["v"], bits=16)


def _files_touching(spark, path: str, pred_col: str, lo: int, hi: int) -> int:
    """Count files whose [min, max] stats for ``pred_col`` intersect
    [lo, hi] — exactly the pruning decision a parquet reader makes."""
    stats = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min(pred_col).alias("mn"), F.max(pred_col).alias("mx"))
        .collect()
    )
    return sum(1 for r in stats if r["mx"] >= lo and r["mn"] <= hi)


def test_zorder_layout_prunes_both_dimensions(spark, tmp_path):
    # 64x64 grid; linear layout sorts on x only, z-order interleaves
    n_files = 16
    grid = spark.range(4096).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    zpath, lpath = str(tmp_path / "z"), str(tmp_path / "linear")
    cluster_by_zorder(grid, ["x", "y"], n_files, bits=6).write.parquet(zpath)
    grid.repartitionByRange(n_files, "x").sortWithinPartitions("x").write.parquet(
        lpath
    )
    assert spark.read.parquet(zpath).count() == 4096
    # a y-only box: the x-sorted layout cannot prune AT ALL (every
    # file spans all y); the z-clustered one keeps y-locality too
    z_touch = _files_touching(spark, zpath, "y", 8, 15)
    l_touch = _files_touching(spark, lpath, "y", 8, 15)
    assert l_touch == n_files
    assert z_touch <= n_files // 2, (z_touch, l_touch)
    # and the x-box still prunes on the z layout (both dims served)
    assert _files_touching(spark, zpath, "x", 8, 15) <= n_files // 2


def test_compact_small_files_roundtrip(spark, tmp_path):
    path = str(tmp_path / "frag")
    df = spark.range(10_000).select(
        F.col("id"), (F.col("id") % 7).alias("g")
    )
    df.repartition(40).write.parquet(path)
    before = len(glob.glob(os.path.join(path, "*.parquet")))
    assert before >= 30
    n = compact_small_files(spark, path, target_file_bytes=1 << 30)
    after = len(glob.glob(os.path.join(path, "*.parquet")))
    assert n == 1 and after == 1
    got = sorted(r["id"] for r in spark.read.parquet(path).collect())
    assert got == list(range(10_000))
    # idempotent: a second pass is a no-op rewrite, data unchanged
    compact_small_files(spark, path, target_file_bytes=1 << 30)
    assert spark.read.parquet(path).count() == 10_000


def test_compact_small_files_accepts_file_uri(spark, tmp_path):
    """A ``file://`` URI is sized and counted like the bare path: the
    same target gives the same file count (a URI once measured 0 bytes,
    coalesced to ``min_files`` and reported 0 files written)."""
    counts = []
    for name, as_uri in (("bare", False), ("uri", True)):
        path = str(tmp_path / name)
        spark.range(10_000).select(
            F.col("id"), (F.col("id") % 7).alias("g")
        ).repartition(8).write.parquet(path)
        size = sum(os.path.getsize(f) for f in glob.glob(os.path.join(path, "*.parquet")))
        target = path if not as_uri else "file://" + path
        n = compact_small_files(spark, target, target_file_bytes=size // 3)
        assert n == len(glob.glob(os.path.join(path, "*.parquet")))
        assert spark.read.parquet(path).count() == 10_000
        counts.append(n)
    assert counts[0] > 1 and counts[1] == counts[0]

def test_zone_map_shape_and_totals(spark, tmp_path):
    from web_api_postgres_etl_spark.operators.layout import zone_map

    grid = spark.range(4096).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    path = str(tmp_path / "t")
    cluster_by_zorder(grid, ["x", "y"], 16, bits=6).write.parquet(path)
    zm = zone_map(spark, path, ["x", "y"]).collect()
    n_files = len(glob.glob(os.path.join(path, "part-*")))
    assert len(zm) == n_files
    assert sum(r["n_rows"] for r in zm) == 4096
    for r in zm:
        assert r["x_min"] <= r["x_max"] and r["x_nulls"] == 0


def test_read_pruned_equals_full_scan(spark, tmp_path):
    from web_api_postgres_etl_spark.operators.layout import (
        prune_files,
        read_pruned,
        zone_map,
    )

    grid = spark.range(4096).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    path = str(tmp_path / "t")
    cluster_by_zorder(grid, ["x", "y"], 16, bits=6).write.parquet(path)
    zm = zone_map(spark, path, ["x", "y"]).persist()
    ranges = {"x": (8, 15), "y": (8, 15)}
    files = prune_files(zm, ranges)
    n_files = len(glob.glob(os.path.join(path, "part-*")))
    # the box predicate must actually skip files on a z-ordered table
    assert 0 < len(files) < n_files
    got = sorted(
        (r["x"], r["y"]) for r in read_pruned(spark, path, zm, ranges).collect()
    )
    want = sorted(
        (r["x"], r["y"])
        for r in spark.read.parquet(path)
        .filter((F.col("x").between(8, 15)) & (F.col("y").between(8, 15)))
        .collect()
    )
    assert got == want and len(got) == 64
    # open-ended bound: hi=None keeps everything above lo, exactly
    open_got = read_pruned(spark, path, zm, {"x": (60, None)}).count()
    assert open_got == spark.read.parquet(path).filter("x >= 60").count()
    zm.unpersist()


def test_prune_files_null_and_empty_semantics(spark, tmp_path):
    from web_api_postgres_etl_spark.operators.layout import (
        prune_files,
        read_pruned,
        zone_map,
    )

    path = str(tmp_path / "t")
    # file 0: all-NULL v; file 1: v in [0, 9] — one file per partition
    df = spark.range(20).select(
        F.col("id"),
        F.when(F.col("id") < 10, F.col("id")).alias("v"),
        (F.col("id") < 10).cast("int").alias("p"),
    )
    # range-partition so the two p-values land in two distinct files
    # (hash-partitioning can collide both into one bucket)
    df.repartitionByRange(2, "p").write.parquet(path)
    zm = zone_map(spark, path, ["v"])
    rows = zm.collect()
    assert any(r["v_min"] is None and r["v_nulls"] == 10 for r in rows)
    # a range predicate can never match the all-NULL file
    files = prune_files(zm, {"v": (0, 100)})
    assert len(files) == 1
    # no file overlaps [50, 60] -> empty result, schema intact
    out = read_pruned(spark, path, zm, {"v": (50, 60)})
    assert out.columns == ["id", "v", "p"] and out.count() == 0


def test_read_pruned_hive_partitioned_and_open_ranges(spark, tmp_path):
    """Review regressions: pruned reads of hive-partitioned tables
    must keep the partition column (basePath), and a fully-open range
    must not prune all-NULL files out of the result."""
    from web_api_postgres_etl_spark.operators.layout import (
        prune_files,
        read_pruned,
        zone_map,
    )

    path = str(tmp_path / "hive")
    df = spark.range(20).select(
        F.col("id"),
        F.when(F.col("id") < 10, F.col("id")).alias("v"),
        (F.col("id") % 2).cast("int").alias("p"),
    )
    df.write.partitionBy("p").parquet(path)
    zm = zone_map(spark, path, ["id", "p"])
    out = read_pruned(spark, path, zm, {"p": (0, 0)})
    assert "p" in out.columns
    assert out.count() == 10 and out.filter("p <> 0").count() == 0

    # fully-open range == full scan, INCLUDING rows from all-NULL files
    flat = str(tmp_path / "flat")
    df.repartitionByRange(2, (F.col("id") < 10).cast("int")).write.parquet(flat)
    zm2 = zone_map(spark, flat, ["v"])
    assert len(prune_files(zm2, {"v": (None, None)})) == 2
    assert read_pruned(spark, flat, zm2, {"v": (None, None)}).count() == 20


def test_zone_map_update_scans_only_new_files(spark, tmp_path):
    from web_api_postgres_etl_spark.operators.layout import (
        read_pruned,
        zone_map,
        zone_map_update,
    )

    path = str(tmp_path / "t")
    spark.range(100).select(F.col("id").alias("v")).coalesce(1).write.parquet(path)
    zm0 = zone_map(spark, path, ["v"])
    assert zm0.count() == 1
    # no new files -> identical frame back
    assert zone_map_update(spark, path, zm0, ["v"]).count() == 1
    # append a new file, update incrementally, and the map must match
    # a from-scratch rebuild exactly
    spark.range(100, 200).select(F.col("id").alias("v")).coalesce(1).write.mode(
        "append"
    ).parquet(path)
    upd = zone_map_update(spark, path, zm0, ["v"])
    key = lambda df: sorted(
        (os.path.basename(r["file"]), r["n_rows"], r["v_min"], r["v_max"])
        for r in df.collect()
    )
    assert key(upd) == key(zone_map(spark, path, ["v"]))
    # and pruned reads through the updated map stay exact
    assert read_pruned(spark, path, upd, {"v": (150, 199)}).count() == 50


# ------------------------------------------------------ surgical delete
def test_purge_rows_touches_only_affected_files(spark, tmp_path):
    """Target ids vanish; files without matches keep their exact bytes;
    the returned file lists keep a zone map maintainable; re-purging is
    a no-op."""
    import os

    from web_api_postgres_etl_spark.operators.layout import purge_rows

    path = str(tmp_path / "tbl")
    # 4 files, ids range-partitioned so ids 0-249 land in one file
    df = spark.range(1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("v")
    )
    df.repartitionByRange(4, "doc_id").write.parquet(path)
    before = {
        f: os.path.getmtime(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    }
    ids = spark.createDataFrame([(3,), (7,), (240,)], "doc_id long")
    stats = purge_rows(spark, path, ids, "doc_id")
    assert stats["rows_purged"] == 3
    # range partitioning put all three ids in ONE file
    assert stats["files_rewritten"] == 1
    left = spark.read.parquet(path)
    assert left.count() == 997
    assert left.join(ids, "doc_id", "left_semi").count() == 0
    # untouched files: same names, same mtimes (never rewritten)
    after = {
        f: os.path.getmtime(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    }
    untouched = set(before) - {p.rsplit("/", 1)[-1] for p in stats["removed_files"]}
    assert untouched <= set(after)
    for f in untouched:
        assert after[f] == before[f]
    # the lists are file:// URIs matching zone_map's input_file_name
    # identity; the added files exist, removed ones don't
    from urllib.parse import unquote, urlparse

    local = lambda u: unquote(urlparse(u).path)
    assert all(u.startswith("file:") for u in stats["added_files"] + stats["removed_files"])
    assert all(os.path.exists(local(u)) for u in stats["added_files"])
    assert not any(os.path.exists(local(u)) for u in stats["removed_files"])
    # idempotent: nothing left to purge
    again = purge_rows(spark, path, ids, "doc_id")
    assert again["rows_purged"] == 0 and again["files_rewritten"] == 0


def test_purge_rows_validates_column_and_purges_all_files(spark, tmp_path):
    import pytest

    from web_api_postgres_etl_spark.operators.layout import purge_rows

    path = str(tmp_path / "tbl2")
    spark.range(100).select(F.col("id").alias("doc_id")).coalesce(2).write.parquet(path)
    with pytest.raises(ValueError, match="not in table columns"):
        purge_rows(spark, path, spark.range(1), "id")
    # id in every file -> every file rewritten, table still consistent
    ids = spark.range(100).select(F.col("id").alias("doc_id")).filter("doc_id % 2 = 0")
    stats = purge_rows(spark, path, ids, "doc_id")
    assert stats["rows_purged"] == 50
    assert spark.read.parquet(path).count() == 50


def test_purge_rows_hive_partitioned(spark, tmp_path):
    """Review regression: on a hive-partitioned table the rewritten
    rows must land back inside their own part=value/ directories —
    a root-level leaf file silently corrupts every later read."""
    from web_api_postgres_etl_spark.operators.layout import purge_rows

    path = str(tmp_path / "ptbl")
    df = spark.range(100).select(
        F.col("id").alias("doc_id"), (F.col("id") % 4).alias("part")
    )
    df.write.partitionBy("part").parquet(path)
    ids = spark.createDataFrame([(8,), (9,)], "doc_id long")  # parts 0 and 1
    stats = purge_rows(spark, path, ids, "doc_id")
    assert stats["rows_purged"] == 2 and stats["files_rewritten"] == 2
    back = spark.read.parquet(path)
    assert back.count() == 98
    assert back.join(ids, "doc_id", "left_semi").count() == 0
    # partition column still a directory column with full value set
    assert sorted(r.part for r in back.select("part").distinct().collect()) == [0, 1, 2, 3]
    # per-partition counts are exact (no rows leaked across partitions)
    counts = {r.part: r.n for r in back.groupBy("part").agg(F.count("*").alias("n")).collect()}
    assert counts == {0: 24, 1: 24, 2: 25, 3: 25}
    # zone-map recipe works directly on the returned URIs
    from web_api_postgres_etl_spark.operators.layout import zone_map

    zm = zone_map(spark, path, ["doc_id"])
    kept_zm = zm.filter(~F.col("file").isin(stats["removed_files"]))
    assert kept_zm.count() == zm.count()  # removed files no longer listed


def test_purge_rows_null_id_raises(spark, tmp_path):
    import pytest

    from web_api_postgres_etl_spark.operators.layout import purge_rows

    path = str(tmp_path / "ntbl")
    spark.range(10).select(F.col("id").alias("doc_id")).write.parquet(path)
    bad = spark.createDataFrame([(None,), (1,)], "doc_id long")
    with pytest.raises(Exception, match="NULL id"):
        purge_rows(spark, path, bad, "doc_id")


# --------------------------------------------- zone-map maintenance
def test_zone_map_sidecar_roundtrip_and_refresh(spark, tmp_path):
    """Sidecar write/read roundtrip; refresh drops dead entries and
    scans only new files; the sidecar never pollutes table reads."""
    from web_api_postgres_etl_spark.operators.layout import (
        read_pruned,
        read_zone_map,
        write_zone_map,
        zone_map,
        zone_map_cols,
        zone_map_refresh,
    )

    path = str(tmp_path / "t")
    spark.range(100).select(F.col("id").alias("v")).coalesce(2).write.parquet(path)
    write_zone_map(zone_map(spark, path, ["v"]), path)
    assert zone_map_cols(read_zone_map(spark, path)) == ["v"]
    # the sidecar is a sibling: the table read sees only table rows
    assert spark.read.parquet(path).count() == 100

    # simulate an out-of-band rewrite: append a file AND delete one
    spark.range(100, 200).select(F.col("id").alias("v")).coalesce(1).write.mode(
        "append"
    ).parquet(path)
    victim = sorted(glob.glob(os.path.join(path, "part-*")))[0]
    os.remove(victim)
    pins: list = []
    zm = zone_map_refresh(spark, path, pins=pins)
    key = lambda df: sorted(
        (os.path.basename(r["file"]), r["n_rows"], r["v_min"], r["v_max"])
        for r in df.collect()
    )
    assert key(zm) == key(zone_map(spark, path, ["v"]))  # == full rebuild
    # and the persisted sidecar took the refresh
    assert key(read_zone_map(spark, path)) == key(zm)
    got = read_pruned(spark, path, zm, {"v": (150, 199)}).count()
    assert got == spark.read.parquet(path).filter("v >= 150").count()
    from web_api_postgres_etl_spark.caching import release_frame

    for fr in pins:
        release_frame(fr)

    # first-build validation: cols required when no sidecar exists
    bare = str(tmp_path / "bare")
    spark.range(5).write.parquet(bare)
    with pytest.raises(ValueError, match="no sidecar"):
        zone_map_refresh(spark, bare)


def test_pipeline_compact_keeps_zone_map_fresh(spark, tmp_path):
    """VERDICT r6 #7: compact -> sidecar auto-refresh -> read_pruned
    stays exact, for both the whole-table swap and the
    partition-scoped compactor; purge_rows + refresh also stays
    exact."""
    from web_api_postgres_etl_spark.operators.layout import (
        prune_files,
        purge_rows,
        read_pruned,
        read_zone_map,
        zone_map,
        zone_map_refresh,
        write_zone_map,
    )
    from web_api_postgres_etl_spark.plans.pipeline import MedallionPipeline

    pipe = MedallionPipeline(spark, warehouse=str(tmp_path))

    # -- whole-table compact (rename swap destroys a CHILD sidecar;
    #    the sibling survives and is auto-refreshed)
    path = str(tmp_path / "flat")
    rows = spark.range(200).selectExpr(
        "id", "id % 50 AS k", "id AS `meta.version`", "id % 97 AS v"
    )
    rows.coalesce(4).write.parquet(path)
    write_zone_map(zone_map(spark, path, ["v"]), path)
    # duplicate every key with a higher version, then compact
    spark.range(200, 250).selectExpr(
        "id", "id % 50 AS k", "id AS `meta.version`", "id % 97 AS v"
    ).write.mode("append").parquet(path)
    pipe.compact_partitioned(path, keys=["k"])
    zm = read_zone_map(spark, path)
    live = {os.path.basename(p) for p in glob.glob(os.path.join(path, "part-*"))}
    mapped = {os.path.basename(r["file"]) for r in zm.select("file").collect()}
    assert mapped == live  # no dead entries, no unmapped files
    got = sorted(
        r["id"] for r in read_pruned(spark, path, zm, {"v": (0, 40)}).collect()
    )
    want = sorted(
        r["id"] for r in spark.read.parquet(path).filter("v BETWEEN 0 AND 40").collect()
    )
    assert got == want and got

    # -- partition-scoped compact
    ppath = str(tmp_path / "parted")
    spark.range(200).selectExpr(
        "id", "id % 50 AS k", "id AS `meta.version`", "id % 97 AS v",
        "CAST(id % 4 AS STRING) AS m"
    ).write.partitionBy("m").parquet(ppath)
    write_zone_map(zone_map(spark, ppath, ["v"]), ppath)
    spark.range(200, 240).selectExpr(
        "id", "id % 50 AS k", "id AS `meta.version`", "id % 97 AS v",
        "CAST(0 AS STRING) AS m"
    ).write.mode("append").partitionBy("m").parquet(ppath)
    pipe.compact_partitioned(ppath, keys=["k"], partition_col="m", touched=["0"])
    zm2 = read_zone_map(spark, ppath)
    live2 = {
        os.path.basename(p)
        for p in glob.glob(os.path.join(ppath, "m=*", "part-*"))
    }
    mapped2 = {os.path.basename(r["file"]) for r in zm2.select("file").collect()}
    assert mapped2 == live2
    # every mapped file exists -> pruned scans can't hit missing paths
    for f in prune_files(zm2, {"v": (10, 20)}):
        assert os.path.exists(f.replace("file://", "").replace("file:", ""))
    got2 = read_pruned(spark, ppath, zm2, {"v": (10, 20)}).count()
    assert got2 == spark.read.parquet(ppath).filter("v BETWEEN 10 AND 20").count()

    # -- purge + refresh
    ids = spark.createDataFrame([(3,), (7,)], "id long")
    purge_rows(spark, ppath, ids, "id")
    zm3 = zone_map_refresh(spark, ppath)
    got3 = read_pruned(spark, ppath, zm3, {"v": (0, 96)}).count()
    assert got3 == spark.read.parquet(ppath).count()


def test_cli_zonemap_subcommand(spark, tmp_path, capsys):
    import json

    from web_api_postgres_etl_spark.__main__ import main
    from web_api_postgres_etl_spark.operators.layout import read_zone_map

    path = str(tmp_path / "t")
    spark.range(100).selectExpr("id AS v").coalesce(2).write.parquet(path)
    assert main(["zonemap", "--table", path, "--cols", "v"], spark=spark) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["files_in_map"] == 2
    # refresh without --cols: reads the column list from the sidecar
    spark.range(100, 150).selectExpr("id AS v").coalesce(1).write.mode(
        "append"
    ).parquet(path)
    assert main(["zonemap", "--table", path], spark=spark) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["files_in_map"] == 3
    assert read_zone_map(spark, path).count() == 3


# ---------------------------------------------------------- upsert
def test_upsert_rows_replaces_inserts_and_touches_only_affected(
    spark, tmp_path
):
    """Same-id rows take the new values, new ids insert, files without
    a replaced id keep their exact bytes, and the returned lists keep
    a zone map maintainable."""
    import os

    from web_api_postgres_etl_spark.operators.layout import upsert_rows

    path = str(tmp_path / "tbl")
    spark.range(1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("v")
    ).repartitionByRange(4, "doc_id").write.parquet(path)
    before = {
        f: os.path.getmtime(os.path.join(path, f))
        for f in os.listdir(path) if f.endswith(".parquet")
    }
    updates = spark.createDataFrame(
        [(3, 100), (240, 200), (5000, 300)], "doc_id long, v long"
    )
    stats = upsert_rows(spark, path, updates, "doc_id")
    assert stats["rows_replaced"] == 2
    assert stats["rows_inserted"] == 1
    assert stats["files_rewritten"] == 1  # 3 and 240 share a range file

    now = spark.read.parquet(path)
    assert now.count() == 1001
    got = {
        r["doc_id"]: r["v"]
        for r in now.filter(F.col("doc_id").isin([3, 240, 5000, 4])).collect()
    }
    assert got == {3: 100, 240: 200, 5000: 300, 4: 4 % 7}
    # no duplicate ids survive
    assert now.groupBy("doc_id").count().filter("count > 1").count() == 0
    # untouched files keep their mtimes
    removed_names = {p.rsplit("/", 1)[-1] for p in stats["removed_files"]}
    after = {
        f: os.path.getmtime(os.path.join(path, f))
        for f in os.listdir(path) if f.endswith(".parquet")
    }
    for f in set(before) - removed_names:
        assert after[f] == before[f]
    # added/removed lists: added exist, removed don't
    from urllib.parse import unquote, urlparse
    for uri in stats["added_files"]:
        assert os.path.exists(unquote(urlparse(uri).path))
    for uri in stats["removed_files"]:
        assert not os.path.exists(unquote(urlparse(uri).path))


def test_upsert_rows_hive_partitioned_and_partition_moves(spark, tmp_path):
    """A replaced row may MOVE partitions (old version purged from its
    old col=val dir, new version lands in the new one); pure inserts
    on a partitioned table land partition-aware, never at the root."""
    import os

    from web_api_postgres_etl_spark.operators.layout import upsert_rows

    path = str(tmp_path / "ptbl")
    spark.createDataFrame(
        [(i, "a" if i < 50 else "b", i * 10) for i in range(100)],
        "doc_id long, part string, v long",
    ).write.partitionBy("part").parquet(path)

    updates = spark.createDataFrame(
        [(7, "b", 777), (200, "a", 2000)], "doc_id long, part string, v long"
    )
    stats = upsert_rows(spark, path, updates, "doc_id")
    assert stats["rows_replaced"] == 1 and stats["rows_inserted"] == 1
    now = spark.read.parquet(path)
    assert now.count() == 101
    moved = now.filter(F.col("doc_id") == 7).collect()
    assert len(moved) == 1 and moved[0]["part"] == "b" and moved[0]["v"] == 777
    # no leaf parquet at the table root (would corrupt partition reads)
    assert not any(
        f.endswith(".parquet") for f in os.listdir(path)
    )

    # pure insert (no affected files) still discovers the layout
    ins = spark.createDataFrame(
        [(300, "c", 3)], "doc_id long, part string, v long"
    )
    st2 = upsert_rows(spark, path, ins, "doc_id")
    assert st2["files_rewritten"] == 0 and st2["rows_inserted"] == 1
    assert spark.read.parquet(path).filter(
        F.col("part") == "c"
    ).count() == 1


def test_upsert_rows_guards(spark, tmp_path):
    import pytest as _pt

    from web_api_postgres_etl_spark.operators.layout import upsert_rows

    path = str(tmp_path / "g")
    spark.range(10).select(
        F.col("id").alias("doc_id"), F.col("id").alias("v")
    ).write.parquet(path)

    with _pt.raises(ValueError, match="not in table columns"):
        upsert_rows(
            spark, path,
            spark.createDataFrame([(1, 1)], "doc_id long, v long"), "nope",
        )
    with _pt.raises(ValueError, match="columns must equal"):
        upsert_rows(
            spark, path,
            spark.createDataFrame([(1,)], "doc_id long"), "doc_id",
        )
    with _pt.raises(ValueError, match="duplicate id"):
        upsert_rows(
            spark, path,
            spark.createDataFrame(
                [(1, 1), (1, 2)], "doc_id long, v long"
            ),
            "doc_id",
        )
    with _pt.raises(Exception, match="NULL id"):
        upsert_rows(
            spark, path,
            spark.createDataFrame([(None, 1)], "doc_id long, v long"),
            "doc_id",
        )

    # an EMPTY batch is a true no-op: zero stats, and no empty junk
    # part file lands in the table (the CDC all-stale replay case)
    import os

    files_before = sorted(
        f for _d, _dn, fs in os.walk(path) for f in fs
        if f.endswith(".parquet")
    )
    stats = upsert_rows(
        spark, path,
        spark.createDataFrame([], "doc_id long, v long"), "doc_id",
    )
    assert stats == {
        "rows_replaced": 0,
        "rows_inserted": 0,
        "files_rewritten": 0,
        "removed_files": [],
        "added_files": [],
    }
    files_after = sorted(
        f for _d, _dn, fs in os.walk(path) for f in fs
        if f.endswith(".parquet")
    )
    assert files_before == files_after

    # remote-URI scope guard: purge/upsert move part files with
    # os/shutil — a non-local scheme must raise, not silently strand
    # rows in the .tmp dir
    with _pt.raises(ValueError, match="local-filesystem scoped"):
        upsert_rows(
            spark, "hdfs://nn/tbl",
            spark.createDataFrame([(1, 1)], "doc_id long, v long"),
            "doc_id",
        )


def test_upsert_and_purge_round_trip_an_escaped_partition_column(spark, tmp_path):
    """A partition column whose name the writer escapes (``p:m`` lands
    in ``p%3Am=...`` directories): a pure insert, a replacing upsert
    and a purge all keep the rows partitioned by the column's own name."""
    import os

    from web_api_postgres_etl_spark.operators.layout import purge_rows, upsert_rows

    schema = "doc_id long, `p:m` string, v long"
    path = str(tmp_path / "esc")
    spark.createDataFrame(
        [(i, "a" if i < 5 else "b", i) for i in range(10)], schema
    ).write.partitionBy("p:m").parquet(path)
    assert {d for d in os.listdir(path) if "=" in d} == {"p%3Am=a", "p%3Am=b"}

    def rows():
        return sorted(tuple(r) for r in spark.read.parquet(path)
                      .select("doc_id", "p:m", "v").collect())

    want = [(i, "a" if i < 5 else "b", i) for i in range(10)]
    # pure insert: no affected file, the layout comes from any data file
    upsert_rows(spark, path, spark.createDataFrame([(20, "a", 20)], schema), "doc_id")
    want.append((20, "a", 20))
    assert rows() == sorted(want)
    # replacing upsert that moves a row across partitions
    stats = upsert_rows(
        spark, path, spark.createDataFrame([(2, "b", 200)], schema), "doc_id"
    )
    assert stats["rows_replaced"] == 1
    want = [r for r in want if r[0] != 2] + [(2, "b", 200)]
    assert rows() == sorted(want)
    # purge rewrites the affected files back into their partitions
    purge_rows(spark, path, spark.createDataFrame([(3,), (7,)], "doc_id long"), "doc_id")
    want = [r for r in want if r[0] not in (3, 7)]
    assert rows() == sorted(want)
    assert {d for d in os.listdir(path) if "=" in d} == {"p%3Am=a", "p%3Am=b"}
