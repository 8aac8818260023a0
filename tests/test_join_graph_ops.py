"""Edge-case tests for asof_join, salted_join, and connected components
(happy paths are covered by the oracle-parity suite)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from web_api_postgres_etl_spark.operators.graph import connected_components
from web_api_postgres_etl_spark.operators.joins import asof_join, salted_join


def _quotes(spark):
    return spark.createDataFrame(
        [
            ("A", 1, 10.0),
            ("A", 5, 11.0),
            ("A", 5, 99.0),   # same time as above — tiebreaker decides
            ("A", 9, 12.0),
            ("B", 4, 20.0),
        ],
        "sym string, t long, px double",
    ).withColumn("qid", F.monotonically_increasing_id())


def test_asof_backward_picks_latest_at_or_before(spark):
    trades = spark.createDataFrame(
        [(1, "A", 5), (2, "A", 8), (3, "A", 0), (4, "B", 3), (5, "C", 7)],
        "tid long, sym string, t long",
    )
    quotes = _quotes(spark).withColumnRenamed("t", "qt")
    out = asof_join(
        trades, quotes, on="sym", left_time="t", right_time="qt",
        left_id="tid", tiebreaker="px",
    )
    got = {r["tid"]: (r["qt"], r["px"]) for r in out.collect()}
    assert got[1] == (5, 11.0)   # tie at t=5 → smallest px wins (pinned)
    assert got[2] == (5, 11.0)   # latest ≤ 8 is t=5
    assert 3 not in got          # no quote ≤ 0 → dropped (inner)
    assert 4 not in got          # B's only quote is t=4 > 3
    assert 5 not in got          # no C quotes


def test_asof_forward_picks_earliest_at_or_after(spark):
    trades = spark.createDataFrame(
        [(1, "A", 6), (2, "A", 100)], "tid long, sym string, t long"
    )
    quotes = _quotes(spark).withColumnRenamed("t", "qt")
    out = asof_join(
        trades, quotes, on="sym", left_time="t", right_time="qt",
        left_id="tid", tiebreaker="px", direction="forward",
    )
    got = {r["tid"]: (r["qt"], r["px"]) for r in out.collect()}
    assert got[1] == (9, 12.0)
    assert 2 not in got          # nothing ≥ 100


def test_salted_join_matches_plain_join_including_left(spark):
    fact = spark.range(0, 1000).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("v")
    )
    dim = spark.createDataFrame(
        [(0, "x"), (1, "y"), (3, "z")], "k long, name string"
    )
    plain = fact.join(dim, "k").select("k", "v", "name")
    salted = salted_join(fact, dim, "k", "k", salt=4).select(
        fact["k"].alias("k"), "v", "name"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_connected_components_chain_and_singletons(spark):
    # chain 1-2-3-4 (diameter > 1 forces multiple iterations),
    # pair 10-11, singleton 20
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 20]], "id long")
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    out = {r["id"]: r["component"] for r in connected_components(nodes, edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20}


def _keyless_inputs(spark):
    left = spark.createDataFrame(
        [(1, 5), (2, 10), (3, 10), (4, 0), (5, 99)], "lid long, t long"
    )
    right = spark.createDataFrame(
        [(3, "a"), (10, "b"), (50, "c")], "rt long, tag string"
    )
    return left, right


def test_asof_keyless_backward_with_bucket_carry(spark):
    from web_api_postgres_etl_spark.operators.joins import asof_join_keyless

    left, right = _keyless_inputs(spark)
    # num_buckets > distinct times forces rows into different buckets,
    # so matches for t=99 (→ rt=50) must come from the prefix carry
    out = asof_join_keyless(left, right, "t", "rt", num_buckets=8)
    got = {r["lid"]: (r["rt"], r["tag"]) for r in out.collect()}
    assert got == {
        1: (3, "a"),
        2: (10, "b"),
        3: (10, "b"),
        5: (50, "c"),
        # lid=4 (t=0): nothing at-or-before → dropped (inner)
    }


def test_asof_keyless_discrete_fast_path(spark):
    """Day-granular right side takes the densify+broadcast fast path:
    no union-window merge in the plan, and results match the generic
    path on gaps, duplicate days, clamp-beyond-span, and
    drop-before-span."""
    from datetime import date, datetime

    from web_api_postgres_etl_spark.operators.joins import asof_join_keyless

    right = spark.createDataFrame(
        [
            (datetime(2020, 1, 1), 1),
            (datetime(2020, 1, 1), 2),  # duplicate day — struct max wins
            (datetime(2020, 1, 5), 3),  # 3-day gap before this row
        ],
        "d timestamp, v int",
    )
    left = spark.createDataFrame(
        [
            (1, datetime(2019, 12, 31, 9)),  # before span → dropped
            (2, datetime(2020, 1, 1, 0)),    # exact match day
            (3, datetime(2020, 1, 3, 23)),   # inside the gap
            (4, datetime(2020, 2, 1, 5)),    # beyond span → clamps to last
        ],
        "id int, t timestamp",
    )
    fast = asof_join_keyless(left, right, "t", "d")
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "__bucket" not in plan
    got = {r["id"]: (r["d"].date(), r["v"]) for r in fast.collect()}
    assert got == {
        2: (date(2020, 1, 1), 2),
        3: (date(2020, 1, 1), 2),
        4: (date(2020, 1, 5), 3),
    }
    generic = asof_join_keyless(left, right, "t", "d", discrete_max_days=0)
    assert fast.exceptAll(generic).count() == 0
    assert generic.exceptAll(fast).count() == 0


def test_asof_keyless_misaligned_timestamps_fall_back(spark):
    """A right side with intra-day times is NOT day-granular — the
    probe aggregate must route it to the generic bucketed merge (a
    densified-day join would change which row wins within a day)."""
    from datetime import datetime

    from web_api_postgres_etl_spark.operators.joins import asof_join_keyless

    right = spark.createDataFrame(
        [(datetime(2020, 1, 1, 9, 30), 1), (datetime(2020, 1, 1, 15, 0), 2)],
        "d timestamp, v int",
    )
    left = spark.createDataFrame(
        [(1, datetime(2020, 1, 1, 12, 0))], "id int, t timestamp"
    )
    out = asof_join_keyless(left, right, "t", "d")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "__bucket" in plan  # generic union-window merge
    got = {r["id"]: r["v"] for r in out.collect()}
    assert got == {1: 1}  # 09:30 row, not the 15:00 row a day-join would pick


def test_asof_keyless_empty_right_and_collision_guard(spark):
    import pytest

    from web_api_postgres_etl_spark.operators.joins import asof_join_keyless

    left, right = _keyless_inputs(spark)
    empty_right = right.filter(F.lit(False))
    assert asof_join_keyless(left, empty_right, "t", "rt").count() == 0
    with pytest.raises(ValueError, match="collision"):
        asof_join_keyless(left, right.withColumnRenamed("rt", "t"), "t", "t")


def test_flagship_broadcasts_only_fixed_size_dims(spark):
    """100 TB plan shape: with auto-broadcast off (emulating fact-sized
    orders/customer), only the hinted nation/region broadcast; the
    fact-side joins go through a shuffle join."""
    import __spark_entry__ as em

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # __wrapped__: bypass the entry layer's plan memo — this test
        # probes how the SAME logical query plans under flipped confs,
        # and a memoized Dataset bakes the physical plan of its first
        # materialization (it would also poison the memo for the
        # default-conf plan-shape guard in test_plan_shapes.py)
        df = em.q_flagship_star_join.__wrapped__(
            spark, "/root/testdata/sf0.001"
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("BroadcastExchange") == 2
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_fast_components_match_plain_on_long_chain(spark):
    from web_api_postgres_etl_spark.operators.graph import (
        connected_components,
        connected_components_fast,
    )

    # chain of 60 nodes (diameter 59) + pair + singleton: doubling must
    # resolve it in ~log2(59) rounds where plain propagation needs 59
    nodes = spark.createDataFrame(
        [(i,) for i in list(range(1, 61)) + [100, 101, 200]], "id long"
    )
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 60)] + [(100, 101)],
        "id_a long, id_b long",
    )
    fast = {
        r["id"]: r["component"]
        for r in connected_components_fast(nodes, edges, max_iter=8).collect()
    }
    plain = {
        r["id"]: r["component"]
        for r in connected_components(nodes, edges, max_iter=60).collect()
    }
    assert fast == plain
    assert fast[60] == 1 and fast[101] == 100 and fast[200] == 200


def test_fast_components_raise_when_unconverged(spark):
    from web_api_postgres_etl_spark.operators.graph import (
        connected_components_fast,
    )

    nodes = spark.createDataFrame([(i,) for i in range(1, 40)], "id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 39)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components_fast(nodes, edges, max_iter=2)


def test_asof_keyless_empty_left(spark):
    from web_api_postgres_etl_spark.operators.joins import asof_join_keyless

    left, right = _keyless_inputs(spark)
    out = asof_join_keyless(left.filter(F.lit(False)), right, "t", "rt")
    assert out.count() == 0
    assert set(out.columns) == {"lid", "t", "rt", "tag"}


def test_components_converge_at_diameter_equal_max_iter(spark):
    """Diameter == max_iter must converge (the stability check needs
    one extra quiet round, which both variants now allow)."""
    from web_api_postgres_etl_spark.operators.graph import (
        connected_components,
        connected_components_fast,
    )

    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3]], "id long")
    edges = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    out = {r["id"]: r["component"]
           for r in connected_components(nodes, edges, max_iter=2).collect()}
    assert out == {1: 1, 2: 1, 3: 1}
    n5 = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 5]], "id long")
    e5 = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 5)], "id_a long, id_b long"
    )
    fast = {r["id"]: r["component"]
            for r in connected_components_fast(n5, e5, max_iter=2).collect()}
    assert fast == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}



def test_fast_components_label_only_edge_endpoints(spark):
    """The doubling loop's label table holds one row per distinct edge
    endpoint, not one per node; nodes in no edge still come back,
    labeled with themselves."""
    from web_api_postgres_etl_spark.operators.graph import (
        connected_components_fast,
    )

    nodes = spark.createDataFrame([(i,) for i in range(1, 11)], "id long")
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 2), (8, 7)], "id_a long, id_b long"
    )
    pins: list = []
    got = {
        r["id"]: r["component"]
        for r in connected_components_fast(nodes, edges, pins=pins).collect()
    }
    assert pins[-1].count() == 5  # endpoints 1, 2, 3, 7, 8
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 6, 7: 7, 8: 7, 9: 9, 10: 10}


def test_fast_components_without_edges_label_every_node_itself(spark):
    from web_api_postgres_etl_spark.operators.graph import (
        connected_components_fast,
    )

    nodes = spark.createDataFrame([(i,) for i in [3, 1, 2]], "id long")
    edges = spark.createDataFrame([], "id_a long, id_b long")
    pins: list = []
    got = sorted(
        tuple(r) for r in connected_components_fast(nodes, edges, pins=pins).collect()
    )
    assert got == [(1, 1), (2, 2), (3, 3)]
    assert pins[-1].count() == 0


def test_fast_components_rows_are_the_nodes_rows(spark):
    """An edge endpoint that is not a node still connects its component
    but gets no row: the result has one row per ``nodes`` row."""
    from web_api_postgres_etl_spark.operators.graph import (
        connected_components_fast,
    )

    nodes = spark.createDataFrame([(3,), (1,), (5,)], "id long")
    edges = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    got = sorted(tuple(r) for r in connected_components_fast(nodes, edges).collect())
    assert got == [(1, 1), (3, 1), (5, 5)]


def test_fast_components_convergence_check_is_one_job(spark):
    """The doubling loop's per-round convergence check submits exactly
    one Spark job over a one-partition label checkpoint, whether or not
    a label moved. The labels come out of a shuffle, as each round's
    do: AQE coalesces the tiny exchange to one partition."""
    from web_api_postgres_etl_spark.operators.graph import _moved

    sc = spark.sparkContext
    for moved in (True, False):
        labels = (
            spark.createDataFrame(
                [(1, 1, False), (2, 1, moved)],
                "id long, component long, __moved boolean",
            )
            .groupBy("id")
            .agg(F.min("component").alias("component"),
                 F.max("__moved").alias("__moved"))
            .localCheckpoint(eager=True)
        )
        assert labels.rdd.getNumPartitions() == 1
        group = f"convergence-check-{moved}"
        sc.setJobGroup(group, group)
        try:
            got = _moved(labels)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert got is moved
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_salted_join_accepts_spark_spellings(spark):
    from web_api_postgres_etl_spark.operators.joins import salted_join

    fact = spark.range(0, 100).select((F.col("id") % 5).alias("k"))
    dim = spark.createDataFrame([(0,), (1,)], "k long")
    got = salted_join(fact, dim, "k", "k", salt=4, how="leftsemi")
    assert got.count() == fact.join(dim, "k", "left_semi").count()


def test_asof_join_tolerance_bounds_staleness(spark):
    """tolerance (merge_asof parity): a match older than the bound is
    rejected — the left row DROPS rather than pairing with stale
    state. Interval form for dates, numeric form for numeric times."""
    from pyspark.sql import functions as F

    from web_api_postgres_etl_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, 100, "2024-03-10"), (2, 100, "2024-03-20")],
        "eid long, k long, lt string",
    ).select("eid", "k", F.to_date("lt").alias("lt"))
    right = spark.createDataFrame(
        [(100, "2024-03-09", "fresh"), (100, "2024-03-01", "stale")],
        "k long, rt string, tag string",
    ).select("k", F.to_date("rt").alias("rt"), "tag")

    no_tol = asof_join(
        left, right, on="k", left_time="lt", right_time="rt", left_id="eid"
    )
    assert {(r["eid"], r["tag"]) for r in no_tol.collect()} == {
        (1, "fresh"), (2, "fresh"),
    }
    tol = asof_join(
        left, right, on="k", left_time="lt", right_time="rt",
        left_id="eid", tolerance=F.expr("INTERVAL 5 DAYS"),
    )
    # eid 2's nearest match (03-09) is 11 days old -> dropped entirely
    assert {(r["eid"], r["tag"]) for r in tol.collect()} == {(1, "fresh")}

    nleft = spark.createDataFrame([(1, 7, 50)], "eid long, k long, lt long")
    nright = spark.createDataFrame(
        [(7, 10, "old"), (7, 47, "recent")], "k long, rt long, tag string"
    )
    out = asof_join(
        nleft, nright, on="k", left_time="lt", right_time="rt",
        left_id="eid", tolerance=5,
    )
    assert [(r["eid"], r["tag"]) for r in out.collect()] == [(1, "recent")]
    none = asof_join(
        nleft, nright, on="k", left_time="lt", right_time="rt",
        left_id="eid", tolerance=2,
    )
    assert none.count() == 0

    fwd = asof_join(
        nleft, nright.withColumn("rt", F.col("rt") + 10),
        on="k", left_time="lt", right_time="rt", left_id="eid",
        direction="forward", tolerance=8,
    )
    assert [(r["tag"]) for r in fwd.collect()] == ["recent"]  # 57 <= 50+8


# ------------------------------------------------- join cardinality
def test_join_cardinality_profile_exact(spark, oracle):
    """est_join_rows equals the REAL inner-join row count on orders ×
    lineitem (the canonical 1:N), and the hot-key list matches a
    DuckDB mirror bit-for-bit."""
    from web_api_postgres_etl_spark.operators.joins import (
        join_cardinality_profile,
    )

    orders = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    summary, hot = join_cardinality_profile(
        orders.withColumnRenamed("o_orderkey", "k"),
        li.withColumnRenamed("l_orderkey", "k"),
        ["k"],
        top_k=5,
    )
    s = summary.first()
    true_join = orders.join(
        li, orders.o_orderkey == li.l_orderkey, "inner"
    ).count()
    assert s.est_join_rows == true_join
    assert s.rows_left == orders.count() and s.rows_right == li.count()
    assert s.keys_matched <= min(s.keys_left, s.keys_right)
    got_hot = [(r.k, r.join_rows, r.n_left, r.n_right) for r in hot.collect()]
    want_hot = [
        tuple(r)
        for r in oracle.execute(
            """
            WITH lc AS (SELECT o_orderkey AS k, count(*) AS nl FROM orders GROUP BY 1),
                 rc AS (SELECT l_orderkey AS k, count(*) AS nr FROM lineitem GROUP BY 1)
            SELECT lc.k, nl * nr AS join_rows, nl, nr
            FROM lc JOIN rc USING (k)
            ORDER BY join_rows DESC, k ASC LIMIT 5
            """
        ).fetchall()
    ]
    assert got_hot == want_hot


def test_join_cardinality_profile_null_and_disjoint(spark):
    """NULL keys count as unmatched on their side; disjoint keys give
    est 0; a many-to-many explodes visibly."""
    import pytest

    from web_api_postgres_etl_spark.operators.joins import (
        join_cardinality_profile,
    )

    l = spark.createDataFrame([(1,), (1,), (None,)], "k long")
    r = spark.createDataFrame([(1,), (1,), (1,), (2,)], "k long")
    s = join_cardinality_profile(l, r, ["k"])[0].first()
    assert (s.rows_left, s.rows_right) == (3, 4)
    assert (s.keys_left, s.keys_right, s.keys_matched) == (2, 2, 1)
    assert s.est_join_rows == 2 * 3  # the m:n fan-out, visible upfront
    assert (s.rows_left_matched, s.rows_right_matched) == (2, 3)
    with pytest.raises(ValueError, match="needs join keys"):
        join_cardinality_profile(l, r, [])


def test_join_cardinality_profile_empty_inputs(spark):
    """Advice regression: SUM over zero rows is NULL — an empty profile
    must report zeros (callers do int(est)), never None."""
    from web_api_postgres_etl_spark.operators.joins import (
        join_cardinality_profile,
    )

    empty = spark.createDataFrame([], "k long")
    s, hot = join_cardinality_profile(empty, empty, ["k"])
    row = s.first()
    assert (row.rows_left, row.rows_right) == (0, 0)
    assert (row.rows_left_matched, row.rows_right_matched) == (0, 0)
    assert int(row.est_join_rows) == 0
    assert hot.count() == 0


# ------------------------------------------------------ triangle counts
def test_triangle_counts_planted_and_canonicalization(spark):
    """K4 (4 triangles; each node in 3) + a pendant + an isolate, fed
    through every canonicalization hazard at once: duplicate edges,
    reversed duplicates, self-loops, NULL endpoints."""
    from web_api_postgres_etl_spark.operators.graph import triangle_counts

    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    edges = spark.createDataFrame(
        k4
        + [(b, a) for a, b in k4]       # reversed duplicates
        + [(1, 2), (1, 2)]              # plain duplicates
        + [(3, 3)]                      # self-loop
        + [(None, 1), (2, None)]        # NULL endpoints
        + [(4, 5)],                     # pendant edge to node 5
        "id_a long, id_b long",
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, 7)], "id long")
    got = {r["id"]: r["n_triangles"] for r in triangle_counts(nodes, edges).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3, 5: 0, 6: 0}


def test_triangle_counts_matches_duckdb_mirror(spark, oracle):
    """Full bit-exact mirror on a dense synthetic graph derived from
    lineitem (the counts are deterministic integers; the mirror runs
    the SAME degree-ordered orientation)."""
    from web_api_postgres_etl_spark.operators.graph import triangle_counts

    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    edges = li.select(
        (F.col("l_partkey") % 50).alias("id_a"),
        (F.col("l_suppkey") + 50).alias("id_b"),
    ).union(
        li.select(
            (F.col("l_orderkey") % 80).alias("id_a"),
            (F.col("l_partkey") % 50).alias("id_b"),
        )
    )
    nodes = edges.select(F.col("id_a").alias("id")).union(
        edges.select("id_b")
    ).distinct()
    got = sorted(
        (r["id"], r["n_triangles"])
        for r in triangle_counts(nodes, edges).collect()
    )
    want = sorted(oracle.execute("""
        WITH raw AS (
          SELECT l_partkey % 50 AS a, l_suppkey + 50 AS b FROM lineitem
          UNION ALL
          SELECT l_orderkey % 80, l_partkey % 50 FROM lineitem),
        canon AS (
          SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
          FROM raw WHERE a <> b AND a IS NOT NULL AND b IS NOT NULL),
        nodes AS (SELECT DISTINCT x AS id FROM
                  (SELECT a AS x FROM raw UNION ALL SELECT b FROM raw)),
        deg AS (
          SELECT x AS id, COUNT(*) AS d FROM
            (SELECT u AS x FROM canon UNION ALL SELECT v FROM canon)
          GROUP BY 1),
        o AS (
          SELECT CASE WHEN (du.d, c.u) < (dv.d, c.v) THEN c.u ELSE c.v END AS s,
                 CASE WHEN (du.d, c.u) < (dv.d, c.v) THEN c.v ELSE c.u END AS t,
                 CASE WHEN (du.d, c.u) < (dv.d, c.v) THEN dv.d ELSE du.d END AS dt
          FROM canon c JOIN deg du ON du.id = c.u JOIN deg dv ON dv.id = c.v),
        wedges AS (
          SELECT e1.s, e1.t AS a, e2.t AS b
          FROM o e1 JOIN o e2 ON e1.s = e2.s
          WHERE (e1.dt, e1.t) < (e2.dt, e2.t)),
        tri AS (
          SELECT w.s, w.a, w.b FROM wedges w
          WHERE EXISTS (SELECT 1 FROM o WHERE o.s = w.a AND o.t = w.b)),
        per AS (
          SELECT x AS id, COUNT(*) AS n FROM
            (SELECT s AS x FROM tri UNION ALL SELECT a FROM tri
             UNION ALL SELECT b FROM tri)
          GROUP BY 1)
        SELECT n.id, CAST(COALESCE(per.n, 0) AS BIGINT)
        FROM nodes n LEFT JOIN per ON n.id = per.id
    """).fetchall())
    assert got == want
    assert sum(n for _, n in got) > 0  # the synthetic graph has triangles


# ------------------------------------------------------ bloom gate
def test_bloom_gate_no_false_negatives_and_guards(spark):
    from web_api_postgres_etl_spark.operators.joins import (
        bloom_build,
        bloom_filter_gate,
    )

    keys = spark.range(100).select((F.col("id") * 3).alias("k"))
    bloom = bloom_build(keys, "k", m_bits=1 << 14, k_hashes=5)
    fact = spark.range(1000).select(F.col("id").alias("k"))
    kept = {
        r["k"]
        for r in bloom_filter_gate(fact, bloom, "k", 1 << 14, 5).collect()
    }
    assert {i * 3 for i in range(100)} <= kept  # NEVER a false negative
    # fpp sanity at this density (5 hashes, 0.6% fill): a handful at most
    assert len(kept) - 100 < 50

    # NULL keys pass through (a bloom says nothing about NULL)
    withnull = spark.createDataFrame([(None,), (3,), (4,)], "k long")
    out = bloom_filter_gate(withnull, bloom, "k", 1 << 14, 5).collect()
    assert None in {r["k"] for r in out} and 3 in {r["k"] for r in out}

    import pytest as _pt
    with _pt.raises(ValueError, match="multiple of 64"):
        bloom_build(keys, "k", m_bits=100)
    with _pt.raises(ValueError, match="k_hashes"):
        bloom_filter_gate(fact, bloom, "k", 1 << 14, 0)
    bad = fact.withColumn("bits", F.lit(1))
    with _pt.raises(ValueError, match="collide"):
        bloom_filter_gate(bad, bloom, "k", 1 << 14, 5)
    # family mismatch must raise, never silently drop true matches:
    # positions computed mod a different m don't line up with the bits
    with _pt.raises(Exception, match="mismatched positions"):
        bloom_filter_gate(fact, bloom, "k", 1 << 20, 5).collect()
    with _pt.raises(Exception, match="mismatched positions"):
        bloom_filter_gate(fact, bloom, "k", 1 << 14, 4).collect()


def test_bloom_bits_and_survivors_match_duckdb_mirror(spark, oracle):
    """The bit array AND the gated survivor set are engine-reproducible:
    DuckDB rebuilds the identical bloom from the same md5 arithmetic
    and selects the identical survivors."""
    from web_api_postgres_etl_spark.operators.joins import (
        bloom_build,
        bloom_filter_gate,
    )

    M, K = 1 << 12, 4
    sup = spark.read.parquet("/root/testdata/sf0.01/supplier.parquet")
    keys = sup.filter(F.col("s_suppkey") <= 50).select(
        F.col("s_suppkey").alias("k")
    )
    bloom = bloom_build(keys, "k", m_bits=M, k_hashes=K)
    got_bits = list(bloom.first()["bits"])

    def pos(i: int, key: str = "CAST(k AS VARCHAR)") -> str:
        return (
            f"(CAST('0x' || substr(md5({key} || ':' || '{i}'), 1, 15) "
            f"AS BIGINT) % {M})"
        )

    poss = ", ".join(pos(i) for i in range(K))
    bits_sql = f"""
        WITH keys AS (SELECT s_suppkey AS k FROM supplier
                      WHERE s_suppkey <= 50 AND s_suppkey IS NOT NULL),
        p AS (SELECT unnest([{poss}]) AS p FROM keys),
        words AS (SELECT p // 64 AS w,
                         bit_or(CASE WHEN p % 64 = 63 THEN CAST(-9223372036854775808 AS BIGINT) ELSE CAST(1 AS BIGINT) << CAST(p % 64 AS INT) END) AS b
                  FROM p GROUP BY 1),
        grid AS (SELECT unnest(range(0, {M // 64})) AS w)
        SELECT COALESCE(b, 0) AS b FROM grid LEFT JOIN words USING (w)
        ORDER BY grid.w
    """
    want_bits = [r[0] for r in oracle.execute(bits_sql).fetchall()]
    assert got_bits == want_bits

    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_suppkey"
    )
    got = sorted(
        (r["l_orderkey"], r["l_linenumber"])
        for r in bloom_filter_gate(li, bloom, "l_suppkey", M, K).collect()
    )
    kpos = ", ".join(pos(i, "CAST(l_suppkey AS VARCHAR)") for i in range(K))
    want = sorted(oracle.execute(f"""
        WITH keys AS (SELECT s_suppkey AS k FROM supplier
                      WHERE s_suppkey <= 50 AND s_suppkey IS NOT NULL),
        p AS (SELECT unnest([{poss}]) AS p FROM keys),
        words AS (SELECT p // 64 AS w,
                         bit_or(CASE WHEN p % 64 = 63 THEN CAST(-9223372036854775808 AS BIGINT) ELSE CAST(1 AS BIGINT) << CAST(p % 64 AS INT) END) AS b
                  FROM p GROUP BY 1),
        grid AS (SELECT unnest(range(0, {M // 64})) AS w),
        bits AS (SELECT list(COALESCE(b, 0) ORDER BY grid.w) AS bl
                 FROM grid LEFT JOIN words USING (w))
        SELECT l_orderkey, l_linenumber
        FROM lineitem, bits
        WHERE l_suppkey IS NULL OR (
          {" AND ".join(
              f"(list_extract(bl, CAST({pos(i, 'CAST(l_suppkey AS VARCHAR)')} // 64 AS INT) + 1) "
              f"& (CASE WHEN {pos(i, 'CAST(l_suppkey AS VARCHAR)')} % 64 = 63 "
              f"THEN CAST(-9223372036854775808 AS BIGINT) "
              f"ELSE CAST(1 AS BIGINT) << CAST({pos(i, 'CAST(l_suppkey AS VARCHAR)')} % 64 AS INT) END)) <> 0"
              for i in range(K))}
        )
    """).fetchall())
    assert got == want
    # and the gate keeps every TRUE match (subset relation, exact)
    true_rows = li.join(
        keys.withColumnRenamed("k", "l_suppkey"), on="l_suppkey", how="left_semi"
    ).count()
    assert true_rows <= len(got)


def test_bloom_gate_never_shuffles_the_fact(spark):
    """The gate's plan over a pre-built bloom is scan → broadcast
    nested-loop (1 row) → filter: ZERO exchanges — the whole point of
    a pre-shuffle pruning gate."""
    import re as _re

    from web_api_postgres_etl_spark.operators.joins import (
        bloom_build,
        bloom_filter_gate,
    )

    keys = spark.range(50).select((F.col("id") * 7).alias("k"))
    row = bloom_build(keys, "k", m_bits=1 << 12, k_hashes=4).first()
    bloom = spark.createDataFrame(
        [(list(row["bits"]), row["m_bits"], row["k_hashes"])],
        "bits array<long>, m_bits int, k_hashes int",
    )
    fact = spark.read.parquet(
        "/root/testdata/sf0.001/lineitem.parquet"
    ).select("l_orderkey", "l_suppkey")
    gated = bloom_filter_gate(fact, bloom, "l_suppkey", 1 << 12, 4)
    gated.collect()
    plan = gated._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert not _re.search(r"\bExchange\b", plan), plan
    assert plan.count("BroadcastNestedLoopJoin") == 1


# ------------------------------------------------------ k-core peeling
def _py_kcore(node_ids, edge_pairs, k):
    """Literal peeling model: drop every node under degree k, repeat."""
    adj: dict = {n: set() for n in node_ids}
    for a, b in edge_pairs:
        if a is None or b is None or a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    alive = set(node_ids)
    while True:
        drop = {n for n in alive if len(adj.get(n, set()) & alive) < k}
        if not drop:
            break
        alive -= drop
    return {n: len(adj.get(n, set()) & alive) for n in alive}


def test_k_core_planted_and_python_model(spark):
    """K4 + a pendant chain + an isolate through every canonicalization
    hazard (duplicates, reversed direction, self-loop), then random
    multigraphs vs the literal peeling model."""
    import random

    from web_api_postgres_etl_spark.operators.graph import k_core

    # K4 on 1-4, chain 4-5-6 (pendant), isolate 7
    raw = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
           (4, 5), (5, 6),
           (2, 1),          # reversed duplicate
           (3, 3),          # self-loop
           (1, 2)]          # duplicate
    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "id long")
    edges = spark.createDataFrame(raw, "id_a long, id_b long")

    got2 = {r["id"]: r["core_degree"]
            for r in k_core(nodes, edges, 2).collect()}
    assert got2 == {1: 3, 2: 3, 3: 3, 4: 3}   # chain + isolate peel
    got3 = {r["id"]: r["core_degree"]
            for r in k_core(nodes, edges, 3).collect()}
    assert got3 == {1: 3, 2: 3, 3: 3, 4: 3}
    assert k_core(nodes, edges, 4).count() == 0
    got0 = {r["id"]: r["core_degree"]
            for r in k_core(nodes, edges, 0).collect()}
    assert got0[7] == 0 and got0[5] == 2 and len(got0) == 7

    # random graphs vs the model (seeded — deterministic suite)
    rng = random.Random(73)
    # two trials x two k values: each cell is a full iterative run (a
    # multi-job loop), and four cells already cover the peel/converge/
    # empty-core behaviors the planted graph above doesn't
    for trial in range(2):
        n = 40
        pairs = [(rng.randrange(n), rng.randrange(n)) for _ in range(120)]
        nd = spark.createDataFrame([(i,) for i in range(n)], "id long")
        ed = spark.createDataFrame(pairs, "id_a long, id_b long")
        for k in (1, 3):
            got = {r["id"]: r["core_degree"]
                   for r in k_core(nd, ed, k).collect()}
            want = {i: d for i, d in
                    _py_kcore(range(n), pairs, k).items() if d >= k or k == 0}
            assert got == want, (trial, k)


def test_k_core_guards_and_convergence(spark):
    import pytest as _pt

    from web_api_postgres_etl_spark.operators.graph import k_core

    nodes = spark.createDataFrame([(i,) for i in range(1, 7)], "id long")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "id_a long, id_b long"
    )
    with _pt.raises(ValueError, match="k must be"):
        k_core(nodes, chain, -1)
    with _pt.raises(ValueError, match="max_iter"):
        k_core(nodes, chain, 2, max_iter=0)
    # a 6-chain at k=2 peels two ends per round — needs 3 rounds
    with _pt.raises(RuntimeError, match="did not converge"):
        k_core(nodes, chain, 2, max_iter=1)
    assert k_core(nodes, chain, 2, max_iter=5).count() == 0


# ------------------------------------------------- canonical selection
def test_select_canonical_scores_ties_and_null_fallback(spark):
    from web_api_postgres_etl_spark.operators.graph import select_canonical

    docs = spark.createDataFrame(
        [(1, 0.4), (2, 0.9), (3, 0.9), (4, None), (5, None), (6, 0.1)],
        "doc_id long, score double",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "id_a long, id_b long"
    )
    rows = {r["doc_id"]: (r["cluster"], r["is_canonical"])
            for r in select_canonical(docs, pairs, "doc_id", "score").collect()}
    # cluster {1,2,3}: 2 and 3 tie at 0.9 → min id 2 wins over 3; 1 loses
    assert rows[2] == (1, True) and rows[3] == (1, False)
    assert rows[1] == (1, False)
    # all-NULL cluster {4,5}: falls back to min id (dedup_clusters rule)
    assert rows[4] == (4, True) and rows[5] == (4, False)
    # singleton is its own canonical
    assert rows[6] == (6, True)


def test_k_core_foreign_endpoints_do_not_inflate_degrees(spark):
    """An edge endpoint absent from the node table must not prop up
    its neighbor's degree even transiently: nodes {1,2} with edges
    (1,2) and (1,99) have NO 2-core — node 1's true degree is 1. (The
    one-round-early convergence hazard this pins: inflated round-0
    degrees + an unchanged survivor count.)"""
    from web_api_postgres_etl_spark.operators.graph import k_core

    nodes = spark.createDataFrame([(1,), (2,)], "id long")
    edges = spark.createDataFrame([(1, 2), (1, 99)], "id_a long, id_b long")
    assert k_core(nodes, edges, 2).count() == 0
    got = {r["id"]: r["core_degree"] for r in k_core(nodes, edges, 1).collect()}
    assert got == {1: 1, 2: 1}  # the foreign edge contributes nothing


def test_merge_components_planted_semantics(spark):
    """One batch folds into persisted labels: a NEW-node bridge merges
    two old clusters, an untouched cluster keeps its label verbatim, a
    new isolated node becomes a singleton, an already-labeled 'new'
    node is not relabeled, and foreign/NULL pair endpoints are
    dropped."""
    from web_api_postgres_etl_spark.operators.graph import (
        connected_components_fast,
        merge_components,
    )

    # old graph: {1,2} and {5,6} and untouched {10,11}
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 5, 6, 10, 11]], ["id"])
    edges = spark.createDataFrame([(1, 2), (5, 6), (10, 11)], ["id_a", "id_b"])
    labels = connected_components_fast(nodes, edges)
    assert {tuple(r) for r in labels.collect()} == {
        (1, 1), (2, 1), (5, 5), (6, 5), (10, 10), (11, 10),
    }

    # batch: new node 3 bridges clusters 1 and 5; new isolated node 20;
    # node 11 re-announced but untouched; pair with a foreign endpoint
    # (99 not in the universe) and a NULL endpoint — both dropped
    new_nodes = spark.createDataFrame([(3,), (20,), (11,)], ["id"])
    new_pairs = spark.createDataFrame(
        [(3, 2), (3, 6), (99, 1), (None, 5)],
        "id_a long, id_b long",
    )
    merged = merge_components(labels, new_nodes, new_pairs)
    assert {tuple(r) for r in merged.collect()} == {
        (1, 1), (2, 1), (3, 1), (5, 1), (6, 1),
        (10, 10), (11, 10), (20, 20),
    }


def test_merge_components_min_id_relabel_and_chained_batches(spark):
    """A new node with a SMALLER id than an old cluster's label pulls
    the whole cluster down to it (labels stay min-member-id), and three
    chained merge batches end bit-identical to a one-shot run over the
    full edge log."""
    import random

    from web_api_postgres_etl_spark.operators.graph import (
        connected_components_fast,
        merge_components,
    )

    # min-id relabel: cluster {7,8} joined by new node 0
    labels = connected_components_fast(
        spark.createDataFrame([(7,), (8,)], ["id"]),
        spark.createDataFrame([(7, 8)], ["id_a", "id_b"]),
    )
    merged = merge_components(
        labels,
        spark.createDataFrame([(0,)], ["id"]),
        spark.createDataFrame([(0, 8)], ["id_a", "id_b"]),
    )
    assert {tuple(r) for r in merged.collect()} == {(0, 0), (7, 0), (8, 0)}

    # chained batches ≡ one-shot on ONE random graph (r11 trim: the
    # cc_incremental_merge driver row now hash-pins chained ≡ one-shot
    # on the real corpus incl. a replayed batch, so the second random
    # trial pinned the same property twice; the planted cases above
    # pin the semantics, this pins random-structure equivalence)
    rng = random.Random(7)
    for _ in range(1):
        n = 40
        all_edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(45)
        ]
        cuts = sorted(rng.sample(range(1, len(all_edges)), 2))
        batches = [
            all_edges[: cuts[0]],
            all_edges[cuts[0] : cuts[1]],
            all_edges[cuts[1] :],
        ]
        # node universe grows with the batches: a node enters when it
        # first appears in an edge
        seen: set = set()
        labels = None
        for batch in batches:
            ids = sorted({x for e in batch for x in e})
            nodes_df = spark.createDataFrame([(i,) for i in ids], ["id"])
            pairs_df = spark.createDataFrame(
                batch, "id_a long, id_b long"
            )
            if labels is None:
                labels = connected_components_fast(nodes_df, pairs_df)
            else:
                labels = merge_components(labels, nodes_df, pairs_df)
            seen |= set(ids)
        one_shot = connected_components_fast(
            spark.createDataFrame([(i,) for i in sorted(seen)], ["id"]),
            spark.createDataFrame(all_edges, "id_a long, id_b long"),
        )
        assert sorted(tuple(r) for r in labels.collect()) == sorted(
            tuple(r) for r in one_shot.collect()
        )


# ----------------------------------------------------- label propagation


def _py_lpa(node_ids, edge_list, rounds):
    """Reference synchronous LPA: votes on the previous round's labels,
    ties to the smallest label, isolated nodes keep their own —
    mirrors the operator's simple-graph symmetrize+distinct rule."""
    sym = set()
    for a, b in edge_list:
        sym.add((a, b))
        sym.add((b, a))
    labels = {v: v for v in node_ids}
    for _ in range(rounds):
        votes: dict = {}
        for src, dst in sym:
            lab = labels[src]
            votes.setdefault(dst, {}).setdefault(lab, 0)
            votes[dst][lab] += 1
        labels = {
            v: (
                min(
                    votes[v].items(), key=lambda kv: (-kv[1], kv[0])
                )[0]
                if v in votes
                else labels[v]
            )
            for v in node_ids
        }
    return labels


def test_label_propagation_separates_bridged_cliques(spark):
    """The capability CC cannot provide: two 4-cliques joined by ONE
    bridge edge stay two communities (a single bridge vote never beats
    in-clique majorities) while connected_components merges them; the
    operator matches the Python model round-for-round, isolated nodes
    keep their own label, and rounds=0 is the identity labeling."""
    import pytest as _pt

    from web_api_postgres_etl_spark.operators.graph import (
        connected_components_fast,
        label_propagation,
    )

    a = [1, 2, 3, 4]
    b = [10, 11, 12, 13]
    edges = (
        [(x, y) for i, x in enumerate(a) for y in a[i + 1:]]
        + [(x, y) for i, x in enumerate(b) for y in b[i + 1:]]
        + [(4, 10)]          # the bridge
    )
    ids = a + b + [99]       # 99 isolated
    nodes = spark.createDataFrame([(i,) for i in ids], ["id"])
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")

    got = {
        r["id"]: r["community"]
        for r in label_propagation(nodes, pairs, rounds=4).collect()
    }
    assert got == _py_lpa(ids, edges, 4)
    assert len({got[v] for v in a}) == 1
    assert len({got[v] for v in b}) == 1
    assert got[1] != got[10], "bridge must not merge the communities"
    assert got[99] == 99

    cc = {
        r["id"]: r["component"]
        for r in connected_components_fast(nodes, pairs).collect()
    }
    assert cc[1] == cc[10], "CC merges them — the contrast LPA exists for"

    ident = {
        r["id"]: r["community"]
        for r in label_propagation(nodes, pairs, rounds=0).collect()
    }
    assert ident == {i: i for i in ids}
    with _pt.raises(ValueError, match="rounds"):
        label_propagation(nodes, pairs, rounds=-1)


def test_label_propagation_random_graph_model_and_determinism(spark):
    """Seeded random graph: the operator equals the Python model at
    several horizons (incl. an oscillation-prone structure — fixed
    synchronous rounds are the SEMANTICS), and the result is identical
    under repartitioning (exact integer votes + total tie order)."""
    import random

    from web_api_postgres_etl_spark.operators.graph import (
        label_propagation,
    )

    rng = random.Random(11)
    n = 60
    ids = list(range(n))
    edges = list({
        tuple(sorted((rng.randrange(n), rng.randrange(n))))
        for _ in range(110)
    })
    nodes = spark.createDataFrame([(i,) for i in ids], ["id"])
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    for rounds in (1, 3, 5):
        got = {
            r["id"]: r["community"]
            for r in label_propagation(nodes, pairs, rounds=rounds).collect()
        }
        assert got == _py_lpa(ids, edges, rounds), f"rounds={rounds}"
    shuffled = {
        r["id"]: r["community"]
        for r in label_propagation(
            nodes.repartition(13), pairs.repartition(7), rounds=3
        ).collect()
    }
    assert shuffled == _py_lpa(ids, edges, 3)


def test_label_propagation_weighted_votes(spark):
    """Weighted LPA: one heavy edge outvotes several unit edges — node
    5's three unit-weight neighbors say '1' but the weight-10 edge to
    node 9 wins; the unweighted run flips it. Float weights raise (the
    engine-exact argmax contract); unweighted ≡ weight-1 bit-for-bit."""
    import pytest as _pt

    from web_api_postgres_etl_spark.operators.graph import (
        label_propagation,
    )

    ids = [1, 2, 3, 5, 9]
    nodes = spark.createDataFrame([(i,) for i in ids], ["id"])
    # 5 touches units 1,2,3 and one heavy edge to 9
    weighted = spark.createDataFrame(
        [(1, 5, 1), (2, 5, 1), (3, 5, 1), (5, 9, 10)],
        "id_a long, id_b long, w long",
    )
    got_w = {
        r["id"]: r["community"]
        for r in label_propagation(
            nodes, weighted, rounds=1, weight="w"
        ).collect()
    }
    assert got_w[5] == 9          # 10 votes for label 9 beat 3×1 for min 1
    got_u = {
        r["id"]: r["community"]
        for r in label_propagation(nodes, weighted, rounds=1).collect()
    }
    assert got_u[5] == 1          # unweighted: ties at 1 vote → min label

    ones = weighted.withColumn("w", F.lit(1).cast("long"))
    same = {
        r["id"]: r["community"]
        for r in label_propagation(nodes, ones, rounds=3, weight="w").collect()
    }
    base = {
        r["id"]: r["community"]
        for r in label_propagation(nodes, ones, rounds=3).collect()
    }
    assert same == base

    floats = weighted.withColumn("w", F.col("w").cast("double"))
    with _pt.raises(ValueError, match="exact integer"):
        label_propagation(nodes, floats, rounds=1, weight="w")
