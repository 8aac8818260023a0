"""The benchmark's own tests (run from the repository root):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import glob
import os
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402
import workloads  # noqa: E402
from procs import stop_spark  # noqa: E402
from tracing import Tracer  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from web_api_postgres_etl_spark.session import get_spark

    local = tmp_path_factory.mktemp("spark-local")
    s = get_spark(app_name="perfbench-test", master="local[2]",
                  extra_conf={"spark.local.dir": str(local),
                              "spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()
    stop_spark()  # and its JVM, before pytest exits


def _query(spark, n):
    return spark.range(n).selectExpr("id % 7 AS k").groupBy("k").count()


def test_back_to_back_queries_get_their_own_jobs(spark):
    """Two shuffling queries run back to back: each operation is charged
    exactly its own jobs, stages and task time — none of the first
    query's late stages drift to the second."""
    t = Tracer(spark)
    for name, n in (("q1", 200_000), ("q2", 100_000)):
        with t.op(name):
            with t.span(f"{name}.plan"):
                df = _query(spark, n)
            with t.span(f"{name}.exec"):
                df.collect()
    tracker = spark.sparkContext.statusTracker()
    jobs = [set(tracker.getJobIdsForGroup(f"perfbench-op-{op}")) for op in (0, 1)]
    assert jobs[0] and jobs[1] and not jobs[0] & jobs[1]
    by = {s.name: s for s in t.spans}
    for q in ("q1", "q2"):
        assert by[f"{q}.plan"].jobs == 0
        assert by[f"{q}.exec"].jobs == len(jobs[int(q[1]) - 1])
        assert by[f"{q}.exec"].task_s > 0
        assert by[f"{q}.exec"].shuffle_bytes > 0
    # no stage belongs to both queries
    store = spark.sparkContext._jsc.sc().statusStore()

    def stages(job_ids):
        out = set()
        for j in job_ids:
            ids = store.job(j).stageIds()
            out.update(ids.apply(i) for i in range(ids.size()))
        return out

    assert not stages(jobs[0]) & stages(jobs[1])


def test_self_times_sum_to_the_operation_wall(spark):
    t = Tracer(spark)
    with t.op("outer"):
        with t.span("a"):
            with t.span("a.inner"):
                _query(spark, 1000).collect()
        with t.span("b"):
            _query(spark, 1000).collect()
    top = next(s for s in t.spans if s.parent is None)
    assert sum(t.self_times(op=top.op).values()) == pytest.approx(top.wall, abs=1e-9)


def test_generator_is_a_function_of_its_seed(tmp_path):
    p = gen.MabnaParams(history_rows_per_type=200, delta_rows_per_tick=10, ticks=2)
    a = gen.mabna(5, str(tmp_path / "a"), p)
    b = gen.mabna(5, str(tmp_path / "b"), p)
    c = gen.mabna(6, str(tmp_path / "c"), p)
    assert a.deltas == b.deltas
    assert a.deltas != c.deltas
    for name in a.flat:
        assert pq.read_table(tmp_path / "a" / f"{name}.parquet").equals(
            pq.read_table(tmp_path / "b" / f"{name}.parquet"))


def test_a_dropped_prd_row_makes_the_error_rate_positive(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("TMPDIR", str(tmp_path))  # json_records_to_df's landing files
    small = gen.MabnaParams(history_rows_per_type=300, delta_rows_per_tick=20, ticks=1)
    wl = workloads.EtlCycle(str(tmp_path), seed=3, params=small)
    tally = workloads.Tally()
    wl.warm_up(spark)  # its tick must not leak into the measured state
    wl.measure(spark, tally)
    assert wl.ticks_applied == small.ticks
    wl.check(spark, tally)
    assert tally.attempted > 0
    assert tally.failed == 0, tally.errors
    # drop one row from one prd data file
    files = sorted(glob.glob(f"{wl.warehouse}/prd_trades_share/*/*.parquet"))
    victim = next(f for f in files if pq.read_metadata(f).num_rows > 1)
    table = pq.read_table(victim)
    pq.write_table(table.slice(0, table.num_rows - 1), victim)
    crc = os.path.join(os.path.dirname(victim), f".{os.path.basename(victim)}.crc")
    if os.path.exists(crc):  # Hadoop's checksum of the old bytes
        os.remove(crc)
    wl.check(spark, tally)
    assert tally.failed > 0
    assert tally.failed / tally.attempted > 0
    assert any("prd_trades_share" in e for e in tally.errors)
