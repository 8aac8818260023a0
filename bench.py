#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
{"metric": "...", "value": <total_sec>, "unit": "sec",
 "queries": {name: sec, ...}, "sf": <sf>}

Each query is forced end-to-end with a count()-style action (results
are not collected to the driver — we measure engine throughput, not
IPC). A warmup pass on sf0.001 triggers JVM/codegen warmup so the
timed numbers reflect steady-state execution.
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from web_api_postgres_etl_spark.session import get_spark

class _TaskTimeProbe:
    """Per-query executor task time (ms) from the app status store.

    r15 (r14 verdict #2): at sf0.1 the bench is overhead-bound, so
    wall time barely moves with core count and the driver's scaling
    probe false-flagged `suspect_cpus_ignored`. Executor task time —
    the sum of completed stages' executorRunTime between two snapshots
    — is the denominator that makes core-scaling diagnosable: if task
    time >> wall the query parallelizes; if task time ≈ wall it is
    serial or overhead-bound. Snapshots are taken OUTSIDE the timed
    window, so the wall numbers are untouched. Each COMPLETE stage is
    counted once, by id: a stage the listener bus marks complete only
    after a higher-id stage is still counted (on the next call). The
    walk early-stops below the lowest stage id still running at the
    last call (the store lists stages in descending id order), keeping
    py4j cost bounded by new stages. Best-effort: any internals change
    degrades exec_ms to None, never breaks the bench.
    """

    def __init__(self, spark) -> None:
        self._ok = True
        self._counted: set[int] = set()
        self._fence = 0  # every stage below it is counted or never completes
        try:
            sc = spark.sparkContext
            self._store = sc._jsc.sc().statusStore()
            jvm = sc._jvm
            self._empty = jvm.java.util.ArrayList()
            self._quantiles = sc._gateway.new_array(jvm.double, 0)
        except Exception:
            self._ok = False

    def delta_ms(self) -> int | None:
        """Task ms of stages newly completed since the last call."""
        if not self._ok:
            return None
        try:
            stages = self._store.stageList(
                self._empty, False, False, self._quantiles, self._empty
            )
            total, top, running = 0, self._fence - 1, []
            for i in range(stages.size()):
                s = stages.apply(i)
                sid = s.stageId()
                if sid < self._fence:
                    break
                top = max(top, sid)
                if sid in self._counted:
                    continue
                status = str(s.status())
                if status == "COMPLETE":
                    total += s.executorRunTime()
                    self._counted.add(sid)
                elif status in ("ACTIVE", "PENDING"):
                    running.append(sid)
            self._fence = min(running, default=top + 1)
            return int(total)
        except Exception:
            self._ok = False
            return None


HEADLINE = [
    "flagship_star_join",
    "agg_pricing_summary",
    "o2_dedup_last_wins",
    "p6_watermark_delta",
    "j2_two_way_join",
    "stg_transform",
    "dedup_exact",
    "text_stats",
    "lsh_cosine_pairs",
    "minhash_lsh_pairs",
    "ann_cosine_topk",
    "q3_topk_join_agg",
    "w1_window_analytics",
    "agg_rollup",
    "ann_ivf_topk",
    "near_dup_pipeline",
    "lsh_nn_join",
    "j7_asof_keyless",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="bench")
    # resolve the q_ functions directly: HEADLINE is methodology-frozen
    # (round-over-round comparable) while the driver's 50-slot contract
    # window rotates — a query swapped out of queries() keeps its
    # definition and stays benchmarked
    queries = {name: getattr(entrymod, f"q_{name}") for name in HEADLINE}

    # Warmup: run everything once at the smallest SF (codegen + class
    # loading), so timings measure execution, not JVM warmup.
    for name in HEADLINE:
        try:
            queries[name](spark, "/root/testdata/sf0.001").count()
        except Exception:
            pass

    # N full-suite passes (default 5, env-controlled via
    # SPARK_GRAFT_BENCH_REPEATS), per-query MIN across passes: the box
    # swings 9.3-12.2s day-to-day for identical code (noisy shared
    # host), so a single sample cannot detect a real 15% regression.
    # Default raised 3→5 in r14: two rounds running, the driver's
    # single min-of-3 invocation landed ~30% above same-session
    # settled readings (r12 15.145 vs 11.9; r13 15.27 vs 11.1) — the
    # raw "runs" arrays show spikes of 1.5-3x on individual passes
    # (minhash 2.43/3.90/2.38), which min-of-3 demonstrably fails to
    # absorb when the host stays busy across all three. Five passes
    # cost ~1 extra minute and give the min two more draws.
    # Full-suite passes (not back-to-back per-query reruns) keep each
    # sample representative of a cold-ish cache walk; the min is the
    # steady-state number (results identical per pass). Raw samples
    # are published under "runs" so round-over-round comparisons can
    # see the variance, not just the min.
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "5")))
    runs: dict[str, list[float]] = {name: [] for name in HEADLINE}
    exec_runs: dict[str, list[int | None]] = {name: [] for name in HEADLINE}
    probe = _TaskTimeProbe(spark)
    probe.delta_ms()  # reset baseline past the warmup's stages
    for _ in range(repeats):
        for name in HEADLINE:
            t0 = time.perf_counter()
            df = queries[name](spark, sf_dir)
            df.count()
            runs[name].append(round(time.perf_counter() - t0, 3))
            # outside the timed window: wall numbers are unaffected
            exec_runs[name].append(probe.delta_ms())
    timings = {name: min(samples) for name, samples in runs.items()}
    exec_ms = {
        name: (min(v) if v and all(x is not None for x in v) else None)
        for name, v in exec_runs.items()
    }

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline-suite wall time",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "runs": runs,
                # r15 (r14 verdict #2): repeats frozen at 5 — no further
                # methodology drift — and carried in the artifact so
                # round-over-round comparisons can see the min-of-N basis
                "repeats": repeats,
                # r15: per-query executor task time (ms, min across
                # passes; measured outside the timed window) — the
                # core-scaling denominator: task_ms >> wall means the
                # query parallelizes even when sf0.1 wall is
                # overhead-bound and barely moves with core count
                "exec_ms": exec_ms,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
