#!/usr/bin/env python3
"""Benchmark CLI — run from the repository root:

    python3 perfbench/run.py --workload etl_cycle --seed 1 --seconds 12 --trace 0

Builds the seeded inputs, starts one Spark session on local[<cores>],
runs a generic warm-up job and the workload's warm-up pass (set-up time
is session start plus both), measures the workload's fixed set of operations (workloads.py;
``--seconds`` is the nominal length of that set and does not cut it
short), checks its outputs, and prints as its LAST stdout line one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs the measurement traced and
reports the per-layer metrics, including the tracer's own time
(tracing overhead), and writes the spans to
``.perfbench_spans/<workload>-seed<seed>.jsonl``. Everything else the
run writes stays under ``.perfbench_work/`` in the current directory and
is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
# gated end-to-end metrics, medians per operation: wall (batch_s, op_s)
# and CPU seconds. The read set's times and the peak RSS spread too
# widely between runs on a shared host to be gated; they are printed on
# stderr and reported per layer.
END_TO_END = {"setup_s": "s", "batch_s": "s", "op_s": "s",
              "batch_cpu_s": "s", "op_cpu_s": "s"}


def _args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["etl_cycle", "curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = _args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "web_api_postgres_etl_spark")):
        print("perfbench: run from the repository root (package "
              "web_api_postgres_etl_spark not found)", file=sys.stderr)
        return 2
    sys.path[:0] = [root, HERE]
    from procs import adopt_orphans, end_descendants, stop_spark

    adopt_orphans()
    # a SIGTERM still runs the shutdown below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # every temp file (JSON landings, shuffle, JVM temp) stays in the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        return _run(args, work)
    finally:
        # end the JVM and every Python worker, and wait for each
        stop_spark()
        end_descendants()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run is using it
        except OSError:
            pass


def _run(args, work: str) -> int:
    import workloads
    from procs import peak_rss_mb, stop_spark

    t = time.perf_counter()
    wl = workloads.WORKLOADS[args.workload](work, args.seed)
    print(f"perfbench: inputs generated in {time.perf_counter() - t:.2f}s "
          "(not gated)", file=sys.stderr)

    from web_api_postgres_etl_spark.session import get_spark

    cores = os.cpu_count() or 1
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.local.dir": os.path.join(work, "tmp"),
            # no hsperfdata file under /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "3g",
            # keep every job and stage of an operation for attribution
            "spark.ui.retainedJobs": "10000",
            "spark.ui.retainedStages": "10000",
        },
    )
    try:
        _warm_up(spark, os.path.join(work, "warm"))
        wl.warm_up(spark)
        setup_s = time.perf_counter() - t0
        tally = workloads.Tally()
        if not args.trace:
            wl.measure(spark, tally)
            wl.check(spark, tally)
            values = {"setup_s": setup_s, **wl.end_to_end()}
            units = END_TO_END
            for kind, samples in wl.samples.items():  # every operation, for the reader
                print(f"perfbench: {wl.aliases.get(kind, kind)} walls "
                      f"{[round(x.wall, 3) for x in samples]}", file=sys.stderr)
            for k, v in wl.end_to_end().items():  # wall times too, for the reader
                kind, rest = k.split("_", 1)
                print(f"{args.workload:10s} {wl.aliases[kind] + '_' + rest:48s} {v:.6g} s",
                      file=sys.stderr)
            print(f"{args.workload:10s} {'peak_rss_mb':48s} {peak_rss_mb():.6g} MB",
                  file=sys.stderr)
        else:
            values, units = _traced(args, spark, wl, tally, cores)
    finally:
        spark.stop()
        stop_spark()
    print(f"perfbench: measured {wl.ops_measured()}", file=sys.stderr)
    for e in tally.errors[:20]:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    for k, m in metrics.items():
        print(f"{args.workload:10s} {k:48s} {m['value']:.6g} {m['unit']}", file=sys.stderr)
    print(f"{args.workload:10s} {'error_rate':48s} "
          f"{tally.failed / max(tally.attempted, 1):.6g} fraction "
          f"({tally.failed} of {tally.attempted} operations failed)", file=sys.stderr)
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics,
    }))
    return 0


def _warm_up(spark, path: str) -> None:
    """One partitioned parquet write, read and shuffle: loads the
    machinery every workload uses."""
    (spark.range(20_000).selectExpr("id", "id % 7 AS k", "cast(id AS string) AS s")
     .write.mode("overwrite").partitionBy("k").parquet(path))
    spark.read.parquet(path).groupBy("k").count().collect()


def _traced(args, spark, wl, tally, cores):
    """The measurement traced; per-layer metrics and tracing overhead."""
    import layers
    from procs import peak_rss_mb
    from tracing import Tracer

    tracer = Tracer(spark)
    layers.install(tracer)
    try:
        t = time.perf_counter()
        wl.measure(spark, tally, tracer)
        traced = time.perf_counter() - t
    finally:
        tracer.unwrap()
    wl.check(spark, tally)
    values = layers.metrics(tracer, cores)
    e2e = wl.end_to_end()
    for k in ("batch_s", "op_s", "read_s"):
        values[f"wall.{k}"] = e2e[k]
    values["cpu.read_s"] = e2e["read_cpu_s"]
    values["proc.peak_rss_mb"] = peak_rss_mb()
    values["trace.overhead_s"] = tracer.overhead_s
    values["trace.overhead_share"] = tracer.overhead_s / (traced - tracer.overhead_s)
    if args.workload == "etl_cycle":
        values["prd.data_files"], values["prd.bytes_per_row"] = layers.prd_layout(wl.warehouse)
    else:
        runs = max(len(wl.lsh), 1)
        cands = sum(c for c, _ in wl.lsh)
        pairs = sum(p for _, p in wl.lsh)
        values["operators.dedup.lsh_candidates"] = cands / runs
        values["operators.dedup.near_dup_pairs"] = pairs / runs
        # with no verified pair, the candidates per one pair
        values["operators.dedup.lsh_candidates_per_pair"] = cands / max(pairs, 1)
    tracer.dump(os.path.join(".perfbench_spans", f"{args.workload}-seed{args.seed}.jsonl"))
    return values, dict(layers.catalogue())


if __name__ == "__main__":
    sys.exit(main())
