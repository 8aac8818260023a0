"""Physical-plan audit over every contract query: per-query operator
census (exchanges, join strategies, codegen spans, scan pushdown) with
flags for scale anti-patterns (CartesianProduct /
BroadcastNestedLoopJoin / scans with no pushdown where a filter exists).

    python tools/plan_audit.py [query ...]   # default: all queries()

Heavy side-effecting queries (streaming/pipeline contract entries that
must RUN to produce a frame) are planned on their final result — their
interesting physics happens across jobs, so they are listed but not
flagged.

Each query is collect()ed so the census reads the FINAL adaptive plan
(AQE hides join strategies and codegen until execution) — run at small
SF only (the sf0.01 default); table-sized results at large SF would
land on the driver.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from web_api_postgres_etl_spark.session import get_spark  # noqa: E402

SF = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")

# queries whose callable executes jobs (streams, pipelines) — planning
# their returned frame is still fine, just slower
EXPENSIVE = {
    "pipeline_e2e", "t1_streaming_compact", "t4_stateful_stream",
    "t5_watermark_late_drop", "curation_pipeline", "cdc_table_apply",
}

COUNTERS = [
    ("exchanges", r"\bExchange\b"),
    ("bcast_exch", r"BroadcastExchange"),
    ("smj", r"SortMergeJoin"),
    ("shj", r"ShuffledHashJoin"),
    ("bhj", r"BroadcastHashJoin"),
    ("codegen", r"WholeStageCodegen"),
]
FLAGS = ["CartesianProduct", "BroadcastNestedLoopJoin"]

# bounded-by-construction nested loops: collocations crossJoins a
# broadcast 1-ROW totals frame (tfidf_table's N pattern), and the
# bloom gate's whole mechanism is ONE 1-row broadcast crossJoin + k
# bit probes (zero fact shuffle) — constant, not a scale hazard; the
# exact all-pairs baselines that once sat here retired in r5/r6
INTENTIONAL_EXACT = {"collocations", "bloom_join_gate",
                     # 1-row corpus-N crossJoin × 3 consumers of the
                     # uncached weight table (cache_weights=False in
                     # the contract entry; count-pinned at 3 in
                     # tests/test_plan_shapes.py)
                     "tfidf_cosine_pairs"}


def main(names: list[str]) -> int:
    spark = get_spark(app_name="plan-audit", shuffle_partitions=8)
    queries = entrymod.queries()
    if not names:
        names = [n for n in queries if n not in EXPENSIVE]
        skipped = [n for n in queries if n in EXPENSIVE]
        print(
            "skipped (side-effecting; pass explicitly to audit): "
            + ", ".join(skipped)
        )
    bad = 0
    print(f"{'query':28s} {'exch':>4} {'bc':>3} {'smj':>3} {'shj':>3} "
          f"{'bhj':>3} {'wsc':>3}  flags")
    for name in names:
        try:
            df = queries[name](spark, SF)
            # AQE hides join strategy changes and codegen markers until
            # the plan actually runs (isFinalPlan=false): execute the
            # frame, then census the FINAL adaptive plan — the physical
            # truth, not the pre-runtime guess
            df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
            # the executed AdaptiveSparkPlan prints "== Final Plan ==" +
            # "== Initial Plan ==" — census only the final section or
            # every operator double-counts
            plan = plan.split("== Initial Plan ==")[0]
        except Exception as exc:  # noqa: BLE001
            print(f"{name:28s} ERR {exc}")
            bad += 1
            continue
        counts = {k: len(re.findall(pat, plan)) for k, pat in COUNTERS}
        counts["codegen"] = len(set(re.findall(r"\*\((\d+)\)", plan)))
        flags = [f for f in FLAGS if f in plan]
        if flags and name in INTENTIONAL_EXACT:
            flags = [f + "(intentional-exact-baseline)" for f in flags]
        elif flags:
            bad += 1
        print(
            f"{name:28s} {counts['exchanges']:>4} {counts['bcast_exch']:>3} "
            f"{counts['smj']:>3} {counts['shj']:>3} {counts['bhj']:>3} "
            f"{counts['codegen']:>3}  {','.join(flags) or '-'}"
        )
    spark.stop()
    print(f"\n{bad} flagged")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
