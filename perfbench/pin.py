#!/usr/bin/env python3
"""Recompute ``perfbench/pins.json``: the (rows, fingerprint) digest of
the curation output for every eval-slice residue a seed can pick.

    python3 perfbench/pin.py

Run from the repository root after changing the corpus generator or the
curation config; an engine change that alters these digests is a
correctness change, not a re-pin. Spark runs on local[<cores>], as in
run.py.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    sys.path[:0] = [os.getcwd(), HERE]
    import workloads
    from web_api_postgres_etl_spark.session import get_spark

    work = os.path.join(os.getcwd(), ".perfbench_work", f"pin-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    spark = get_spark(app_name="perfbench-pin", master=f"local[{os.cpu_count() or 1}]",
                      extra_conf={"spark.local.dir": os.path.join(work, "tmp"),
                                  "spark.ui.showConsoleProgress": "false"})
    try:
        wl = workloads.Curation(work, seed=0)
        pins = {}
        for r in range(0, 50, 5):  # every residue workloads.residue_of picks
            tally = workloads.Tally()
            got = wl.run_once(spark, r, tally)
            if got is None:
                raise SystemExit(f"residue {r}: {tally.errors}")
            pins[str(r)] = list(got[2])
            print(r, got[2], flush=True)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(HERE, "pins.json"), "w") as fh:
        json.dump({"curation": pins, "docs": workloads.CURATION_DOCS}, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
