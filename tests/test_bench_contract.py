"""The driver's second gate: ``python bench.py`` must print exactly one
JSON line on stdout with the agreed keys (warnings go to stderr)."""

from __future__ import annotations

import json
import os
import subprocess
import sys


def test_bench_emits_one_json_line_with_contract_keys():
    # one pass: this test checks the CLI CONTRACT (one JSON line, keys,
    # shape) — the default 3 full-suite passes triple the timing loop
    # for no additional assertion (the repeats lever itself is driven
    # by the env var, exercised right here)
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_BENCH_REPEATS="1",
    )
    proc = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    assert len(lines) == 1, f"expected ONE stdout line, got {len(lines)}"
    payload = json.loads(lines[0])
    assert {"metric", "value", "unit", "queries", "sf"} <= set(payload)
    # r15 additive keys: repeats (min-of-N basis) and exec_ms (per-query
    # executor task time — the core-scaling denominator); additions are
    # allowed by the driver contract, removals/renames are not
    assert set(payload) <= {
        "metric", "value", "unit", "queries", "sf", "runs",
        "repeats", "exec_ms",
    }
    assert payload.get("repeats", 1) >= 1
    for v in payload.get("exec_ms", {}).values():
        assert v is None or v >= 0
    assert payload["unit"] == "sec" and payload["value"] > 0
    assert payload["sf"] == 0.001
    assert len(payload["queries"]) >= 15
    assert all(v >= 0 for v in payload["queries"].values())


class _Stage:
    def __init__(self, sid, status, ms):
        self._sid, self._status, self._ms = sid, status, ms

    def stageId(self):
        return self._sid

    def status(self):
        return self._status

    def executorRunTime(self):
        return self._ms


class _Stages:
    def __init__(self, stages):
        self._stages = sorted(stages, key=lambda s: -s.stageId())

    def size(self):
        return len(self._stages)

    def apply(self, i):
        return self._stages[i]


def test_task_time_probe_counts_a_late_completing_stage_once():
    """A stage whose completion the listener bus records after a
    higher-id stage's is counted on the next call, and exactly once
    (a high-water mark over stage ids would skip it for good)."""
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from bench import _TaskTimeProbe

    probe = _TaskTimeProbe(None)  # no SparkContext: the store is faked below
    probe._ok, probe._empty, probe._quantiles = True, None, None
    snapshots = iter([
        [_Stage(0, "COMPLETE", 5), _Stage(1, "ACTIVE", 0), _Stage(2, "COMPLETE", 7)],
        [_Stage(0, "COMPLETE", 5), _Stage(1, "COMPLETE", 11), _Stage(2, "COMPLETE", 7)],
        [_Stage(0, "COMPLETE", 5), _Stage(1, "COMPLETE", 11), _Stage(2, "COMPLETE", 7),
         _Stage(3, "SKIPPED", 0), _Stage(4, "COMPLETE", 13)],
        [_Stage(0, "COMPLETE", 5), _Stage(1, "COMPLETE", 11), _Stage(2, "COMPLETE", 7),
         _Stage(3, "SKIPPED", 0), _Stage(4, "COMPLETE", 13)],
    ])

    class _Store:
        def stageList(self, *_args):
            return _Stages(next(snapshots))

    probe._store = _Store()
    assert [probe.delta_ms() for _ in range(4)] == [12, 11, 13, 0]
