"""Tiny-scale self-test of the benchmark harness.

    python3 perfbench/selftest.py

Runs the benchmark three times on tiny inputs (about three minutes on a
4-core box):

1. each workload traced: every per-layer metric BENCHMARK.json declares
   is printed with its unit, every iteration passes its checks (which
   include the layer self times summing to the wall time), exit code 0;
2. one untraced run whose reference content hash is corrupted: every
   end-to-end metric is still printed with its unit, but the run reports
   every timed iteration as failed, ``correct`` false, exit code 1.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY = "0.05"


def run(workload: str, trace: int, *extra: str) -> tuple[int, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", TINY, *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    if not lines:
        raise AssertionError(f"{cmd}: no output; stderr tail:\n{p.stderr[-2000:]}")
    return p.returncode, json.loads(lines[-1])


def check_metrics(result: dict, declared: list[dict], what: str) -> None:
    got = result["metrics"]
    for m in declared:
        assert m["name"] in got, f"{what}: metric {m['name']} missing"
        assert got[m["name"]]["unit"] == m["unit"], f"{what}: {m['name']} has unit {got[m['name']]['unit']}"
        assert isinstance(got[m["name"]]["value"], (int, float)), f"{what}: {m['name']} not a number"
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, f"{what}: keys {set(result)}"


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for w in bench["workloads"]:
        rc, res = run(w["name"], 1)
        check_metrics(res, bench["per_layer"], f"{w['name']} traced")
        assert rc == 0 and res["correct"] and res["failed"] == 0, f"{w['name']}: {rc} {res}"
        task_s = [k for k, v in res["metrics"].items() if k.startswith("task.") and v["value"] > 0]
        assert task_s, f"{w['name']}: no task span recorded"
        print(f"ok: {w['name']} traced, tasks {task_s}")

    name = bench["workloads"][0]["name"]
    rc, res = run(name, 0, "--corrupt-expected-hash")
    check_metrics(res, bench["end_to_end"], f"{name} corrupted")
    assert rc == 1 and not res["correct"], f"corrupted hash not reported: {rc} {res}"
    assert res["failed"] == res["attempted"] >= 1, f"corrupted hash: {res}"
    print(f"ok: {name} with a corrupted expected hash reports {res['failed']}/{res['attempted']} failed")


if __name__ == "__main__":
    main()
