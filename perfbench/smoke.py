"""Smoke test for the benchmark at tiny input sizes.

    python3 perfbench/smoke.py

Runs every workload named in BENCHMARK.json once untraced and once
traced, with --scale tiny, and asserts that each run exits 0, passes
its output check, and prints every end-to-end (untraced) or per-layer
(traced) metric of BENCHMARK.json by name with its unit. Takes a few
minutes: every run starts its own Spark session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "tiny"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise AssertionError(f"{cmd} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = []
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run(w["name"], trace)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            problems = []
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"result keys {sorted(res)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"correct={res['correct']} failed={res['failed']}")
            if got != want:
                problems.append(f"metrics/units differ: {set(got.items()) ^ set(want.items())}")
            if any(not isinstance(v["value"], (int, float)) for v in res["metrics"].values()):
                problems.append("non-numeric metric value")
            status = "ok" if not problems else "FAIL " + "; ".join(problems)
            print(f"{w['name']} trace={trace}: {status}", flush=True)
            failures += problems
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
