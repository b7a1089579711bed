#!/usr/bin/env python3
"""Fast end-to-end check of the benchmark itself: every workload at
sf0.001 for one second, untraced and traced, must exit 0, report
correct outputs, and print every metric BENCHMARK.json names (the
end-to-end ones nonzero). Takes about three minutes.

    python3 perfbench/smoke.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for w in spec["workloads"]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [
                sys.executable, "perfbench/run.py", "--workload", w["name"],
                "--seed", "7", "--seconds", "1", "--trace", str(trace),
                "--sf", "0.001",
            ]
            proc = subprocess.run(
                cmd, cwd=ROOT, capture_output=True, text=True, timeout=300
            )
            tag = f"{w['name']} trace={trace}"
            if proc.returncode != 0:
                problems.append(f"{tag}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                continue
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{tag}: outputs not correct: {proc.stdout[-2000:]}")
            want = [m["name"] for m in spec[kind]]
            if list(res["metrics"]) != want:
                problems.append(f"{tag}: metrics {sorted(set(want) ^ set(res['metrics']))}")
            if kind == "end_to_end":
                zero = [n for n in want if not res["metrics"][n]["value"]]
                if zero:
                    problems.append(f"{tag}: zero end-to-end metrics {zero}")
            print(f"{tag}: ok, {res['attempted']} checked outputs", flush=True)
    for p in problems:
        print("FAIL", p, file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
