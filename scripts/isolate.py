#!/usr/bin/env python
"""Time chosen registry keys in a fresh session, outside the full bench.

Runs bench.time_section on the keys — the same prepare/sync/floor/
best-of-N discipline as every bench.py section — so one key or family
can be measured or A/B-ed without in-bench position effects. Per key
it prints best time, spread (second best − best), worst − best, and
the last timed run's job/stage/task counts; row counts go to stderr.
A key whose job count far exceeds its plan's stage needs is paying
driver-side overhead (schema re-reads, eager collects, per-call
artifact probes) that a per-query scheduler floor multiplies.

Keys are registry names or fnmatch patterns (default bench.HEADLINE).
Corpus: $SPARK_GRAFT_SF_DIR (default sf0.1), or with --sf1 the 10×
ladder corpus built from it (best-of-bench.LADDER_RUNS, as the ladder).
Plans: scripts/capture_plans.py.

Usage: python scripts/isolate.py [--sf1] [key|pattern ...]
e.g.   python scripts/isolate.py 'tpch_q*'
       python scripts/isolate.py --sf1 llm_winnowing_overlap llm_semdedup
"""
from __future__ import annotations

import fnmatch
import os
import sys
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

import bench  # noqa: E402
from opusdb_spark.operators.cache import release_loop_caches  # noqa: E402
from opusdb_spark.registry import queries  # noqa: E402
from opusdb_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    sf1 = "--sf1" in args
    patterns = [a for a in args if a != "--sf1"] or bench.HEADLINE
    qs = queries()
    names: list[str] = []
    for pat in patterns:
        hits = sorted(fnmatch.filter(qs, pat))
        if not hits:
            sys.exit(f"no registered query matches {pat!r}")
        names += [h for h in hits if h not in names]

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="isolate")
    spark.sparkContext.setLogLevel("ERROR")
    if sf1:
        sf_dir = bench.ensure_sf1(spark, sf_dir)
    sec = bench.time_section(
        spark, qs, names, sf_dir,
        runs=bench.LADDER_RUNS if sf1 else bench._RUNS,
    )
    floor_end_ms = bench.measure_floor_ms(spark)
    print(f"{'key':32s} {'sec':>8s} {'spread':>7s} {'worst':>7s} "
          f"{'jobs':>5s} {'stages':>6s} {'tasks':>6s}")
    for k, t in sec["queries"].items():
        print(f"{k:32s} {t:8.3f} {sec['spread'][k]:7.3f} "
              f"{sec['spread_worst'][k]:7.3f} {sec['n_jobs'][k]:5d} "
              f"{sec['n_stages'][k]:6d} {sec['n_tasks'][k]:6d}")
    print(f"total {sum(sec['queries'].values()):.3f}s  floor_ms "
          f"{sec['floor_ms']}  floor_end_ms {floor_end_ms}  ({sf_dir})")
    release_loop_caches()
    spark.stop()


if __name__ == "__main__":
    main()
