"""Replay the driver's correctness sweep locally and time every query.

Runs the first N queries in registry (sweep) order — the order the
driver iterates `queries()` — through the full local t2 replica
(tests/parity.compare: rows + schema + strict dtype kinds + values)
against the DuckDB oracle, timing the Spark and oracle sides of each
key, so both the verdicts and the sweep's wall-clock budget are known
before a round runs. Prints the slowest 20 keys (Spark + oracle) and
exits 1 on any failure.

Usage: python scripts/verify_backlog.py [sf_dir] [N] [--fresh]
  sf_dir   corpus (default /root/testdata/sf0.01, the driver's scale)
  N        number of keys from the head of the sweep (default 52, the
           driver's 50-query sample plus margin; pass the registry size
           for the full sweep)
  --fresh  wipe the ingest-store scratch root first so every
           ingest-once layout pays its first-run cost (worst case,
           which is what the driver sees on a clean round)
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, ".")

_args = [a for a in sys.argv[1:] if a != "--fresh"]
_SF_DIR = next(
    (a for a in _args if not a.isdigit()), "/root/testdata/sf0.01"
)
_N = int(next((a for a in _args if a.isdigit()), 52))

# Pin the parity corpus to THIS run's corpus BEFORE conftest/registry
# import: artifact-backed oracles embed OPUSDB_PARITY_SF_DIR-derived
# store paths in their SQL at query-module import, and tests/conftest
# (imported below for make_duck) would otherwise default it to the
# pytest corpus (sf0.001) — silently comparing sf0.01 Spark results
# against sf0.001 artifacts (caught in r10 when llm_pq_recall_eval,
# the first artifact-backed key to enter the sweep head, "failed"
# locally while the env-free driver pairing was correct).
os.environ["OPUSDB_PARITY_SF_DIR"] = _SF_DIR

from opusdb_spark.registry import registry  # noqa: E402
from opusdb_spark.session import get_spark  # noqa: E402
from tests.conftest import make_duck  # noqa: E402
from tests.parity import compare, spark_to_pandas  # noqa: E402


def main() -> None:
    if "--fresh" in sys.argv[1:]:
        from opusdb_spark.sources import formats

        shutil.rmtree(formats._SCRATCH, ignore_errors=True)
        print(f"cleared scratch root {formats._SCRATCH}", flush=True)

    spark = get_spark()
    duck = make_duck(_SF_DIR)
    qs = registry()
    names = list(qs)[:_N]

    bad: dict[str, str] = {}
    secs: dict[str, float] = {}
    t_all = time.monotonic()
    for name in names:
        q = qs[name]
        spark_s = oracle_s = 0.0
        t0 = time.monotonic()
        try:
            spdf = spark_to_pandas(q.fn(spark, _SF_DIR))
            spark_s = time.monotonic() - t0
            if q.oracle is None:
                status = f"rows-only ({len(spdf)} rows)"
            else:
                t1 = time.monotonic()
                ddf = duck.execute(q.oracle).df()
                oracle_s = time.monotonic() - t1
                res = compare(spdf, ddf)
                if not res.ok:
                    bad[name] = res.detail
                    status = f"FAIL: {res.detail[:120]}"
                else:
                    status = "pass" if res.exact else "pass (float-inexact)"
        except Exception as e:  # noqa: BLE001
            spark_s = spark_s or time.monotonic() - t0
            bad[name] = repr(e)[:200]
            status = f"ERROR: {repr(e)[:120]}"
        secs[name] = spark_s + oracle_s
        print(
            f"{name:32s} spark={spark_s:6.2f}s oracle={oracle_s:6.2f}s  "
            f"{status}",
            flush=True,
        )

    print("\n=== slowest 20 (spark+oracle) ===")
    for name in sorted(secs, key=secs.get, reverse=True)[:20]:
        print(f"{name:32s} {secs[name]:7.2f}s")
    print(f"\nTOTAL {time.monotonic() - t_all:.1f}s for {len(names)} queries")
    if bad:
        print(f"FAILURES ({len(bad)}):")
        for k, v in bad.items():
            print(f"  {k}: {v}")
        sys.exit(1)
    print("all green")


if __name__ == "__main__":
    main()
