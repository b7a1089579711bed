"""SparkSession factory with scale-aware defaults.

Designed for a 1000-executor cluster but testable on local[N]:
- AQE on (runtime re-planning, skew-join splitting, partition coalescing)
- broadcast threshold left at default so small dims broadcast automatically
- shuffle partitions tuned by env for local runs; on a real cluster AQE
  coalesces from a high initial number.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runtime confs every query path needs, applied to *any* session handed
# to us (the driver owns the session in `entry()`).
RUNTIME_CONFS = {
    # events.parquet stores TIMESTAMP(NANOS); Spark refuses it unless
    # read as int64 nanos (converted to timestamp_ntz in tables.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    # Arrow for every pandas_udf / toPandas hop.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Several ingest stores are MANY-small-file by design (one parquet
    # file per (table_id, bucket) partition in the ANN index, one per
    # log segment in the opusdb log): the 4 MB default open-cost makes
    # Spark treat each ~100 KB file as 4 MB when bin-packing scan
    # tasks, fragmenting a full-store sweep into ~#files/30 tasks whose
    # scheduling overhead dominates (measured 4.5 s → 0.9 s on the
    # 2048-file lsh/ sweep at the 20k-vector ladder). 64 KB packs them
    # into data-proportional tasks; large-file scans are unaffected
    # (their split count is governed by maxPartitionBytes).
    "spark.sql.files.openCostInBytes": "65536",
    # Arrow batches sized by BYTES, 4× under the allocator cliff
    # (r13, the multimodal_resize scale-headroom decomposition): a
    # JVM→Python transfer of ~6 KB binary blobs at the default caps
    # (10k records / 64 MB per batch) builds ~60 MB variable-width
    # Arrow vectors, which exceed netty's 16 MB pooled-chunk limit
    # and fall into unpooled copy-on-grow allocations — measured 19×
    # on the transfer alone (2.9 GB media table, 32 cores: 66.6 s at
    # the default vs 1.8 s at ≤16 MB; the whole stored-media resize
    # pass 84.6 s → 32.0 s, leaving the Python codec as the honest
    # bottleneck). 4 MB keeps even a 2× vector-grow overshoot inside
    # the pooled range. Row-count batching still caps narrow tables
    # (10k rows of scalar columns ≪ 4 MB), so only wide-binary
    # transfers change batch shape; every kernel in this repo is
    # batch-boundary-invariant (per-row outputs, iterator-level
    # accumulators, or per-group applyInPandas).
    "spark.sql.execution.arrow.maxBytesPerBatch": "4m",
    # Partition discovery over those same stores: above this many
    # partition directories Spark launches a distributed listing JOB,
    # whose ~#dirs scheduling overhead (measured 4-5 s per
    # read.parquet() CALL on the 2048-dir lsh/ index — paid at plan
    # time, before any data moves) dwarfs a driver-side local listing
    # (~0.5 s). Local/POSIX listing is cheap at this scale; an
    # object-store deployment with >>10k partitions should drop this
    # back toward the 32 default so listing parallelizes.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "16384",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Set every RUNTIME_CONFS key on `spark`. Each is a runtime SQL
    conf, so a failure to set one is a real fault and raises."""
    for k, v in RUNTIME_CONFS.items():
        spark.conf.set(k, v)
    return spark


from contextlib import contextmanager


@contextmanager
def scoped_confs(spark: SparkSession, confs: dict[str, str]):
    """Set session confs for the duration of a block, then restore the
    previous values (unset keys are restored with `unset`). Queries must
    never leave conf mutations behind — a leaked optimizer conf changes
    every later plan in the shared session (order-dependent plan shapes
    and bench timings)."""
    old: dict[str, str | None] = {}
    for k, v in confs.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        yield spark
    finally:
        for k, prev in old.items():
            if prev is None:
                try:
                    spark.conf.unset(k)
                except Exception:
                    pass
            else:
                spark.conf.set(k, prev)


def get_spark(
    app_name: str = "opusdb-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or (int(cpus) if str(cpus).isdigit() else 32)),
        )
        # Start shuffles WIDE and let AQE coalesce down: with a static
        # 32, a corpus 100× the bench scale packs ~3M exploded gram
        # rows per reduce partition and spills (scale probe:
        # llm_substring_dedup 14.3 s → 9.7 s at 60 M lineitem / 500k
        # docs just from this). But width must SCALE WITH CORES, not
        # be a constant: r8 measured a flat 256 (8× cores here) paying
        # a real wide-write tax — each mapper emits 8× the shuffle
        # blocks and the per-partition sorts lose their run length,
        # while AQE (parallelismFirst) coalesces back to ~cores anyway.
        # At 2× cores the spill protection is retained (substring dedup
        # 8.4 s vs 8.3 s at 100×) and the tax is gone: join_sort_merge
        # sf1 3.1→1.6 s, tpch_q18 100× 42→10 s, decontaminate 100×
        # 23→20 s. On a 1000-executor cluster defaultParallelism grows
        # with the cluster, so 2× keeps scaling; a caller that pins
        # shuffle_partitions (tests pin 8 for deterministic split
        # counts) pins the initial number to the same value.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(
                shuffle_partitions
                or max(64, 2 * (int(cpus) if str(cpus).isdigit() else 32))
            ),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Python workers fork from the repo's daemon, which stops every
        # task from re-reading pyspark.zip's directory (pyworker.py).
        # The repo root on the workers' path makes it importable from
        # any cwd.
        .config("spark.python.daemon.module", "opusdb_spark.pyworker")
        .config("spark.executorEnv.PYTHONPATH", _REPO_ROOT)
        # Off: with it on, every Column method and F.col also sets and
        # clears the Python call site over py4j (measured on 4 vCPUs:
        # `c + 1` ~1 ms → 0.14 ms, `F.col` ~1.4 ms → 0.31 ms). What is
        # lost: a DataFrame error no longer names the Python line that
        # built the failing expression.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Generated-class cache (static, so set before the JVM starts).
        # The default 100 is split over Guava's 4 LRU segments, ~25
        # classes each, while one perfbench interactive_bank round uses
        # ~100 distinct classes: every query recompiled 3-17 classes on
        # each run (9 ms median, 44 ms p95 per Janino compile, plus JIT
        # of each new class), and the first round after a set-up paid
        # 0.4-0.9 s more than later rounds on 4 vCPUs. At 1000 a
        # repeated query compiles nothing.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return apply_runtime_confs(builder.getOrCreate())
