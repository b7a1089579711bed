"""Table loaders over the driver's parquet testdata.

All ten tables (TESTDATA.md / FIXTURES.md) load through here so every
query sees identical schemas. The one normalization: `events.ts` is
TIMESTAMP(NANOS) parquet, which Spark reads as int64 nanos (with
`nanosAsLong`); we truncate to microseconds as timestamp_ntz — exactly
what the DuckDB oracle does natively, so values hash-match.

Scale notes: at 100 TB these reads are partitioned parquet scans;
filters/projections applied by callers reach the scan via Catalyst
pushdown (verified in tests/test_plans.py). Loaders never collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opusdb_spark.session import apply_runtime_confs

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# timestampadd over int64 nanos div 1000 is timezone-independent
# (pure NTZ arithmetic), unlike timestamp_micros + cast which would
# route through the session timezone.
_EVENTS_TS_EXPR = (
    "timestampadd(MICROSECOND, ts div 1000, timestamp_ntz'1970-01-01 00:00:00')"
)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table with normalized schema.

    The handle comes from formats.read_store (memoized, so a repeat
    call over an unchanged file launches no footer-read job); this
    function adds only the events `ts` adaptation."""
    from opusdb_spark.sources import formats

    apply_runtime_confs(spark)
    df = formats.read_store(spark, formats.table_path(sf_dir, name))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr(_EVENTS_TS_EXPR))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (for spark.sql queries)."""
    for name in TABLE_NAMES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
