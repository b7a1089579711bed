"""DDSketch primitives: the log-bucket algebra of the mergeable
quantile sketch, as Spark columns and as DuckDB SQL text.

Shared by queries/sketches.py (the standalone quantile-sketch query)
and operators/rollup.py (the store's mergeable quantile column): ONE
definition of the bucket algebra, so a store-served quantile can never
drift from the ad-hoc sketch.
"""

from __future__ import annotations

import math as _math

# gamma = 1.02 → relative error alpha = (gamma-1)/(gamma+1) ≈ 0.99% on
# quantile values. The ln quotient rounds to 6dp before ceil (the
# repo's libm contract — Java and DuckDB ln() may differ in the final
# ulp; the round absorbs it).
DD_GAMMA = 1.02
DD_LN_GAMMA = _math.log(DD_GAMMA)  # 0.019802627296179712
# sentinel bucket for non-positive values (log-buckets need v > 0):
# far left of any real bucket, so it sorts below every quantile walk
DD_FLOOR_BUCKET = -(10**9)


def dd_bucket(value_col):
    """Log-bucket index of a positive value column (long)."""
    from pyspark.sql import functions as F

    return (
        F.ceil(F.round(F.log(value_col) / F.lit(DD_LN_GAMMA), 6))
        .cast("long")
    )


def dd_bucket_total(value_col):
    """Bucket index with the non-positive sentinel (total function —
    safe for arbitrary stored data)."""
    from pyspark.sql import functions as F

    return F.when(value_col > 0, dd_bucket(value_col)).otherwise(
        F.lit(DD_FLOOR_BUCKET)
    )


def dd_estimate(bucket_col):
    """Bucket index → representative value (the gamma-midpoint),
    6dp-rounded for cross-engine pow() stability."""
    from pyspark.sql import functions as F

    return F.round(
        F.lit(2.0) * F.pow(F.lit(DD_GAMMA), bucket_col)
        / F.lit(DD_GAMMA + 1.0),
        6,
    )


def dd_sql_core(
    source_sql: str = "SELECT event_type, value FROM events WHERE value > 0",
    group: str = "event_type",
) -> str:
    """The DuckDB half of the bucket algebra, as CTE text ending in
    `pick` (group, q_idx, q, bq) — the SQL twin of dd_bucket +
    queries/sketches.dd_quantile_walk. Both oracles (the ad-hoc sketch
    query and the store-served rollup readout) compose this ONE
    builder, so a change to the rounding or the pick-rank rule cannot
    leave one oracle stale."""
    return f"""
        ev AS ({source_sql}),
        b AS (
            SELECT {group},
                   CAST(CEIL(ROUND(LN(value) / {DD_LN_GAMMA!r}, 6))
                        AS BIGINT) AS bkt,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM ev GROUP BY 1, 2
        ),
        c AS (
            SELECT {group}, bkt,
                   CAST(SUM(cnt) OVER (
                       PARTITION BY {group} ORDER BY bkt) AS BIGINT)
                       AS cum,
                   CAST(SUM(cnt) OVER (PARTITION BY {group}) AS BIGINT)
                       AS total
            FROM b
        ),
        q(q_idx, q) AS (VALUES (0, 0.5), (1, 0.9), (2, 0.99)),
        pick AS (
            SELECT c.{group}, q.q_idx, q.q, MIN(c.bkt) AS bq
            FROM c JOIN q ON c.cum >= CEIL(q.q * c.total)
            GROUP BY 1, 2, 3
        )"""


def dd_sql_estimate(bq: str = "bq") -> str:
    """SQL form of dd_estimate (the gamma-midpoint readout)."""
    return f"ROUND(2 * POWER({DD_GAMMA}, {bq}) / {DD_GAMMA + 1.0}, 6)"
