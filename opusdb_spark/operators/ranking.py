"""Distributed exact global ranking / NTILE without a one-task sort.

`Window.orderBy(...)` with no ``partitionBy`` funnels every row through
a single task — correct, but a scale-killer once the input is data-
sized rather than metadata-sized (at 100 TB a users table is 10⁸-10⁹
rows). These helpers compute the SAME rank-based answers with a
three-stage shape whose only single-partition step is over a
model-sized aggregate:

  1. split the order key's range into ``n_buckets`` contiguous buckets
     using `approx_percentile` split points — a model-sized aggregate,
     collected once and baked in as LITERALS (so bucket assignment is
     deterministic under task retry, unlike `spark_partition_id` after
     a sampled `repartitionByRange`);
  2. rank locally inside each bucket with a partitioned window
     (parallel; ties broken by the caller's tie-break column);
  3. exclusive-prefix-sum the per-bucket counts (≤ n_buckets rows —
     model-sized by construction, same exception as the IVF centroid
     collect) and broadcast-join the offsets back.

global rank = bucket offset + local rank. NTILE then follows the SQL
bucket rule exactly: with N rows and n tiles, q = N div n, r = N mod n,
the first r tiles hold q+1 rows. This matches `NTILE(n) OVER (ORDER BY
...)` bit-for-bit (the DuckDB oracles pin it). The same machinery
extends to exact running DECIMAL sums (with_global_running_sum):
decimal addition is associative, so bucket-offset + local running sum
equals the sequential formulation bit-for-bit.

Reference anchor: the splay-tree rank queries (splay.clj:84-99) are the
reference's only order-statistic surface; this is the distributed
analog for rank/quantile assignment over snapshot tables.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _bucket_expr(split_col: Column, uniq: list, descending: bool) -> Column:
    """Bucket id from literal split points — a nested CASE chain.

    ``split_col`` only needs to be a MONOTONE (ties-allowed) numeric
    coarsening of the order's leading key — equal values share a
    bucket, where the in-bucket window's full tie-break ranks them; the
    chain is deterministic under task retry because the splits are
    literals. Empty/constant column -> one bucket (still correct: the
    in-bucket window does all the work).
    """
    bucket = F.lit(0)
    for i, s in enumerate(uniq):
        bucket = F.when(split_col > F.lit(s), i + 1).otherwise(bucket)
    if descending:
        # invert so bucket 0 is FIRST in the output order
        bucket = F.lit(len(uniq)) - bucket
    return bucket


def _split_points(df: DataFrame, split_col: Column, n_buckets: int) -> list:
    """Literal range-split points: one model-sized probe aggregate."""
    ps = [i / n_buckets for i in range(1, n_buckets)]
    row = df.agg(
        F.percentile_approx(split_col, ps, 10_000).alias("_splits")
    ).first()
    return sorted({s for s in (row["_splits"] or []) if s is not None})


def _bucketed_rank(
    df: DataFrame,
    order_cols: list[Column],
    split_col: Column,
    uniq: list,
    descending: bool,
    value: Column | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Shared core of every global-order helper: bucket by the literal
    splits, rank (and, when ``value`` is given, running-decimal-sum)
    inside each bucket in parallel, and derive the MODEL-SIZED
    (≤ n_buckets rows) offset table whose exclusive prefix sums
    broadcast back. Returns (ranked, offsets): ranked carries ``_b``,
    ``_lr`` (+ ``_ls`` decimal local running sum); offsets carries
    ``_b``, ``_off``, ``_total`` (+ ``_voff``, ``_vtotal``)."""
    b = df.withColumn("_b", _bucket_expr(split_col, uniq, descending))
    w_rank = Window.partitionBy("_b").orderBy(*order_cols)
    ranked = b.withColumn("_lr", F.row_number().over(w_rank))
    aggs = [F.count(F.lit(1)).alias("_n")]
    if value is not None:
        w_local = (
            Window.partitionBy("_b")
            .orderBy(*order_cols)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        ranked = ranked.withColumn(
            "_v", value.cast("decimal(27,6)")
        ).withColumn("_ls", F.sum("_v").over(w_local))
        aggs.append(F.sum("_v").alias("_s"))
    counts = ranked.groupBy("_b").agg(*aggs)
    # ≤ n_buckets rows: model-sized single-partition prefix sum. The
    # grand totals ride along on the same tiny frame so consumers never
    # need a whole-data window for COUNT(*) / SUM(*).
    w_off = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    w_tot = Window.orderBy("_b").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    sel = [
        F.col("_b"),
        F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_off"),
        F.sum("_n").over(w_tot).alias("_total"),
    ]
    if value is not None:
        sel += [
            F.coalesce(
                F.sum("_s").over(w_off), F.lit(0).cast("decimal(27,6)")
            ).alias("_voff"),
            F.sum("_s").over(w_tot).alias("_vtotal"),
        ]
    return ranked, counts.select(*sel)


def ntile_from_rank(rank: Column, total: Column, n: int) -> Column:
    """Exact SQL NTILE(n) from a 1-based rank and the row count.

    q = total div n, r = total mod n; tiles 1..r hold q+1 rows. For
    total < n this degrades to tile = rank, matching the standard.
    """
    q = (total / n).cast("long")
    r = total - q * n
    head = (q + F.lit(1)) * r  # rows covered by the r wide tiles
    return (
        F.when(rank <= head, F.ceil(rank / (q + 1)))
        .otherwise(r + F.ceil((rank - head) / F.greatest(q, F.lit(1))))
        .cast("int")
    )


def with_global_ntiles(
    df: DataFrame,
    specs: list[tuple[str, list[Column], Column, bool]],
    *,
    n: int,
    n_buckets: int = 32,
) -> DataFrame:
    """Exact NTILE(n) for SEVERAL orderings with ONE probe action.

    ``specs`` is a list of (out_col, order_cols, split_col, descending).
    All split points come back from a single aggregate over ``df`` (one
    scan), then each spec pays its own bucket-partitioned window + a
    model-sized offset join — never a whole-data single-partition sort.

    ``df`` is deliberately NOT persisted: each spec's broadcast offset
    subtree re-reads the frame, but Catalyst's Exchange reuse already
    shares the upstream shuffle across those subtrees — measured at sf1
    (events_rfm_segments), persisting the frame through an
    InMemoryTableScan was ~30% SLOWER than letting the reused Exchange
    feed all consumers (best-of-3: 2.7 s unpersisted vs 3.5 s
    persisted).
    """
    ps = [i / n_buckets for i in range(1, n_buckets)]
    probe = df.agg(
        *[
            F.percentile_approx(spec[2], ps, 10_000).alias(f"_s{i}")
            for i, spec in enumerate(specs)
        ]
    ).first()
    res = df
    for i, (out, order_cols, split_col, descending) in enumerate(specs):
        uniq = sorted(
            {s for s in (probe[f"_s{i}"] or []) if s is not None}
        )
        ranked, offsets = _bucketed_rank(
            res, order_cols, split_col, uniq, descending
        )
        res = (
            ranked.join(F.broadcast(offsets), "_b")
            .withColumn(
                out,
                ntile_from_rank(
                    F.col("_off") + F.col("_lr"), F.col("_total"), n
                ),
            )
            .drop("_b", "_lr", "_off", "_total")
        )
    return res


def with_global_running_sum(
    df: DataFrame,
    order_cols: list[Column],
    split_col: Column,
    value: Column,
    *,
    descending: bool,
    rank_out: str = "_rank",
    sum_out: str = "_rsum",
    n_buckets: int = 32,
) -> DataFrame:
    """Global rank AND exact running decimal sum of ``value`` under a
    total order — without a single-partition window over the data.

    The shared _bucketed_rank core with the decimal-value extension:
    per-bucket rank + running sum in parallel, count AND value offsets
    from the model-sized prefix pass. Decimal addition is associative,
    so offset + local running sum equals the sequential running sum
    bit-for-bit (the oracle's single-window formulation). Adds
    ``rank_out``, ``sum_out`` (decimal) and ``_total`` / ``_vtotal``
    (grand count/sum, same on every row)."""
    uniq = _split_points(df, split_col, n_buckets)
    ranked, offsets = _bucketed_rank(
        df, order_cols, split_col, uniq, descending, value=value
    )
    return (
        ranked.join(F.broadcast(offsets), "_b")
        .withColumn(rank_out, F.col("_off") + F.col("_lr"))
        .withColumn(sum_out, F.col("_voff") + F.col("_ls"))
        .drop("_b", "_v", "_lr", "_ls", "_off", "_voff")
    )
