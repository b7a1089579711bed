"""Aggregations (SURVEY §2B).

Anchors: sum-over-refs inside one snapshot (throughput.clj:80,137;
bank.clj:41), success/ops counting (throughput.clj:65-100,127-128), and
the conservation invariant `total == expected` (throughput.clj:137-147)
— generalized to the full SQL aggregate family.

Determinism: every sum of doubles goes through the exact-decimal path
(opusdb_spark.exactness) so results are independent of partial-aggregate
order — the same guarantee the reference's invariant checks pin down.
Spark plans these as partial (map-side) + final hash aggregates; one
shuffle on the group keys, which is the minimum possible.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from opusdb_spark.exactness import davg, dsum, sql_davg, sql_dsum
from opusdb_spark.registry import register
from opusdb_spark.tables import register_views, table


@register(
    "agg_q1",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               {sql_dsum("l_quantity", "sum_qty")},
               {sql_dsum("l_extendedprice", "sum_base_price")},
               {sql_dsum("l_extendedprice * (1 - l_discount)", "sum_disc_price")},
               {sql_dsum("l_extendedprice * (1 - l_discount) * (1 + l_tax)", "sum_charge")},
               {sql_davg("l_quantity", "avg_qty")},
               {sql_davg("l_extendedprice", "avg_price")},
               {sql_davg("l_discount", "avg_disc")},
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    tags=("agg", "flagship"),
)
def agg_q1(spark, sf_dir):
    """TPC-H Q1: the canonical scan→filter→project→hash-agg→sort spine.

    Sum-over-snapshot anchor (throughput.clj:80,137). Partial aggregation
    reduces 6M×sf rows to 6 groups map-side before the single shuffle.
    """
    lt = table(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lt.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc, "sum_disc_price"),
            dsum(disc * (1 + F.col("l_tax")), "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "agg_count_distinct",
    oracle="""
        SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
               COUNT(*) AS n_events
        FROM events GROUP BY event_type
    """,
    tags=("agg",),
)
def agg_count_distinct(spark, sf_dir):
    """Exact distinct users per event type (expand + two-phase agg)."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "agg_approx_distinct",
    oracle=None,  # rows-only: HLL estimates are engine-specific
    tags=("agg", "approx"),
)
def agg_approx_distinct(spark, sf_dir):
    """HyperLogLog distinct — the 100 TB path where exact distinct's
    shuffle would dominate; mergeable sketch, no expand."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_users")
    )


@register(
    "agg_rollup",
    oracle="""
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS total_price
        FROM orders
        GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    tags=("agg",),
)
def agg_rollup(spark, sf_dir):
    """Hierarchical totals: (status, priority) → (status) → ()."""
    o = table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice", "total_price"),
    )


@register(
    "agg_cube",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n_items,
               CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    tags=("agg",),
)
def agg_cube(spark, sf_dir):
    """All 2^2 grouping combinations of (returnflag, linestatus)."""
    lt = table(spark, sf_dir, "lineitem")
    return lt.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        dsum("l_quantity", "sum_qty"),
    )


@register(
    "agg_grouping_sets",
    oracle="""
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    tags=("agg",),
)
def agg_grouping_sets(spark, sf_dir):
    """Explicit grouping sets via SQL (Catalyst Expand operator)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@register(
    "agg_having",
    oracle="""
        SELECT o_custkey, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS spend
        FROM orders
        GROUP BY o_custkey
        HAVING COUNT(*) >= 10
    """,
    tags=("agg",),
)
def agg_having(spark, sf_dir):
    """Group filter on an aggregate (HAVING)."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "spend"),
        )
        .filter(F.col("n_orders") >= 10)
    )


@register(
    "agg_distinct_rows",
    oracle="SELECT DISTINCT c_mktsegment FROM customer",
    tags=("agg",),
)
def agg_distinct_rows(spark, sf_dir):
    """SELECT DISTINCT — planned as a hash aggregate on all columns."""
    return table(spark, sf_dir, "customer").select("c_mktsegment").distinct()


@register(
    "agg_stats",
    oracle=f"""
        SELECT l_returnflag,
               (s2 - s1 * s1 / n) / (n - 1) AS var_qty,
               SQRT((s2 - s1 * s1 / n) / (n - 1)) AS stddev_qty,
               ROUND((sxy - s1 * sy / n) /
                   SQRT((s2 - s1 * s1 / n) * (syy - sy * sy / n)), 9) AS corr_qty_price
        FROM (
            SELECT l_returnflag, COUNT(*) AS n,
                   {sql_dsum("l_quantity", "s1")},
                   {sql_dsum("l_quantity * l_quantity", "s2")},
                   {sql_dsum("l_extendedprice", "sy")},
                   {sql_dsum("l_extendedprice * l_extendedprice", "syy")},
                   {sql_dsum("l_quantity * l_extendedprice", "sxy")}
            FROM lineitem GROUP BY l_returnflag
        )
    """,
    tags=("agg", "stats"),
)
def agg_stats(spark, sf_dir):
    """var_samp / stddev_samp / corr via exact decimal moments.

    Built-in stddev/corr stream doubles in partition order (nondeterministic
    across engines); computing the moments exactly and deriving the
    statistics from identical doubles makes the result bit-reproducible —
    at scale this is also one pass instead of Welford merges.
    """
    lt = table(spark, sf_dir, "lineitem")
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    base = lt.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(q, "s1"),
        dsum(q * q, "s2"),
        dsum(p, "sy"),
        dsum(p * p, "syy"),
        dsum(q * p, "sxy"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    sy, syy, sxy = F.col("sy"), F.col("syy"), F.col("sxy")
    var_q = (s2 - s1 * s1 / n) / (n - 1)
    return base.select(
        "l_returnflag",
        var_q.alias("var_qty"),
        F.sqrt(var_q).alias("stddev_qty"),
        # FMA contraction in DuckDB's compiled expression shifts corr by
        # ~2 ulp; 9-dp rounding lands both engines on the same grid.
        F.round(
            (sxy - s1 * sy / n) / F.sqrt((s2 - s1 * s1 / n) * (syy - sy * sy / n)), 9
        ).alias("corr_qty_price"),
    )


@register(
    "agg_conditional",
    oracle=f"""
        SELECT l_linestatus,
               {sql_dsum("CASE WHEN l_returnflag = 'R' THEN l_extendedprice ELSE 0 END", "returned_value")},
               CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned,
               COUNT(*) AS n_total
        FROM lineitem
        GROUP BY l_linestatus
    """,
    tags=("agg",),
)
def agg_conditional(spark, sf_dir):
    """Guarded aggregation — sum(CASE WHEN …) (conditional transfer +
    success counting anchors: bank.clj:10-18, throughput.clj:65-100)."""
    lt = table(spark, sf_dir, "lineitem")
    returned = F.when(F.col("l_returnflag") == "R", F.col("l_extendedprice")).otherwise(
        F.lit(0)
    )
    return lt.groupBy("l_linestatus").agg(
        dsum(returned, "returned_value"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("n_returned"),
        F.count(F.lit(1)).alias("n_total"),
    )


@register(
    "agg_percentile",
    oracle=None,  # rows-only: approximate quantile sketch is engine-specific
    tags=("agg", "approx"),
)
def agg_percentile(spark, sf_dir):
    """Median + p90 of quantity per returnflag via percentile_approx — the
    mergeable-sketch path that scales where exact quantiles would need a
    global sort (quantile-sketch survey: PAPERS.md, EDBT 2023)."""
    lt = table(spark, sf_dir, "lineitem")
    return lt.groupBy("l_returnflag").agg(
        F.percentile_approx("l_quantity", 0.5, 10000).alias("median_qty"),
        F.percentile_approx("l_quantity", 0.9, 10000).alias("p90_qty"),
    )


@register(
    "agg_collect_sorted",
    oracle="""
        SELECT o_custkey,
               array_to_string(list(o_orderkey ORDER BY o_orderkey), ',') AS orderkeys
        FROM orders
        WHERE o_totalprice > 150000
        GROUP BY o_custkey
    """,
    tags=("agg",),
)
def agg_collect_sorted(spark, sf_dir):
    """Per-group sorted list of order keys (deterministic via sort_array).

    The list is emitted as a comma-joined string: a harness that
    canonicalizes rows via pandas sort/hash can't handle array cells,
    and the string form carries identical information.
    """
    o = table(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_totalprice") > 150000)
        .groupBy("o_custkey")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_list("o_orderkey"))).alias(
                "orderkeys"
            )
        )
    )


@register(
    "agg_invariant",
    oracle=f"""
        SELECT {sql_dsum("o_totalprice", "total")}, COUNT(*) AS n_orders
        FROM orders
    """,
    tags=("agg", "invariant"),
)
def agg_invariant(spark, sf_dir):
    """Conservation check: a single-row exact total (the analytics form of
    the reference's bank-balance invariant, throughput.clj:137-147 /
    bank.clj:41-44 — total must be exact under any execution order)."""
    o = table(spark, sf_dir, "orders")
    return o.agg(
        dsum("o_totalprice", "total"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "agg_percentile_exact",
    oracle="""
        SELECT l_returnflag,
               quantile_cont(l_quantity, 0.5) AS median_qty,
               quantile_cont(l_extendedprice, 0.9) AS p90_price
        FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "percentile"),
)
def agg_percentile_exact(spark, sf_dir):
    """EXACT percentiles (linear interpolation — Spark `percentile` and
    DuckDB `quantile_cont` agree bit-for-bit). The exact form needs the
    group's values gathered per partition — fine for bounded group
    counts; unbounded-cardinality profiling at 100 TB should use the
    sketch-based `agg_percentile` (percentile_approx) instead."""
    lt = table(spark, sf_dir, "lineitem")
    return lt.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", 0.5).alias("median_qty"),
        F.percentile("l_extendedprice", 0.9).alias("p90_price"),
    )


@register(
    "agg_incremental_merge",
    oracle="""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS total_value,
               MIN(value) AS min_value, MAX(value) AS max_value
        FROM events GROUP BY event_type
    """,
    tags=("agg", "incremental"),
)
def agg_incremental_merge(spark, sf_dir):
    """Materialized-view maintenance: per-type aggregates maintained by
    MERGING pre-aggregated partials instead of rescanning history.

    The stream is split into two arrival batches (event_id parity);
    each batch is aggregated INDEPENDENTLY to decomposable partials
    (count / decimal sum / min / max), and the maintained view is the
    second-level merge of the partial rows. At 100 TB this is how a
    continuous aggregate absorbs a new partition: merge its partial,
    never re-aggregate the base table. The oracle aggregates the base
    table directly — merged partials must be indistinguishable from a
    full recompute (decimal sums make the merge order-independent).
    """
    ev = table(spark, sf_dir, "events")

    def partial(batch):
        return batch.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(27,6)")).alias("s"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )

    partials = partial(ev.filter(F.col("event_id") % 2 == 0)).unionByName(
        partial(ev.filter(F.col("event_id") % 2 == 1))
    )
    return partials.groupBy("event_type").agg(
        F.sum("n").alias("n_events"),
        F.sum("s").cast("double").alias("total_value"),
        F.min("mn").alias("min_value"),
        F.max("mx").alias("max_value"),
    )


@register("agg_hll_partial_merge", oracle=None, tags=("agg", "sketch"))
def agg_hll_partial_merge(spark, sf_dir):
    """Mergeable distinct-count SKETCHES — the pre-aggregation contract
    at 100 TB: per-(event_type, day) HLL sketches are built where the
    data lives (map-side, one pass), then per-type daily sketches merge
    losslessly into the monthly estimate WITHOUT touching rows again —
    the union of partials is bit-identical to sketching the whole
    partition in one pass (pinned in tests). Ships the estimate next to
    the exact distinct so the error is visible data (rows-only: sketch
    bytes are engine-specific)."""
    from pyspark.sql import functions as F

    ev = table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day"), "user_id"
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.hll_sketch_agg("user_id").alias("sketch"),
        F.count_distinct("user_id").alias("n_exact_day"),
    )
    return (
        daily.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias(
                "n_users_est"
            ),
            F.sum("n_exact_day").alias("sum_daily_exact"),
        )
        .join(
            ev.groupBy("event_type").agg(
                F.count_distinct("user_id").alias("n_users_exact")
            ),
            "event_type",
        )
        .select(
            "event_type",
            "n_users_est",
            "n_users_exact",
            (F.col("n_users_est") - F.col("n_users_exact")).alias("est_error"),
            "sum_daily_exact",
        )
        .orderBy("event_type")
    )


@register(
    "agg_mode",
    oracle="""
        WITH c AS (
            SELECT o_orderstatus, o_orderpriority,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM orders GROUP BY 1, 2
        ),
        r AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                          ORDER BY cnt DESC, o_orderpriority) AS rn
            FROM c
        )
        SELECT o_orderstatus, o_orderpriority AS mode_priority,
               cnt AS n_mode
        FROM r WHERE rn = 1
    """,
    tags=("agg",),
)
def agg_mode(spark, sf_dir):
    """Statistical MODE per group (most frequent o_orderpriority per
    status; tie → lexicographically smallest, so the answer is
    deterministic). Two keyed aggregations — counts, then an
    ordered-struct min over the counts — both map-side-combined; no
    window, no sort of the raw rows. The standard way to pick a
    per-group argmax at 100 TB without shuffling values twice."""
    orders = table(spark, sf_dir, "orders")
    counts = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return (
        counts.groupBy("o_orderstatus")
        .agg(
            F.min(
                F.struct(
                    (-F.col("cnt")).alias("neg_cnt"),
                    F.col("o_orderpriority").alias("p"),
                )
            ).alias("_m")
        )
        .select(
            "o_orderstatus",
            F.col("_m.p").alias("mode_priority"),
            (-F.col("_m.neg_cnt")).alias("n_mode"),
        )
    )


@register(
    "agg_skew_kurtosis",
    oracle="""
        WITH m AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS s1,
                   CAST(SUM(CAST(value * value AS DECIMAL(27,6))) AS DOUBLE)
                       AS s2,
                   CAST(SUM(CAST(value * value * value AS DECIMAL(38,6)))
                       AS DOUBLE) AS s3,
                   CAST(SUM(CAST(value * value * value * value
                       AS DECIMAL(38,6))) AS DOUBLE) AS s4
            FROM events GROUP BY event_type
        )
        SELECT event_type, n,
               CASE WHEN (s2 / n) - (s1 / n) * (s1 / n) = 0 THEN NULL
                    ELSE round((s3 / n - 3 * (s1 / n) * (s2 / n)
                           + 2 * (s1 / n) * (s1 / n) * (s1 / n))
                          / pow((s2 / n) - (s1 / n) * (s1 / n), 1.5), 6)
                    END AS skewness,
               CASE WHEN (s2 / n) - (s1 / n) * (s1 / n) = 0 THEN NULL
                    ELSE round((s4 / n - 4 * (s1 / n) * (s3 / n)
                           + 6 * (s1 / n) * (s1 / n) * (s2 / n)
                           - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
                          / pow((s2 / n) - (s1 / n) * (s1 / n), 2) - 3, 6)
                    END AS excess_kurtosis
        FROM m
    """,
    tags=("agg", "stats"),
)
def agg_skew_kurtosis(spark, sf_dir):
    """Skewness + excess kurtosis from exact decimal power sums — the
    3rd/4th-moment extension of agg_stats' moment method. Built-in
    skewness/kurtosis stream doubles in partition order
    (nondeterministic across engines and partitionings); deriving the
    population moments from order-independent decimal sums makes both
    statistics bit-reproducible at 6dp. One pass, one agg shuffle."""
    ev = table(spark, sf_dir, "events")
    v = F.col("value")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v.cast("decimal(27,6)")).cast("double").alias("s1"),
        F.sum((v * v).cast("decimal(27,6)")).cast("double").alias("s2"),
        F.sum((v * v * v).cast("decimal(38,6)")).cast("double").alias("s3"),
        F.sum((v * v * v * v).cast("decimal(38,6)")).cast("double").alias("s4"),
    )
    n = F.col("n")
    m1, m2 = F.col("s1") / n, F.col("s2") / n
    m3, m4 = F.col("s3") / n, F.col("s4") / n
    var = m2 - m1 * m1
    skew = (m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1) / F.pow(var, 1.5)
    kurt = (
        m4 - 4 * m1 * m3 + 6 * m1 * m1 * m2 - 3 * m1 * m1 * m1 * m1
    ) / F.pow(var, 2) - 3
    # a constant-valued group has var exactly 0 (decimal sums make the
    # cancellation exact): its higher moments are undefined — NULL, not
    # an ANSI divide-by-zero abort
    return m.select(
        "event_type",
        "n",
        F.when(var != 0, F.round(skew, 6)).alias("skewness"),
        F.when(var != 0, F.round(kurt, 6)).alias("excess_kurtosis"),
    )


_CMS_DEPTH = 4
_CMS_WIDTH = 2048


def _cms_hash_sql(key_sql: str, j) -> str:
    """Row `j`'s bucket for `key_sql` in the PORTABLE Count-Min sketch:
    the engine-portable 48-bit md5 hash (text.word_hash48_sql — the
    same construction the KMV sketch and document fingerprints use)
    of 'cm' + j + ':' + key, mod the sketch width. `j` may be a Python
    int (Spark side inlines the row index) or a SQL column reference
    (the oracle cross-joins range(depth))."""
    from opusdb_spark.operators.text import word_hash48_sql

    word = f"concat(CAST({j} AS STRING), ':', {key_sql})"
    return f"({word_hash48_sql(word, salt='cm')} % {_CMS_WIDTH})"


def _countmin_oracle() -> str:
    h = _cms_hash_sql("CAST(l_partkey AS STRING)", "js.j")
    return f"""
        WITH js AS (SELECT UNNEST(range({_CMS_DEPTH})) AS j),
        cm AS (
            SELECT js.j, {h} AS bucket, CAST(COUNT(*) AS BIGINT) AS c
            FROM lineitem, js GROUP BY 1, 2
        ),
        top AS (
            SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS exact
            FROM lineitem GROUP BY 1
            ORDER BY exact DESC, l_partkey LIMIT 10
        ),
        probes AS (
            SELECT t.l_partkey, t.exact, js.j,
                   {_cms_hash_sql("CAST(t.l_partkey AS STRING)", "js.j")}
                       AS bucket
            FROM top t, js
        ),
        est AS (
            SELECT p.l_partkey, p.exact, MIN(c.c) AS cms_estimate
            FROM probes p JOIN cm c ON c.j = p.j AND c.bucket = p.bucket
            GROUP BY 1, 2
        )
        SELECT l_partkey, exact, cms_estimate,
               cms_estimate - exact AS overcount
        FROM est ORDER BY exact DESC, l_partkey
    """


@register(
    "agg_countmin_topk", oracle=_countmin_oracle(), tags=("agg", "sketch")
)
def agg_countmin_topk(spark, sf_dir):
    """Count-Min Sketch heavy hitters: a fixed-size mergeable frequency
    sketch (depth 4 × width 2048) built over l_partkey in ONE
    map-side-combinable pass, then probed for the EXACT top-10 parts —
    est vs exact side by side with the signed error (CMS never
    under-counts; the one-sided bound is pinned in tests). The 100 TB
    story is the sketch's: executors count (row, bucket) cells locally
    and the cells merge associatively — frequency profiling whose
    state is depth×width regardless of corpus size.

    Hash-oracled since r10 (previously rows-only behind Spark's
    engine-private `F.count_min_sketch` bytes): the sketch now hashes
    with the ENGINE-PORTABLE md5 construction (operators/text.py
    word_hash48_sql — same family as the KMV sketch and document
    fingerprints), so DuckDB rebuilds the identical sketch cell-for-
    cell and replays every estimate (_countmin_oracle) — the same
    replay-the-algebra treatment the KMV set ops got in r9."""
    li = table(spark, sf_dir, "lineitem").select("l_partkey")
    key = "CAST(l_partkey AS STRING)"
    cells = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                F.expr(_cms_hash_sql(key, j)).alias("bucket"),
            )
            for j in range(_CMS_DEPTH)
        ]
    )
    cm = (
        li.select(F.explode(cells).alias("e"))
        .select("e.j", "e.bucket")
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("exact"))
        .orderBy(F.desc("exact"), F.asc("l_partkey"))
        .limit(10)
    )
    probes = top.select(
        "l_partkey", "exact", F.explode(cells).alias("e")
    ).select("l_partkey", "exact", "e.j", "e.bucket")
    est = (
        cm.join(F.broadcast(probes), ["j", "bucket"])
        .groupBy("l_partkey", "exact")
        .agg(F.min("c").alias("cms_estimate"))
    )
    return est.select(
        "l_partkey",
        "exact",
        "cms_estimate",
        (F.col("cms_estimate") - F.col("exact")).alias("overcount"),
    ).orderBy(F.desc("exact"), F.asc("l_partkey"))


@register(
    "agg_grouping_flags",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
               CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("agg", "rollup"),
)
def agg_grouping_flags(spark, sf_dir):
    """GROUPING() flags on a rollup: subtotal rows are DISTINGUISHABLE
    from genuine NULL group keys — the flag says which NULLs mean
    'aggregated away'. Without it a rollup over a nullable key is
    ambiguous; with it the cube/rollup family is actually consumable
    downstream."""
    lt = table(spark, sf_dir, "lineitem")
    return lt.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_bool_logic",
    oracle="""
        SELECT o_orderstatus,
               bool_and(o_totalprice > 1000) AS all_over_1k,
               bool_or(o_totalprice > 400000) AS any_over_400k,
               CAST(COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT')
                   AS BIGINT) AS n_urgent
        FROM orders GROUP BY o_orderstatus
    """,
    tags=("agg", "boolean"),
)
def agg_bool_logic(spark, sf_dir):
    """Boolean aggregates: every/some (ALL/ANY over a predicate) plus
    count_if — the predicate-rollup surface dashboards and data-quality
    checks are built from. Map-side-combinable like any aggregate; one
    shuffle."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.every(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.some(F.col("o_totalprice") > 400000).alias("any_over_400k"),
        F.count_if(F.col("o_orderpriority") == "1-URGENT").alias("n_urgent"),
    )


@register(
    "agg_weighted_avg",
    oracle="""
        SELECT l_returnflag,
               CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(27,6)))
                    AS DOUBLE)
               / CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE)
                   AS wavg_price,
               CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE)
                   AS total_weight
        FROM lineitem
        GROUP BY l_returnflag
    """,
    tags=("agg",),
)
def agg_weighted_avg(spark, sf_dir):
    """Quantity-weighted mean price per return flag: both the
    numerator and the weight total are order-free decimal sums, so the
    final double division is identical in any partitioning — the
    weighted-mean idiom exactness.davg can't express (davg weights
    every row equally)."""
    lt = table(spark, sf_dir, "lineitem")
    num = F.sum(
        (F.col("l_extendedprice") * F.col("l_quantity")).cast(
            "decimal(27,6)"
        )
    ).cast("double")
    den = F.sum(F.col("l_quantity").cast("decimal(27,6)")).cast("double")
    return lt.groupBy("l_returnflag").agg(
        (num / den).alias("wavg_price"),
        den.alias("total_weight"),
    )


_REGR_MOMENTS_SQL = """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(27,6)))
                AS DOUBLE) AS sxx,
           CAST(SUM(CAST(l_extendedprice * l_extendedprice
                         AS DECIMAL(27,6))) AS DOUBLE) AS syy,
           CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(27,6)))
                AS DOUBLE) AS sxy
    FROM lineitem GROUP BY 1
"""


@register(
    "agg_linear_regression",
    oracle=f"""
        WITH m AS ({_REGR_MOMENTS_SQL})
        SELECT l_returnflag, n,
               ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
                   AS slope,
               ROUND(sy / n - ((n * sxy - sx * sy)
                               / (n * sxx - sx * sx)) * sx / n, 6)
                   AS intercept,
               ROUND((n * sxy - sx * sy)
                     / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)),
                     6) AS corr_xy
        FROM m ORDER BY l_returnflag
    """,
    tags=("agg", "stats"),
)
def agg_linear_regression(spark, sf_dir):
    """Per-group OLS (price ~ quantity): slope, intercept, and Pearson
    correlation from EXACT decimal power sums — the regr_slope /
    regr_intercept / corr surface, but bit-reproducible where the
    built-ins accumulate doubles in partition order (the same
    determinism rationale as agg_skew_kurtosis). One map-side-combined
    aggregation computes all five moments in a single pass; the final
    formulas are pure double arithmetic on the deterministic sums,
    6dp-rounded for the cross-engine sqrt/divide contract."""
    lt = table(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    m = lt.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(x, "sx"),
        dsum(y, "sy"),
        dsum(x * x, "sxx"),
        dsum(y * y, "syy"),
        dsum(x * y, "sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return m.select(
        "l_returnflag",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round(sy / n - slope * sx / n, 6).alias("intercept"),
        F.round(
            (n * sxy - sx * sy)
            / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("corr_xy"),
    ).orderBy("l_returnflag")
