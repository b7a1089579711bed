"""Versioned-table (MVCC) and skew-mitigation queries.

The events table doubles as a version history: user_id is the ref,
event_id the write point (the LSN/WRITE_POINT analog — monotone,
unique), value the cell value. These queries drive opusdb_spark.mvcc
and opusdb_spark.operators.skew through the oracle gate.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from opusdb_spark import mvcc
from opusdb_spark.operators import skew
from opusdb_spark.registry import register
from opusdb_spark.sources import formats
from opusdb_spark.tables import table


def _versions(spark, sf_dir):
    """events as a versioned-cell table (ref=user_id, wp=event_id)."""
    return table(spark, sf_dir, "events").select(
        F.col("user_id").alias("ref_id"),
        F.col("event_id").alias("write_point"),
        "value",
    )


@register(
    "mvcc_snapshot_read",
    oracle="""
        SELECT ref_id, write_point, value FROM (
            SELECT user_id AS ref_id, event_id AS write_point, value,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY event_id DESC) AS rn
            FROM events WHERE event_id <= 5000
        ) WHERE rn = 1
    """,
    tags=("mvcc",),
)
def mvcc_snapshot_read(spark, sf_dir):
    """Snapshot read at read-point 5000: newest version ≤ rp per ref —
    the find-version rule (stm.clj:55-65) through the mvcc API."""
    return mvcc.snapshot(_versions(spark, sf_dir), 5000)


@register(
    "mvcc_conservation",
    oracle="""
        WITH deltas AS (
            SELECT event_id AS write_point,
                   CAST(value - COALESCE(LAG(value) OVER (
                       PARTITION BY user_id ORDER BY event_id), 0)
                   AS DECIMAL(27,6)) AS d
            FROM events
        )
        SELECT write_point,
               CAST(SUM(d) OVER (ORDER BY write_point
                                 ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS total
        FROM deltas
    """,
    tags=("mvcc",),
)
def mvcc_conservation(spark, sf_dir):
    """Total value as of EVERY write point in one pass (delta + running
    sum — no per-snapshot rescan): the bank invariant query
    (benchmark/bank.clj:41-44) generalized to a full balance history.
    Decimal-summed so the running totals hash-match the oracle.
    Write-point bounds ride in from parquet footer metadata (a
    driver-side read, not a job), so building the plan issues NO Spark
    action — the caller's own action is the only one."""
    return mvcc.conservation(
        _versions(spark, sf_dir),
        decimal=True,
        bounds=formats.column_range(
            [formats.table_path(sf_dir, "events")], "event_id"
        ),
    )


@register(
    "mvcc_time_travel_diff",
    oracle="""
        WITH v AS (
            SELECT user_id AS ref_id, event_id AS write_point, value
            FROM events WHERE event_id <= 7000
        ),
        a AS (
            SELECT ref_id, write_point, value FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY ref_id
                                             ORDER BY write_point DESC) AS rn
                FROM v WHERE write_point <= 3000) WHERE rn = 1
        ),
        b AS (
            SELECT ref_id, write_point, value FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY ref_id
                                             ORDER BY write_point DESC) AS rn
                FROM v) WHERE rn = 1
        )
        SELECT b.ref_id,
               CASE WHEN a.ref_id IS NULL THEN 'insert'
                    ELSE 'update' END AS op,
               a.write_point AS old_wp, b.write_point AS new_wp,
               a.value AS old_value, b.value AS new_value
        FROM b LEFT JOIN a ON a.ref_id = b.ref_id
        WHERE a.ref_id IS NULL OR a.write_point <> b.write_point
    """,
    tags=("mvcc",),
)
def mvcc_time_travel_diff(spark, sf_dir):
    """What changed between read-points 3000 and 7000: per-ref
    insert/update classification with old/new version + value. Derefs
    the same refs at two read points (find-version, stm.clj:55-65) —
    but both snapshots fall out of ONE scan + ONE groupBy
    (mvcc.snapshot_diff), not two window passes joined."""
    return mvcc.snapshot_diff(_versions(spark, sf_dir), 3000, 7000)


@register(
    "mvcc_snapshot_stale",
    oracle="""
        WITH rp AS (
            SELECT (MAX(event_id) * 3) // 4 AS rp FROM events
        ),
        born AS (
            SELECT user_id AS ref_id, MIN(event_id) AS first_wp
            FROM events GROUP BY user_id
        ),
        retained AS (
            SELECT user_id AS ref_id, event_id FROM (
                SELECT user_id, event_id,
                       ROW_NUMBER() OVER (PARTITION BY user_id
                                          ORDER BY event_id DESC) AS rn
                FROM events) WHERE rn <= 16
        ),
        ret_b AS (
            SELECT ref_id, MIN(event_id) AS oldest_retained
            FROM retained GROUP BY ref_id
        ),
        probe AS (
            SELECT DISTINCT user_id AS ref_id FROM events
            UNION
            SELECT DISTINCT user_id + 1000000 FROM events
            WHERE user_id % 10 = 0
        )
        SELECT p.ref_id, b.first_wp, r.oldest_retained,
               CASE WHEN r.oldest_retained <= rp.rp THEN 'visible'
                    WHEN b.first_wp <= rp.rp THEN 'stale'
                    ELSE 'absent' END AS read_status
        FROM probe p
        LEFT JOIN ret_b r ON p.ref_id = r.ref_id
        LEFT JOIN born b ON p.ref_id = b.ref_id
        CROSS JOIN rp
    """,
    tags=("mvcc",),
)
def mvcc_snapshot_stale(spark, sf_dir):
    """Too-old-read-point classification after history truncation.

    The reference FAILS a read whose read-point predates the oldest
    retained version: find-version returns nil and the transaction
    retries at a newer read point (stm.clj:172-174, retry pinned at
    stm_test.clj:156-174) — a ref born after the read point produces
    the SAME nil, so the reference cannot tell "GC'd" from "not yet
    created". With the full history in the lake this engine CAN:
    for every probe ref (all live refs plus a 10% phantom set that
    never existed) at read-point = 3/4 of the clock's high-water mark,

      - 'visible': the retain(16) history still holds a version ≤ rp —
        the normal find-version hit (stm.clj:55-65);
      - 'stale':   versions ≤ rp existed but MAX_HISTORY truncation
        (stm.clj:42-53) dropped them — the reference's nil→retry case;
      - 'absent':  no version ≤ rp ever existed (born later, or a
        phantom ref the reference would reject as unknown).

    The read point derives lazily from max(write_point) (the clock's
    AtomicLong high-water mark, stm.clj:12) — broadcast scalar, no
    driver action; everything else is two groupBys on ref_id and
    broadcast-joined model-sized bounds."""
    full = _versions(spark, sf_dir)
    rp = full.agg(F.expr("max(write_point) * 3 div 4").alias("_rp"))
    born = full.groupBy("ref_id").agg(F.min("write_point").alias("first_wp"))
    ret_b = (
        mvcc.retain(full, mvcc.MAX_HISTORY)
        .groupBy("ref_id")
        .agg(F.min("write_point").alias("oldest_retained"))
    )
    probe = (
        full.select("ref_id")
        .unionByName(
            full.filter(F.col("ref_id") % 10 == 0).select(
                (F.col("ref_id") + 1000000).alias("ref_id")
            )
        )
        .distinct()
    )
    status = (
        F.when(F.col("oldest_retained") <= F.col("_rp"), "visible")
        .when(F.col("first_wp") <= F.col("_rp"), "stale")
        .otherwise("absent")
    )
    return (
        probe.join(ret_b, "ref_id", "left")
        .join(born, "ref_id", "left")
        .crossJoin(F.broadcast(rp))
        .select("ref_id", "first_wp", "oldest_retained", status.alias("read_status"))
    )


@register(
    "mvcc_conflict_detect",
    oracle="""
        WITH clock AS (
            SELECT MAX(event_id) // 2 AS rp,
                   MAX(event_id) // 2 + MAX(event_id) // 64 AS cp
            FROM events
        ),
        readset AS (
            SELECT DISTINCT user_id AS ref_id FROM events
            WHERE user_id % 3 = 0
        )
        SELECT r.ref_id,
               COUNT(e.event_id) AS n_intervening,
               MIN(e.event_id) AS first_intervening_wp,
               CASE WHEN COUNT(e.event_id) = 0
                    THEN 'commit' ELSE 'retry' END AS verdict
        FROM readset r
        CROSS JOIN clock c
        LEFT JOIN events e
          ON e.user_id = r.ref_id
         AND e.event_id > c.rp AND e.event_id <= c.cp
        GROUP BY r.ref_id
    """,
    tags=("mvcc",),
)
def mvcc_conflict_detect(spark, sf_dir):
    """Commit-time read-consistency validation (OCC conflict check).

    The reference's `ensure` path re-checks, at commit, that every ref
    the transaction READ is still at the version it read — any
    intervening committed write means the read is inconsistent and the
    transaction retries (ensure-read-consistency, stm.clj:37-40; retry
    pinned at stm_test.clj:221-253). The analytic analog over the
    versions table: for a transaction with read-point = half the
    clock's high-water mark and read-set = refs with ref_id % 3 = 0,
    count per ref the versions committed between the read point and
    the commit point (a 1/64-clock-span transaction lifetime). Zero →
    'commit' (validation passes); otherwise 'retry', with the first
    intervening write point as the witness.

    Shape at scale: the read-set is a distinct-project of the keys
    (one shuffle), the validation itself one equi-join on the key with
    the write-point predicate pushed into it — no window, no all-pairs.
    The read point derives lazily from max(write_point) (AtomicLong
    clock, stm.clj:12) and broadcasts as a one-row scalar."""
    full = _versions(spark, sf_dir)
    clock = full.agg(
        F.expr("max(write_point) div 2").alias("_rp"),
        F.expr("max(write_point) div 2 + max(write_point) div 64").alias("_cp"),
    )
    readset = (
        full.filter(F.col("ref_id") % 3 == 0).select("ref_id").distinct()
    )
    intervening = (
        full.crossJoin(F.broadcast(clock))
        .filter(
            (F.col("write_point") > F.col("_rp"))
            & (F.col("write_point") <= F.col("_cp"))
        )
        .select("ref_id", "write_point")
    )
    joined = readset.join(intervening, "ref_id", "left")
    return joined.groupBy("ref_id").agg(
        F.count("write_point").alias("n_intervening"),
        F.min("write_point").alias("first_intervening_wp"),
        F.when(F.count("write_point") == 0, "commit")
        .otherwise("retry")
        .alias("verdict"),
    )


@register(
    "mvcc_txn_rollback",
    # Hash-checked since r9: the sink is re-initialized (overwrite)
    # at the start of every call, so the surviving state is
    # deterministic — base rows (write points ≤ 200, filtered out of
    # the readout) plus exactly ONE committed batch at
    # write_point = max(base)+1 with one row per distinct ref, and
    # NOTHING from the aborted batch. The oracle computes that end
    # state directly; a torn abort (any batch-2 row surviving) would
    # change the counts and fail the hash.
    oracle="""
        WITH base AS (
            SELECT user_id AS ref_id, event_id AS write_point, value
            FROM events WHERE user_id < 20 AND event_id <= 200
        ),
        commit1 AS (
            SELECT MAX(write_point) + 1 AS write_point,
                   CAST(COUNT(DISTINCT ref_id) AS BIGINT) AS n_rows
            FROM base
        )
        SELECT write_point, n_rows FROM commit1 WHERE write_point > 200
    """,
    tags=("mvcc", "write-path"),
)
def mvcc_txn_rollback(spark, sf_dir):
    """Atomic multi-update batch + abort, on the REAL write path
    (reference: abort rolls back the whole write-set, stm.clj:103-106;
    pinned behavior stm_test.clj:48-60).

    A committed batch appends all its rows in one Spark job (the output
    committer publishes all-or-nothing); an aborting batch — here a
    task that raises mid-write — publishes NOTHING. The query commits
    batch 1, attempts a failing batch 2, and returns per-write-point
    row counts from the sink: write points {base, base+1} present,
    the aborted batch absent (rows-only: side-effecting)."""
    from opusdb_spark.sources import scratch_sink

    out = scratch_sink("txn_rollback_log")
    base = (
        table(spark, sf_dir, "events")
        .select(
            F.col("user_id").alias("ref_id"),
            F.col("event_id").alias("write_point"),
            "value",
        )
        .filter(F.col("ref_id") < 20)
        .filter(F.col("write_point") <= 200)
    )
    base.write.mode("overwrite").parquet(out)
    committed = spark.read.parquet(out)

    updates1 = committed.groupBy("ref_id").agg(
        (F.max("value") + 10.0).alias("value")
    )
    batch1 = mvcc.append_versions(committed, updates1)
    new_rows1 = batch1.join(committed, ["ref_id", "write_point"], "left_anti")
    new_rows1.write.mode("append").parquet(out)

    # batch 2 aborts mid-write: one task raises, the committer
    # discards every staged file — the whole write-set rolls back.
    updates2 = updates1.withColumn(
        "value",
        F.when(
            F.col("ref_id") >= 0, F.expr("raise_error('txn abort')").cast("double")
        ).otherwise(F.col("value")),
    )
    batch2 = mvcc.append_versions(spark.read.parquet(out), updates2)
    new_rows2 = batch2.join(
        spark.read.parquet(out), ["ref_id", "write_point"], "left_anti"
    )
    # the abort IS the expected path; a clean finish means the
    # atomicity contract broke — tracked with a flag so the check can't
    # be swallowed by the handler for the expected failure
    aborted = False
    try:
        new_rows2.write.mode("append").parquet(out)
    except Exception:
        aborted = True
    if not aborted:
        raise AssertionError("aborting batch unexpectedly committed")

    return (
        spark.read.parquet(out)
        .groupBy("write_point")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .filter(F.col("write_point") > 200)  # just the batch write points
        .orderBy("write_point")
    )


@register(
    "sink_reopen_append",
    # upgraded from rows-only in r9: scratch_sink clears on entry, so
    # the three appended blocks are fully determined by the event
    # slices — the oracle states each block's expected row count
    # directly from the source table
    oracle="""
        SELECT CAST(0 AS INT) AS block_id, CAST(COUNT(*) AS BIGINT)
            AS n_rows
        FROM events WHERE event_id <= 300 AND event_id % 2 = 0
        UNION ALL
        SELECT 1, CAST(COUNT(*) AS BIGINT)
        FROM events WHERE event_id <= 300 AND event_id % 2 = 1
        UNION ALL
        SELECT 2, CAST(COUNT(*) AS BIGINT)
        FROM events WHERE event_id <= 100
        ORDER BY block_id
    """,
    tags=("sink", "write-path"),
)
def sink_reopen_append(spark, sf_dir):
    """Reopen-and-continue appending (reference: make-log-mgr reopens
    the last block and continues, log_mgr.clj:68-86; pinned behavior
    log_mgr_test.clj:153-163).

    Writer #1 appends blocks 0-1 and is discarded; a FRESH writer
    derives the next block id by reading the sink (the reopen scan)
    and appends block 2. Read-back shows all three blocks contiguous.
    Hash-oracled since r9: clear-on-entry makes the sink content a
    pure function of the event slices, so the oracle derives each
    block's count from the source table."""
    from opusdb_spark.sources import scratch_sink

    out = scratch_sink("reopen_log")
    ev = (
        table(spark, sf_dir, "events")
        .select("event_id", "event_type", "value")
        .filter(F.col("event_id") <= 300)
    )
    for block in (0, 1):  # writer #1
        (
            ev.filter(F.col("event_id") % 2 == block)
            .withColumn("block_id", F.lit(block))
            .write.mode("append")
            .parquet(out)
        )
    # "reopen": a fresh writer learns where the log ends by reading it
    next_block = (
        spark.read.parquet(out).agg(F.max("block_id")).first()[0] + 1
    )
    (
        ev.filter(F.col("event_id") <= 100)
        .withColumn("block_id", F.lit(next_block))
        .write.mode("append")
        .parquet(out)
    )
    return (
        spark.read.parquet(out)
        .groupBy("block_id")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy("block_id")
    )


@register(
    "join_salted_skew",
    oracle="""
        SELECT c_mktsegment, COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS total_value
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY c_mktsegment
    """,
    tags=("join", "skew"),
)
def join_salted_skew(spark, sf_dir):
    """Hot-key-proof join: salt the fact side, replicate the dim ×S —
    row-identical to the plain join (this oracle IS the plain join),
    but a key owning 10% of events spreads over S tasks instead of
    stalling one."""
    events = table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    customer = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = skew.salted_join(
        events, customer, "user_id", n_salts=8, salt_cols=["event_id"]
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(27,6)")).cast("double").alias(
            "total_value"
        ),
    )


@register(
    "agg_salted_skew",
    oracle="""
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS total_value
        FROM events GROUP BY event_type
    """,
    tags=("agg", "skew"),
)
def agg_salted_skew(spark, sf_dir):
    """Two-phase (salted) aggregation: (key, salt) partials → key
    finals. Decomposable aggs only; decimal sums keep it order-exact."""
    ev = table(spark, sf_dir, "events").withColumn(
        "dv", F.col("value").cast("decimal(27,6)")
    )
    out = skew.two_phase_agg(
        ev.select("event_id", "event_type", "dv"),
        "event_type",
        [("dv", "count", "n"), ("dv", "sum", "total_value")],
        n_salts=8,
        salt_cols=["event_id"],
    )
    return out.select(
        "event_type", "n", F.col("total_value").cast("double").alias("total_value")
    )


@register(
    "mvcc_merge_upsert",
    oracle="""
        WITH latest AS (
            SELECT ref_id, wp, value FROM (
                SELECT user_id AS ref_id, event_id AS wp, value,
                       ROW_NUMBER() OVER (PARTITION BY user_id
                                          ORDER BY event_id DESC) AS rn
                FROM events) WHERE rn = 1
        ),
        changes AS (
            SELECT ref_id, value * 2 AS value, 'upsert' AS op
            FROM latest WHERE ref_id % 5 = 0
            UNION ALL
            SELECT ref_id, CAST(NULL AS DOUBLE), 'delete'
            FROM latest WHERE ref_id % 11 = 0 AND ref_id % 5 <> 0
            UNION ALL
            SELECT ref_id + 1000000, 1.5, 'upsert'
            FROM latest WHERE ref_id % 7 = 0
        )
        SELECT COALESCE(c.ref_id, l.ref_id) AS ref_id,
               CASE WHEN c.ref_id IS NOT NULL
                    THEN (SELECT MAX(event_id) FROM events) + 1
                    ELSE l.wp END AS write_point,
               CASE WHEN c.ref_id IS NOT NULL
                    THEN c.value ELSE l.value END AS value
        FROM latest l FULL JOIN changes c ON l.ref_id = c.ref_id
        WHERE COALESCE(c.op, 'keep') <> 'delete'
    """,
    tags=("mvcc", "write-path"),
)
def mvcc_merge_upsert(spark, sf_dir):
    """MERGE a mixed change-set (update / delete / insert) as one
    committed write point, then read the post-merge state.

    Updates double the value of refs % 5 = 0; refs % 11 = 0 (and not
    updated) get tombstoned; refs % 7 = 0 spawn a NEW key at
    ref_id + 1000000. All land under ONE write point — the reference's
    whole-write-set commit (stm.clj:42-43, 103-122) — and deletes are
    tombstone versions, so earlier snapshots still see the old values.
    The oracle states the same merge as a FULL JOIN over the latest
    snapshot.
    """
    versions = _versions(spark, sf_dir)
    cur = mvcc.latest(versions)
    ups = cur.filter(F.col("ref_id") % 5 == 0).select(
        "ref_id", (F.col("value") * 2).alias("value"), F.lit("upsert").alias("_op")
    )
    dels = cur.filter(
        (F.col("ref_id") % 11 == 0) & (F.col("ref_id") % 5 != 0)
    ).select(
        "ref_id",
        F.lit(None).cast("double").alias("value"),
        F.lit("delete").alias("_op"),
    )
    ins = cur.filter(F.col("ref_id") % 7 == 0).select(
        (F.col("ref_id") + 1000000).alias("ref_id"),
        F.lit(1.5).alias("value"),
        F.lit("upsert").alias("_op"),
    )
    merged = mvcc.merge(versions, ups.unionByName(dels).unionByName(ins))
    return (
        mvcc.latest(merged)
        .filter(~F.col("_deleted"))
        .select("ref_id", "write_point", "value")
    )


@register(
    "scd2_history",
    oracle="""
        SELECT user_id AS ref_id, event_id AS version_from, value,
               LEAD(event_id) OVER (PARTITION BY user_id ORDER BY event_id)
                   AS version_to,
               CASE WHEN LEAD(event_id) OVER (PARTITION BY user_id
                                              ORDER BY event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_current
        FROM events
    """,
    tags=("mvcc", "scd2"),
)
def scd2_history(spark, sf_dir):
    """Type-2 slowly-changing-dimension view of the version history:
    each version becomes a half-open validity interval
    [version_from, version_to) with an is_current flag — the warehouse
    rendering of the reference's history vector (newest-last,
    stm.clj:153-158), where 'current' is deref and any read-point falls
    into exactly one interval (find-version, stm.clj:55-65). One window
    over partitionBy(key): a single hash shuffle at any scale."""
    v = _versions(spark, sf_dir)
    from pyspark.sql import Window as W

    w = W.partitionBy("ref_id").orderBy("write_point")
    nxt = F.lead("write_point").over(w)
    return v.select(
        "ref_id",
        F.col("write_point").alias("version_from"),
        "value",
        nxt.alias("version_to"),
        F.when(nxt.isNull(), 1).otherwise(0).alias("is_current"),
    )


@register(
    "mvcc_vacuum_report",
    oracle="""
        WITH ranked AS (
            SELECT user_id,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        )
        SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_refs,
               CAST(COUNT(*) AS BIGINT) AS n_versions,
               CAST(SUM(CASE WHEN rn > 16 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_gc_candidates,
               ROUND(CAST(SUM(CASE WHEN rn > 16 THEN 1 ELSE 0 END)
                          AS DOUBLE) / COUNT(*), 6) AS reclaim_fraction,
               SUM(CASE WHEN rn > 16 THEN 1 ELSE 0 END) > 0 AS any_gc
        FROM ranked
    """,
    tags=("mvcc", "maintenance"),
)
def mvcc_vacuum_report(spark, sf_dir):
    """The VACUUM planning report for the reference's retain-16 GC
    (MAX_HISTORY 16, stm.clj:10, truncation stm.clj:47-50): how many
    versions per-ref history has accumulated beyond the cap and what
    fraction a GC pass would reclaim — the table-maintenance readout a
    100 TB versioned store runs before rewriting files
    (win_history_cap shows the SURVIVORS; this sizes the delete). One
    keyed window + one aggregate; WindowGroupLimit does not apply
    (every row is classified), so the shuffle is the keyed sort any
    per-ref pass pays."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    ranked = ev.select(
        "user_id", F.row_number().over(w).alias("rn")
    )
    gc = F.sum(F.when(F.col("rn") > 16, 1).otherwise(0))
    return ranked.agg(
        F.count_distinct("user_id").alias("n_refs"),
        F.count(F.lit(1)).alias("n_versions"),
        gc.cast("long").alias("n_gc_candidates"),
        F.round(gc.cast("double") / F.count(F.lit(1)), 6).alias(
            "reclaim_fraction"
        ),
        (gc > 0).alias("any_gc"),
    )
