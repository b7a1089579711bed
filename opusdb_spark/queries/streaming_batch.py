"""Streaming operators over the events log (SURVEY §2B).

Anchor: the reference's append-only WAL (log_mgr.clj) + commit/rollback
lifecycle hooks (events.clj:8-27). The events table is the log; queries
here come in two forms:

  - batch-equivalent window/session aggregations (SQL-oracle-checkable),
    computed with the same `window()` / sessionization semantics the
    streaming engine uses, and
  - true Structured Streaming runs (file source → watermark/dedup/
    foreachBatch → sink), rows-only checked, in
    opusdb_spark/streaming/jobs.py.

At scale these run as `readStream` over an append-only table with
watermarked state stores; the batch forms here share the identical
logical plan shape (groupBy window(ts, …)).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from opusdb_spark.exactness import dsum, sql_dsum
from opusdb_spark.registry import register
from opusdb_spark.tables import table
from opusdb_spark.streaming import jobs as stream_jobs


@register(
    "stream_tumbling",
    oracle=f"""
        SELECT date_trunc('hour', ts) AS window_start,
               COUNT(*) AS n_events,
               {sql_dsum("value", "sum_value")}
        FROM events GROUP BY date_trunc('hour', ts)
    """,
    tags=("streaming", "window"),
)
def stream_tumbling(spark, sf_dir):
    """Per-hour tumbling counts via window(ts, '1 hour') — the identical
    expression a `readStream.withWatermark(...).groupBy(window(...))`
    pipeline runs incrementally."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )


@register(
    "stream_sliding",
    oracle="""
        WITH offs AS (SELECT UNNEST([0, 1800000000]) AS off_us)
        SELECT make_timestamp(
                 (epoch_us(ts) - off_us) // 1800000000 * 1800000000
               ) AS window_start,
               COUNT(*) AS n_events
        FROM events CROSS JOIN offs
        GROUP BY 1
    """,
    tags=("streaming", "window"),
)
def stream_sliding(spark, sf_dir):
    """1-hour windows sliding every 30 min: each event lands in exactly 2
    windows (oracle self-expands via the two slide offsets)."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


@register(
    "stream_session",
    oracle="""
        WITH marked AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                             > 1800000000
                          OR LAG(ts) OVER w IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sessions AS (
            SELECT user_id, ts,
                   CAST(SUM(new_session) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS session_id
            FROM marked
        )
        SELECT user_id, session_id, COUNT(*) AS n_events,
               MIN(ts) AS session_start, MAX(ts) AS session_end
        FROM sessions GROUP BY user_id, session_id
    """,
    tags=("streaming", "session"),
)
def stream_session(spark, sf_dir):
    """Gap-based sessions (30-min) per user — batch sessionization via
    lag + cumulative-sum, the window-function equivalent of
    `session_window` (the streaming variant is stream_session_true)."""
    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    gap_us = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(
        F.lag("ts").over(w).cast("timestamp")
    )
    marked = ev.withColumn(
        "new_session",
        F.when(gap_us > 1800000000, 1)
        .when(F.lag("ts").over(w).isNull(), 1)
        .otherwise(0),
    )
    return (
        marked.withColumn("session_id", F.sum("new_session").over(w_cum))
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )


@register(
    "stream_stateful_running",
    oracle="""
        SELECT event_id, user_id, ts,
               CAST(SUM(CAST(value AS DECIMAL(27,6))) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS DOUBLE) AS running_total
        FROM events
    """,
    tags=("streaming", "stateful"),
)
def stream_stateful_running(spark, sf_dir):
    """Per-user running total — the batch shape of a per-key stateful
    operator (per-batch state anchor: lifecycle hooks events.clj:8-27).
    The true-streaming twin (a native streaming groupBy().agg() over
    the state store) is stream_stateful_true."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.sum(F.col("value").cast("decimal(27,6)"))
        .over(w)
        .cast("double")
        .alias("running_total"),
    )


@register(
    "stream_dedup",
    oracle="""
        SELECT DISTINCT event_id, user_id, event_type, value
        FROM (SELECT * FROM events UNION ALL SELECT * FROM events)
    """,
    tags=("streaming", "dedup"),
)
def stream_dedup(spark, sf_dir):
    """dropDuplicates over a doubled log — replay/at-least-once dedup by
    unique event_id (the streaming form holds event_id in watermarked
    state; see stream_dedup_true)."""
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    return ev.unionAll(ev).dropDuplicates(["event_id"])


@register(
    "stream_watermark_late",
    # Hash-oracled since r10: the ts-range file split replays in event
    # order (batch k's min ts is above batch k-1's watermark, so no
    # row is ever dropped late in the happy-path replay — the drop
    # semantics are exercised by the out-of-order two-batch test in
    # tests/test_streaming.py), and append mode emits exactly the
    # hourly windows whose end <= final watermark (inclusive at
    # equality — the premise pinned by
    # test_session_window_emits_at_watermark_equality).
    oracle="""
        WITH w AS (
            SELECT date_trunc('hour', ts) AS window_start,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events GROUP BY 1
        ),
        wm AS (SELECT MAX(ts) - INTERVAL 10 MINUTE AS w FROM events)
        SELECT window_start, n_events
        FROM w, wm WHERE window_start + INTERVAL 1 HOUR <= wm.w
    """,
    tags=("streaming", "watermark"),
)
def stream_watermark_late(spark, sf_dir):
    """TRUE streaming run: file source → 10-min watermark → tumbling
    hourly counts, availableNow trigger; the emitted closed-window set
    hash-matches the batch hourly rollup filtered by the final
    watermark (see oracle note)."""
    return stream_jobs.watermark_tumbling(spark, sf_dir)


@register(
    "stream_foreachbatch_sink",
    # Hash-oracled since r10: the sink is clear-on-entry and the
    # availableNow replay delivers each event exactly once, so the
    # read-back per-type counts must equal the source table's — the
    # foreachBatch analog of stream_dedup_true's delivery proof.
    oracle="""
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    tags=("streaming", "sink"),
)
def stream_foreachbatch_sink(spark, sf_dir):
    """TRUE streaming run: foreachBatch append sink + read-back counts
    (commit-hook/flush-barrier anchor: events.clj:18-22,
    buffer.clj:52-53); the read-back hash-matches the source table
    (exactly-once through the executor-side foreachBatch writer)."""
    return stream_jobs.foreachbatch_sink(spark, sf_dir)


@register(
    "stream_commit_ledger",
    # Hash-oracled since r10 against the reference-pinned lifecycle
    # CONTRACT itself (a literal table, not a recomputation): four
    # ts-ordered batches, batch 1 fails mid-commit once and is
    # redelivered by the checkpoint restart — so the ledger must read
    # attempts=2/commits=1/rollbacks=1 for batch 1 and 1/1/0 for the
    # rest (commit fires ONCE per committed txn, rollback once PER
    # failed attempt — stm_test.clj:285-543). Any drift in retry or
    # redelivery behavior breaks the hash.
    oracle="""
        SELECT CAST(batch_id AS BIGINT) AS batch_id,
               CAST(n_attempts AS BIGINT) AS n_attempts,
               CAST(n_commits AS BIGINT) AS n_commits,
               CAST(n_rollbacks AS BIGINT) AS n_rollbacks
        FROM (VALUES (0, 1, 1, 0), (1, 2, 1, 1),
                     (2, 1, 1, 0), (3, 1, 1, 0))
             t(batch_id, n_attempts, n_commits, n_rollbacks)
        ORDER BY batch_id
    """,
    tags=("streaming", "lifecycle"),
)
def stream_commit_ledger(spark, sf_dir):
    """TRUE streaming run with an injected mid-commit failure: per-batch
    attempt/commit/rollback ledger pinning commit-fires-once /
    rollback-fires-per-retry (events.clj:8-27, stm_test.clj:285-543);
    hash-checked against the contract constants (see oracle note)."""
    return stream_jobs.commit_ledger(spark, sf_dir)


@register(
    "stream_session_true",
    # Hash-oracled since r10: the 4-file ts-ordered replay makes the
    # emitted set a pure function of the data — gap sessionization
    # (Spark merges sessions only when windows OVERLAP, so a gap of
    # exactly 30 min starts a NEW session → the break rule is
    # `diff >= gap`) filtered by the FINAL watermark (max ts − 10 min;
    # emission at `end <= watermark` is INCLUSIVE — pinned empirically
    # with an end==watermark boundary case before this oracle was
    # adopted). Sessions still open at stream end are not emitted, and
    # the oracle reproduces exactly that set — including sessions that
    # SPAN micro-batch boundaries and merged in state.
    oracle="""
        WITH e AS (
            SELECT user_id, ts,
                   CASE WHEN LAG(ts) OVER
                             (PARTITION BY user_id ORDER BY ts) IS NULL
                             OR ts - LAG(ts) OVER
                                (PARTITION BY user_id ORDER BY ts)
                                >= INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS brk
            FROM events
        ),
        g AS (
            SELECT user_id, ts,
                   SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS sid
            FROM e
        ),
        s AS (
            SELECT user_id, MIN(ts) AS session_start,
                   MAX(ts) + INTERVAL 30 MINUTE AS session_end,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM g GROUP BY user_id, sid
        ),
        wm AS (SELECT MAX(ts) - INTERVAL 10 MINUTE AS w FROM events)
        SELECT user_id, session_start, session_end, n_events
        FROM s, wm WHERE session_end <= w
    """,
    tags=("streaming", "session"),
)
def stream_session_true(spark, sf_dir):
    """TRUE streaming session_window aggregation (30-min gap, 10-min
    watermark, append mode over the 4-file ts-ordered replay); the
    emitted closed-session set hash-matches batch gap sessionization
    filtered by the final watermark (see oracle note)."""
    return stream_jobs.session_window_stream(spark, sf_dir)


@register(
    "stream_dedup_true",
    # Hash-oracled since r10: event_id is unique in the source, so
    # streaming dropDuplicates must be an IDENTITY over the stream —
    # the value-hash match proves the whole true-streaming pipeline
    # (file source → stateful dedup → parquet sink → read-back)
    # delivers every row exactly once with no content drift. The
    # dedup-with-actual-duplicates semantics are hash-checked by the
    # batch `stream_dedup` key; THIS key's oracle is the
    # exactly-once-delivery proof.
    oracle="""
        SELECT event_id, user_id, event_type, value FROM events
    """,
    tags=("streaming", "dedup"),
)
def stream_dedup_true(spark, sf_dir):
    """TRUE streaming dropDuplicates(event_id) within a 1 h watermark,
    written through the exactly-once parquet sink and read back. The
    source replays as one availableNow batch (single file), so no row
    is watermark-late and the output must equal the source table
    row-for-row — see the oracle note."""
    return stream_jobs.dedup_stream(spark, sf_dir)


@register(
    "stream_stateful_true",
    # Hash-oracled since r11 (the r10 verdict ask): the native
    # streaming aggregation sums exact integer micros (floor(v·1e6 +
    # 0.5) per event — see streaming/jobs.py stateful_running_totals),
    # so the running total is batch-split-independent, and the
    # single-file availableNow replay (the dedup_true/join_true
    # single-batch premise) emits each user exactly once in update
    # mode with the full-log totals — which this batch SQL recomputes
    # with the identical micros fold (integer sum, one int→double
    # conversion, one division).
    oracle="""
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT))
                    AS DOUBLE) / 1000000.0 AS total_value
        FROM events GROUP BY user_id
    """,
    tags=("streaming", "stateful"),
)
def stream_stateful_true(spark, sf_dir):
    """TRUE streaming per-user totals via a native streaming
    aggregation (count + integer-micros sum kept in the JVM state
    store); the integer-micros accumulator makes the emitted totals
    hash-replayable by batch SQL (see oracle note)."""
    return stream_jobs.stateful_running_totals(spark, sf_dir)


@register(
    "stream_join_true",
    # Hash-oracled since r10: the join output is a pure MATCHING SET
    # (no accumulation, values pass through), and the single-batch
    # availableNow replay starts below any watermark, so the stream-
    # stream join must emit exactly the batch interval join — the
    # hash match proves the streaming join neither drops, duplicates,
    # nor mis-windows a single pair.
    oracle="""
        SELECT p.event_id AS purchase_id, p.user_id AS p_user,
               p.ts AS purchase_ts, c.event_id AS click_id,
               c.ts AS click_ts, p.value
        FROM events p JOIN events c
          ON c.user_id = p.user_id
         AND c.ts <= p.ts
         AND c.ts >= p.ts - INTERVAL 1 HOUR
        WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    """,
    tags=("streaming", "join"),
)
def stream_join_true(spark, sf_dir):
    """TRUE stream-stream interval join (purchases ⋈ same-user clicks in
    the preceding hour) with dual watermarks bounding join state,
    written through the exactly-once parquet sink and read back; the
    emitted set hash-matches the batch interval join (see oracle
    note)."""
    return stream_jobs.stream_stream_join(spark, sf_dir)


@register(
    "stream_rollup_maintain",
    oracle=f"""
        SELECT CAST(ts AS DATE) AS day, event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               {sql_dsum("value", "total_value")},
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events GROUP BY 1, 2
    """,
    tags=("streaming", "rollup"),
)
def stream_rollup_maintain(spark, sf_dir):
    """TRUE streaming maintenance of the continuous-aggregate rollup:
    the event log replays as four micro-batches, each folding into the
    day-partitioned store via refresh_rollup inside foreachBatch
    (streaming/jobs.py rollup_maintain_stream). After the stream
    drains, the store must HASH-MATCH a from-scratch aggregate of the
    whole log — decimal partials merge order-independently and the HLL
    distinct is exact in its coupon regime, making this one of the few
    true-streaming queries with a full value-hash gate."""
    return stream_jobs.rollup_maintain_stream(spark, sf_dir)


@register(
    "stream_session_timeout",
    # Hash-oracled since r10: the update function splits sessions on
    # EVENT-TIME gaps (strictly > 30 min), so every non-final session
    # per user emits exactly once whether it closes in-batch or by
    # timeout; the user's FINAL session emits iff the final watermark
    # strictly exceeds last_seen + 30 min (EventTimeTimeout fires only
    # when wm > timeout — pinned by the strict-boundary premise test
    # in tests/test_streaming.py; watermark milliseconds floor from
    # the max event's microseconds). Integer timestamps and counts
    # only, so the whole emitted set replays set-wise.
    oracle="""
        WITH e AS (
            SELECT user_id, epoch_us(ts) AS t,
                   CASE WHEN LAG(epoch_us(ts)) OVER
                             (PARTITION BY user_id
                              ORDER BY epoch_us(ts)) IS NULL
                             OR epoch_us(ts) - LAG(epoch_us(ts)) OVER
                                (PARTITION BY user_id
                                 ORDER BY epoch_us(ts)) > 1800000000
                        THEN 1 ELSE 0 END AS brk
            FROM events
        ),
        g AS (
            SELECT user_id, t,
                   SUM(brk) OVER (PARTITION BY user_id ORDER BY t
                                  ROWS UNBOUNDED PRECEDING) AS sid
            FROM e
        ),
        s AS (
            SELECT user_id, sid, MIN(t) AS session_start_us,
                   MAX(t) AS session_end_us,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM g GROUP BY user_id, sid
        ),
        ranked AS (
            SELECT *, sid = MAX(sid) OVER (PARTITION BY user_id)
                   AS is_last
            FROM s
        ),
        wm AS (
            SELECT (epoch_us(MAX(ts)) // 1000) - 600000 AS wm_ms
            FROM events
        )
        SELECT user_id, session_start_us, session_end_us, n_events
        FROM ranked, wm
        WHERE NOT is_last
           OR wm_ms > session_end_us // 1000 + 1800000
    """,
    tags=("streaming", "state"),
)
def stream_session_timeout(spark, sf_dir):
    """TRUE streaming sessions closed by EventTimeTimeout state
    eviction: per-user session state is GC'd when the watermark passes
    last-seen + 30 min and the closed session emits — the
    bounded-state discipline that keeps arbitrary stateful operators
    viable on unbounded streams (streaming/jobs.py
    session_timeout_totals). Hash-checked since r10 against batch gap
    sessionization + the strict final-watermark timeout rule (see
    oracle note)."""
    return stream_jobs.session_timeout_totals(spark, sf_dir)


def _funnel_oracle() -> str:
    """DuckDB oracle for stream_funnel_true (upgraded from rows-only
    in r10): the funnel is a DETERMINISTIC event-time state machine —
    integer microsecond timestamps, restartable 7-day attempts, and a
    per-user (ts, event_type) total order that the ts-range replay
    preserves across micro-batches — so a recursive CTE steps every
    user's event sequence through the IDENTICAL transition function
    and accumulates the same conversion triples. This is the
    second-engine version of the pure-Python restartable reference the
    tests pin, and it also certifies the operator's own design claim:
    state GC (EventTimeTimeout past deadline + allowance) is
    semantically invisible, because the replay has no GC at all and
    still matches bit-for-bit."""
    w_us = 7 * 24 * 3600 * 1000000
    expired = f"(s.t1 IS NOT NULL AND e.t - s.t1 > {w_us})"
    t1r = f"(CASE WHEN {expired} THEN NULL ELSE s.t1 END)"
    t2r = f"(CASE WHEN {expired} THEN NULL ELSE s.t2 END)"
    conv = (
        f"({t1r} IS NOT NULL AND {t2r} IS NOT NULL"
        f" AND e.e = 'purchase' AND e.t > {t2r})"
    )
    return f"""
        WITH RECURSIVE ev AS MATERIALIZED (
            SELECT user_id, epoch_us(ts) AS t, event_type AS e,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id
                       ORDER BY epoch_us(ts), event_type) AS rn
            FROM events
        ),
        nmax AS MATERIALIZED (
            SELECT user_id, MAX(rn) AS mx FROM ev GROUP BY user_id
        ),
        m AS (
            SELECT user_id, 0 AS rn, CAST(NULL AS BIGINT) AS t1,
                   CAST(NULL AS BIGINT) AS t2,
                   CAST([] AS BIGINT[]) AS vl,
                   CAST([] AS BIGINT[]) AS cl,
                   CAST([] AS BIGINT[]) AS pl
            FROM nmax
            UNION ALL
            SELECT s.user_id, e.rn,
                   CASE WHEN {t1r} IS NULL
                        THEN (CASE WHEN e.e = 'view' THEN e.t END)
                        WHEN {t2r} IS NULL THEN {t1r}
                        WHEN {conv} THEN NULL ELSE {t1r} END,
                   CASE WHEN {t1r} IS NULL THEN NULL
                        WHEN {t2r} IS NULL
                        THEN (CASE WHEN e.e = 'click' AND e.t > {t1r}
                                   THEN e.t END)
                        WHEN {conv} THEN NULL ELSE {t2r} END,
                   CASE WHEN {conv} THEN list_append(s.vl, {t1r})
                        ELSE s.vl END,
                   CASE WHEN {conv} THEN list_append(s.cl, {t2r})
                        ELSE s.cl END,
                   CASE WHEN {conv} THEN list_append(s.pl, e.t)
                        ELSE s.pl END
            FROM m s JOIN ev e
              ON e.user_id = s.user_id AND e.rn = s.rn + 1
        )
        SELECT user_id, UNNEST(vl) AS view_us, UNNEST(cl) AS click_us,
               UNNEST(pl) AS purchase_us
        FROM m JOIN nmax USING (user_id) WHERE rn = mx
    """


@register(
    "stream_funnel_true",
    oracle=_funnel_oracle(),
    tags=("streaming", "state"),
)
def stream_funnel_true(spark, sf_dir):
    """TRUE streaming ordered funnel (rows-only): a per-user state
    machine advances view → click → purchase across micro-batches,
    emitting one CONVERSION EVENT per completed attempt; an attempt
    expires in EVENT TIME (any event > 7 days after its view resets
    the machine — batch-boundary-independent by construction), and
    EventTimeTimeout GC's idle incomplete attempts past the deadline +
    allowance so abandoned users cannot pin state (streaming/jobs.py
    funnel_stream). The single-attempt batch twin is
    events_funnel_conversion; the full conversion multiset is pinned
    against a pure-Python restartable reference in
    tests/test_streaming.py AND, since r10, hash-checked against a
    DuckDB recursive-CTE replay of the state machine itself
    (_funnel_oracle) — which also proves the GC-is-invisible design
    claim, since the replay has no GC and still matches."""
    return (
        stream_jobs.funnel_stream(spark, sf_dir)
        .orderBy("user_id", "view_us")
    )
