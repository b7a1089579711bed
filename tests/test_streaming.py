"""Structured Streaming semantics tests.

The late-data test pins the watermark contract the way the reference's
log tests pin flush visibility (log_mgr_test.clj:78-84: a record is
only visible after the flush barrier): rows behind the watermark are
dropped, rows ahead are admitted.
"""

from __future__ import annotations

import os
import shutil
import uuid

import duckdb
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

_SCRATCH = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".scratch")

SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
    ]
)


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(path)


def _run_stream(spark, src, name):
    # file sink (not memory): supports checkpoint recovery across the
    # two runs this test needs
    agg = (
        spark.readStream.schema(SCHEMA)
        .parquet(src)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )
    ckpt = os.path.join(_SCRATCH, f"ckpt_{name}")
    out = os.path.join(_SCRATCH, f"out_{name}")
    q = (
        agg.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return out


def test_watermark_drops_late_rows(spark):
    """Batch 1 advances the watermark to 11:50; batch 2 then delivers one
    on-time row (12:30) and one straggler (10:05, behind the watermark).
    The straggler's hour-10 window is already finalized → emitted without
    it; the on-time row lands in hour 12."""
    import datetime as dt

    t = lambda h, m: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    run = uuid.uuid4().hex[:8]
    src = os.path.join(_SCRATCH, f"late_src_{run}")
    name = f"late_{run}"

    _write_batch(spark, src, [(1, t(10, 0), 1), (2, t(10, 30), 1), (3, t(12, 0), 1)])
    out = _run_stream(spark, src, name)  # watermark → 12:00 - 10min = 11:50

    _write_batch(spark, src, [(4, t(12, 30), 1), (5, t(10, 5), 1)])
    _run_stream(spark, src, name)  # resumes from checkpoint

    counts = {
        r.window_start.hour: r.n for r in spark.read.parquet(out).collect()
    }
    assert counts.get(10) == 2, "hour-10 window must close with only batch-1 rows"
    assert 5 not in [10], "straggler (event 5) must not reopen hour 10"
    # hour-12 window emits once the watermark passes 13:00; with
    # availableNow it emits on the final batch's watermark advance only
    # if reached — assert it was NOT emitted yet (12:30 max → wm 12:20).
    assert 12 not in counts, "hour-12 window must still be open (not emitted)"
    shutil.rmtree(src, ignore_errors=True)


def test_stream_matches_batch_tumbling(spark):
    """Streaming tumbling counts over the full replay equal the batch
    groupBy(window(...)) on the same data — the exactly-once invariant."""
    from opusdb_spark.registry import registry
    from opusdb_spark.streaming.jobs import watermark_tumbling

    sf = "/root/testdata/sf0.001"
    streamed = {
        (r.window_start.isoformat(),): r.n_events
        for r in watermark_tumbling(spark, sf).collect()
    }
    batch = {
        (r.window_start.isoformat(),): r.n_events
        for r in registry()["stream_tumbling"].fn(spark, sf).collect()
    }
    # append-mode only emits windows the watermark has passed; every
    # emitted window must match batch exactly, and most windows emit
    assert streamed, "stream produced no windows"
    for k, v in streamed.items():
        assert batch[k] == v, f"window {k}: stream {v} != batch {batch[k]}"
    assert len(streamed) >= len(batch) - 1, "stream missed closed windows"


def test_foreachbatch_append_is_replayable(spark):
    """foreachBatch sink: counts after replay equal source counts
    (the commit-hook + flush-barrier analog, events.clj:18-22)."""
    from opusdb_spark.streaming.jobs import foreachbatch_sink
    from opusdb_spark.tables import table

    sf = "/root/testdata/sf0.001"
    sunk = {r.event_type: r.n_rows for r in foreachbatch_sink(spark, sf).collect()}
    src = {
        r.event_type: r.n
        for r in table(spark, sf, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert sunk == src


def test_stream_stream_join_matches_batch_equivalent(spark):
    """Single-replay stream-stream interval join must equal the batch
    interval join (no state evicted before the only batch ends)."""
    from opusdb_spark.streaming import jobs
    from opusdb_spark.tables import table

    sf = "/root/testdata/sf0.001"
    got = {
        (r.purchase_id, r.click_id)
        for r in jobs.stream_stream_join(spark, sf).collect()
    }
    ev = table(spark, sf, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    want = {
        (r.purchase_id, r.click_id)
        for r in purchases.join(
            clicks,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("click_ts") <= F.col("purchase_ts"))
            & (
                F.col("click_ts")
                >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")
            ),
        ).collect()
    }
    assert got == want


def test_nanos_annotated_events_stream_roundtrips(spark, tmp_path):
    """TIMESTAMP(NANOS) events must stream through the int64-nanos
    conversion path: under `nanosAsLong=true` (session.py) Spark reads a
    NANOS column as BIGINT, so the stream schema must declare LongType
    and convert — declaring TimestampType fails the read (the r1
    testdata shipped exactly this shape)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from opusdb_spark.streaming.jobs import _events_source_shape, _events_stream

    sf_dir = str(tmp_path / "sfnanos")
    os.makedirs(sf_dir)
    base_us = 1_600_000_000_000_000  # 2020-09-13T12:26:40 UTC
    n = 8
    tbl = pa.table(
        {
            "event_id": pa.array(range(1, n + 1), pa.int64()),
            "ts": pa.array(
                [(base_us + i * 60_000_000) * 1000 for i in range(n)],
                pa.timestamp("ns"),
            ),
            "user_id": pa.array([i % 3 for i in range(n)], pa.int64()),
            "event_type": pa.array(["click"] * n),
            "value": pa.array([float(i) for i in range(n)], pa.float64()),
            "props": pa.array(["{}"] * n),
        }
    )
    pq.write_table(tbl, f"{sf_dir}/events.parquet")
    assert (
        str(pq.read_schema(f"{sf_dir}/events.parquet").field("ts").type)
        == "timestamp[ns]"
    )
    schema, ts_expr = _events_source_shape(sf_dir)
    assert "timestamp_micros" in ts_expr, "nanos must take the int64 path"

    stream = _events_stream(spark, sf_dir, batched=True)
    name = f"nanos_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table(name).orderBy("event_id").collect()
    assert len(got) == n
    want = [
        dt.datetime(2020, 9, 13, 12, 26, 40) + dt.timedelta(minutes=i)
        for i in range(n)
    ]
    assert [r.ts for r in got] == want


def test_stateful_totals_keep_state_in_the_native_store(spark):
    """stream_stateful_true is a native streaming aggregation: every
    progress report names only StateStoreSave state operators (no
    applyInPandasWithState Python state machine), and after the replay
    the store holds exactly one state row per distinct user."""
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    from opusdb_spark.streaming import jobs
    from opusdb_spark.tables import table
    from tests.conftest import SF_SMALL

    started, ended, progress = set(), set(), []

    def ours(name):
        return bool(name) and name.startswith("stateful_")

    class Watch(StreamingQueryListener):
        def onQueryStarted(self, event):
            if ours(event.name):
                started.add(event.id)

        def onQueryProgress(self, event):
            p = event.progress
            if ours(p.name):
                progress.append(
                    [(o.operatorName, o.numRowsTotal) for o in p.stateOperators]
                )

        def onQueryTerminated(self, event):
            ended.add(event.id)

    watch = Watch()
    spark.streams.addListener(watch)
    try:
        jobs.stateful_running_totals(spark, SF_SMALL).count()
        # listener events arrive asynchronously; a query's progress
        # events are all delivered before its termination event
        deadline = time.monotonic() + 60
        while not (started and started <= ended) and time.monotonic() < deadline:
            time.sleep(0.1)
    finally:
        spark.streams.removeListener(watch)
    assert started and started <= ended, "listener never saw the query end"
    assert progress and all(progress), progress
    names = {name for ops in progress for name, _ in ops}
    assert names == {"stateStoreSave"}, names
    n_users = table(spark, SF_SMALL, "events").select("user_id").distinct().count()
    assert [rows for _, rows in progress[-1]] == [n_users]


def test_commit_ledger_commit_once_rollback_per_retry(spark):
    """Lifecycle-hook counts (events.clj:8-27; stm_test.clj:285-543):
    the commit hook fires ONCE per committed batch even when an attempt
    failed first; the rollback hook fires once PER failed attempt; and
    a rolled-back attempt publishes nothing, so the sink holds every
    event exactly once (abort discards the write-set, stm.clj:103-106).
    """
    from opusdb_spark.streaming import jobs
    from tests.conftest import SF_SMALL

    ledger = {r.batch_id: r for r in jobs.commit_ledger(spark, SF_SMALL).collect()}
    assert len(ledger) >= 2  # multi-batch replay
    assert all(r.n_commits == 1 for r in ledger.values())
    failed = [r for r in ledger.values() if r.n_rollbacks]
    assert len(failed) == 1 and failed[0].batch_id == 1
    assert failed[0].n_attempts == 2 and failed[0].n_rollbacks == 1
    assert all(
        r.n_attempts == 1 for r in ledger.values() if r.batch_id != 1
    )
    tag = os.path.basename(os.path.normpath(SF_SMALL))
    sink = spark.read.parquet(os.path.join(_SCRATCH, f"ledger_sink_{tag}"))
    n_events = spark.read.parquet(f"{SF_SMALL}/events.parquet").count()
    assert sink.count() == n_events
    assert sink.select("event_id").distinct().count() == n_events


def test_log_tail_incremental_exactly_once(spark):
    """Tailing the opusdb log across an append must deliver every
    record EXACTLY once: batch one reads the initial 80, the second
    availableNow pass on the same checkpoint picks up ONLY the 40
    appended records — no replays (n_records == n_distinct), no gaps
    (min..max covers the full sequence)."""
    from opusdb_spark.registry import registry
    from tests.conftest import SF_SMALL

    row = (
        registry()["stream_opusdb_log_tail"].fn(spark, SF_SMALL).collect()[0]
    )
    assert (row.n_records, row.n_distinct, row.min_i, row.max_i) == (
        120,
        120,
        0,
        119,
    ), "log tail replayed or dropped records across the append"


def test_session_timeout_matches_batch_sessionizer(spark):
    """Every session the EventTimeTimeout sessionizer CLOSES must be
    bit-identical to a session the batch gap-sessionizer (same 30-min
    gap) derives from the full log — state eviction may leave trailing
    sessions open (live state, not results), but it must never invent
    or distort one."""
    from pyspark.sql import Window

    from opusdb_spark.streaming import jobs
    from opusdb_spark.tables import table
    from tests.conftest import SF_SMALL

    closed = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
        for r in jobs.session_timeout_totals(spark, SF_SMALL).collect()
    }
    assert closed, "no session ever timed out across the batched replay"

    ev = table(spark, SF_SMALL, "events").select("user_id", "event_id", "ts")
    lag_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run_w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ep = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = ep - F.lag(ep).over(lag_w)
    is_new = F.when(
        gap.isNull() | (gap > 30 * 60 * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    batch = {
        (r.user_id, r.s, r.e, r.n)
        for r in ev.withColumn("sid", F.sum(is_new).over(run_w))
        .groupBy("user_id", "sid")
        .agg(
            F.min(ep).alias("s"),
            F.max(ep).alias("e"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    assert closed <= batch, sorted(closed - batch)[:3]


def test_session_timeout_matches_oracle_at_edges(spark, tmp_path):
    """stream_session_timeout equals its registry oracle, run unchanged
    in DuckDB, on a hand-built log whose sessions sit on every edge of
    the contract: the 30-min gap (inclusive merge, split at +1 us), a
    user's final session against the final watermark (equal, 1 ms
    past, and sub-ms offsets on both sides of equality, where the
    watermark's millisecond floor decides), and a non-last session
    that only an event inside the final 10-min delay closes. A native
    `session_window` rewrite fails here: it emits at watermark
    equality and never emits that last case."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from opusdb_spark.registry import oracle_sql
    from opusdb_spark.streaming import jobs

    us, ms, minute = 1, 1_000, 60_000_000
    gap = 30 * minute
    t0 = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
    # the max event carries a sub-ms tail that the watermark floors
    # away: final watermark w = t0 + 9h50m exactly
    t_max = t0 + 600 * minute + 999 * us
    w = t0 + 590 * minute
    events = [
        (1, t0), (1, t0 + gap), (1, t0 + 180 * minute),  # gap == 30 min
        (2, t0), (2, t0 + gap + 1 * us), (2, t0 + 180 * minute),  # +1 us
        (3, t0 + 60 * minute), (3, w - gap),  # wm == last + 30 min
        (4, t0 + 60 * minute), (4, w - gap - 1 * ms),  # 1 ms past
        (5, t0 + 60 * minute), (5, w - gap + 999 * us),  # sub-ms, above
        (6, t0 + 60 * minute), (6, w - gap - 1 * us),  # sub-ms, below
        # 9h25m never times out (w < 9h55m); only the 9h56m event,
        # inside the final delay, closes it
        (7, t0 + 565 * minute), (7, t0 + 596 * minute),
        (8, t_max),
    ]
    name = f"sessedge_{uuid.uuid4().hex[:8]}"
    sf_dir = tmp_path / name
    sf_dir.mkdir()
    n = len(events)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": pa.array([t for _, t in events], pa.timestamp("us")),
                "user_id": pa.array([u for u, _ in events], pa.int64()),
                "event_type": ["view"] * n,
                "value": [1.0] * n,
                "props": ["{}"] * n,
            }
        ),
        str(sf_dir / "events.parquet"),
    )
    try:
        got = sorted(
            tuple(r)
            for r in jobs.session_timeout_totals(spark, str(sf_dir)).collect()
        )
        # the watermark must advance between micro-batches
        assert jobs.events_stream_n_batches(spark, str(sf_dir)) > 1
    finally:
        for d in (f"stream_events_split_{name}", f"ckpt_sesstimeout_{name}"):
            shutil.rmtree(os.path.join(_SCRATCH, d), ignore_errors=True)

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')"
    )
    want = sorted(con.execute(oracle_sql()["stream_session_timeout"]).fetchall())
    con.close()
    assert got == want
    # and the edges resolve as described, not merely identically:
    # users 3 and 5 keep their final session open, 8 emits nothing
    def one(u, t):
        return (u, t, t, 1)

    assert want == sorted(
        [
            (1, t0, t0 + gap, 2), one(1, t0 + 180 * minute),
            one(2, t0), one(2, t0 + gap + 1 * us), one(2, t0 + 180 * minute),
            one(3, t0 + 60 * minute),
            one(4, t0 + 60 * minute), one(4, w - gap - 1 * ms),
            one(5, t0 + 60 * minute),
            one(6, t0 + 60 * minute), one(6, w - gap - 1 * us),
            one(7, t0 + 565 * minute),
        ]
    )


def test_stream_funnel_matches_restartable_reference(spark):
    """The streaming funnel's per-user (view, click, purchase) triple
    must equal the RESTARTABLE event-time reference exactly: an
    attempt opens at a view, any event > 7 days after that view resets
    the machine (and may open a new attempt), the first completing
    purchase wins — for EVERY converting user, and no user may convert
    in one engine but not the other. This pins batch-boundary
    independence: the r9 first cut evicted on the watermark clock and
    converted different users under different parallelism."""
    import pandas as pd

    from opusdb_spark.streaming import jobs
    from tests.conftest import SF_SMALL

    got = sorted(
        (r.user_id, r.view_us, r.click_us, r.purchase_us)
        for r in jobs.funnel_stream(spark, SF_SMALL).collect()
    )

    ev = pd.read_parquet(f"{SF_SMALL}/events.parquet")[
        ["user_id", "ts", "event_type"]
    ]
    ev["us"] = ev["ts"].astype("datetime64[us]").astype("int64")
    window_us = 7 * 24 * 3600 * 1_000_000
    want = []
    for uid, g in ev.sort_values("us").groupby("user_id"):
        t1 = t2 = None
        for us, etype in zip(g["us"], g["event_type"]):
            if t1 is not None and us - t1 > window_us:
                t1 = t2 = None
            if t1 is None:
                if etype == "view":
                    t1 = us
            elif t2 is None:
                if etype == "click" and us > t1:
                    t2 = us
            elif etype == "purchase" and us > t2:
                want.append((uid, t1, t2, us))
                t1 = t2 = None
    assert got == sorted(want)


def test_session_window_emits_at_watermark_equality(spark, tmp_path):
    """Premise pin for stream_session_true's oracle: append-mode
    session windows are emitted when session_end <= watermark —
    INCLUSIVE at equality. The oracle filters batch sessionization
    with `end <= max_ts - delay`; if a Spark upgrade made emission
    strict (`<`), this fails here before it fails as a red driver
    verdict."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    d = tmp_path / "sess_boundary"
    d.mkdir()

    def wr(rows, name):
        pdf = pd.DataFrame(rows, columns=["ts", "user_id"])
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        pq.write_table(pa.Table.from_pandas(pdf), str(d / name))

    # user 1's session ends at 00:30; the last event (00:40) sets the
    # final watermark to exactly 00:30 (10-min delay)
    wr([(datetime(2024, 1, 1, 0, 0, 0), 1)], "a.parquet")
    wr([(datetime(2024, 1, 1, 0, 40, 0), 2)], "b.parquet")
    raw = (
        spark.readStream.schema("ts timestamp, user_id long")
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(str(d))
    )
    agg = (
        raw.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = f"sb_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = [(r.user_id, str(r.sw.end)) for r in spark.table(name).collect()]
    assert rows == [(1, "2024-01-01 00:30:00")], rows


def test_event_time_timeout_is_strict_at_watermark_equality(spark, tmp_path):
    """Premise pin for stream_session_timeout's oracle: an
    EventTimeTimeout does NOT fire when the final watermark exactly
    equals the timeout timestamp — emission requires wm STRICTLY
    greater. The oracle encodes `wm_ms > end_ms + gap`; if a Spark
    upgrade made the timeout inclusive this fails here before it
    fails as a red driver verdict."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime
    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )
    from pyspark.sql.types import LongType, StructField, StructType

    d = tmp_path / "to_boundary"
    d.mkdir()

    def wr(rows, name, bump):
        pdf = pd.DataFrame(rows, columns=["ts", "user_id"])
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        p = str(d / name)
        pq.write_table(pa.Table.from_pandas(pdf), p)
        base = os.stat(str(d)).st_mtime
        os.utime(p, (base + bump, base + bump))

    # user 1: timeout ts = 00:30:00.000. Case A: wm lands exactly ON
    # it (final event 00:40:00) -> no emission. Case B: wm passes it
    # (00:40:01) -> emission. Both batches replay through the same
    # stateful op; only case B may emit user 1.
    def run(final_ts):
        import uuid as _uuid

        for f in d.glob("*.parquet"):
            f.unlink()
        wr([(datetime(2024, 1, 1, 0, 0, 0), 1)], "a.parquet", 0)
        wr([(final_ts, 2)], "b.parquet", 1)
        out_schema = StructType(
            [
                StructField("user_id", LongType()),
                StructField("last_us", LongType()),
            ]
        )
        st_schema = StructType([StructField("last_us", LongType())])

        def update(key, pdfs, state: GroupState):
            if state.hasTimedOut:
                (last,) = state.get
                state.remove()
                yield pd.DataFrame(
                    {"user_id": [key[0]], "last_us": [last]}
                )
                return
            last = state.get[0] if state.exists else None
            for pdf in pdfs:
                for t in (
                    pdf["ts"].astype("datetime64[us]").astype("int64")
                ):
                    last = int(t) if last is None else max(last, int(t))
            state.update((last,))
            state.setTimeoutTimestamp(last // 1000 + 30 * 60 * 1000)

        raw = (
            spark.readStream.schema("ts timestamp, user_id long")
            .format("parquet")
            .option("maxFilesPerTrigger", "1")
            .load(str(d))
        )
        res = (
            raw.withWatermark("ts", "10 minutes")
            .groupBy("user_id")
            .applyInPandasWithState(
                update,
                out_schema,
                st_schema,
                "append",
                GroupStateTimeout.EventTimeTimeout,
            )
        )
        name = f"tob_{_uuid.uuid4().hex[:8]}"
        q = (
            res.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option(
                "checkpointLocation",
                str(tmp_path / f"ckpt_{name}"),
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(
            r.user_id for r in spark.table(name).collect()
        )

    assert run(datetime(2024, 1, 1, 0, 40, 0)) == []
    assert run(datetime(2024, 1, 1, 0, 40, 1)) == [1]
