"""True Structured Streaming jobs (SURVEY §2B streaming family).

The events parquet is replayed as a file-source stream — the exact
shape of the reference's recovery scan over its WAL (log_mgr.clj:16-33):
an append-only log re-read from disk and folded into state. Watermarks
bound that state (the streaming analog of MAX_HISTORY truncation,
stm.clj:47-50); foreachBatch gives per-batch atomic side-effects (the
commit-hook analog, events.clj:18-22).

All jobs run with Trigger.availableNow against sf data and return the
materialized result as a batch DataFrame for the rows-only check. At
production scale the same code runs continuously with a real trigger;
nothing here assumes a bounded input except the final `.awaitTermination`.
"""

from __future__ import annotations

import os
import uuid

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from opusdb_spark.session import apply_runtime_confs
from opusdb_spark.sources.formats import (
    ensure_written,
    scratch_path,
    scratch_sink,
    stat_fingerprint,
)


def _events_source_shape(sf_dir: str) -> tuple[StructType, str]:
    """(stream schema, ts select-expr) matched to the parquet's actual
    ts physical type.

    The generator has shipped events.ts both as TIMESTAMP(NANOS)
    (which Spark only reads as int64 under `nanosAsLong`) and as
    TIMESTAMP(MICROS) (a native timestamp). An explicit LongType schema
    over a MICROS column silently yields micros-as-int64, so the
    conversion must be chosen from the file's metadata, exactly like
    the batch loader's dtype guard (tables.py:46). `events.parquet`
    may be a single file (driver testdata) or a Spark-written
    DIRECTORY of part files (the bench/probe scaled corpora) — for a
    directory any one footer is authoritative (one writer, one
    schema)."""
    import pyarrow.parquet as pq

    from opusdb_spark.sources.formats import list_store_files

    path = f"{sf_dir}/events.parquet"
    if os.path.isdir(path):
        parts = list_store_files(path, recursive=False)
        if not parts:
            raise FileNotFoundError(f"no parquet parts under {path}")
        path = parts[0][0]
    ts_type = str(pq.read_schema(path).field("ts").type)
    if ts_type.startswith("timestamp[ns"):
        # TIMESTAMP(NANOS), tz or not: under `nanosAsLong=true`
        # (session.py) Spark reads the column as BIGINT nanos, so the
        # stream schema must say LongType and convert — declaring
        # TimestampType here would fail the read outright.
        ts_field, ts_expr = (
            LongType(),
            "timestamp_micros(ts div 1000) AS ts",
        )
    elif ts_type.startswith("timestamp"):
        # MICROS/MILLIS: a native Spark timestamp; pass through.
        ts_field, ts_expr = TimestampType(), "ts"
    else:  # unannotated int64 — generator ships raw nanos
        ts_field, ts_expr = (
            LongType(),
            "timestamp_micros(ts div 1000) AS ts",
        )
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_field),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )
    return schema, ts_expr


_N_SPLIT_FILES = 4  # ts-range part files = micro-batches of a batched replay


def _tag(sf_dir: str) -> str:
    """The corpus name (sf dir basename) that keys per-corpus scratch
    paths: symlink dir, split store, sinks and checkpoints."""
    return os.path.basename(os.path.normpath(sf_dir))


def _events_stream(
    spark: SparkSession, sf_dir: str, batched: bool = False
) -> DataFrame:
    """events.parquet as a file-source stream with proper event-time ts.

    Event time must be TimestampType (not NTZ) for watermarks; session
    timezone is pinned to UTC by session.py so wall-clock values match
    the batch/NTZ path.

    `batched=False` replays the whole log as ONE availableNow
    micro-batch (the single-batch premise of the dedup/join/stateful
    oracles). `batched=True` replays the ts-range split one file per
    trigger — a MULTI-BATCH stream, required by append-mode watermark
    semantics (see _events_split_dir).
    """
    apply_runtime_confs(spark)
    schema, ts_expr = _events_source_shape(sf_dir)
    reader = spark.readStream.schema(schema).format("parquet")
    target = f"{sf_dir}/events.parquet"
    if batched:
        reader = reader.option("maxFilesPerTrigger", "1")
        src_dir = _events_split_dir(spark, sf_dir)
    elif os.path.isdir(target):
        # FileStreamSource needs a *directory*. The bench/probe scaled
        # corpora ship events.parquet as a Spark-written DIRECTORY of
        # part files, which is already a valid source directory —
        # stream it in place (a symlink to a directory inside the link
        # dir lists zero FILES, so the availableNow replay would
        # silently emit zero batches — the r11 probe caught exactly
        # that on bench_sf1; the default trigger still takes every part
        # file in ONE batch, so the single-batch oracles' premise is
        # unchanged).
        src_dir = target
    else:
        # The driver's testdata ships events.parquet as a single FILE:
        # expose it through a scratch symlink dir (testdata itself is
        # read-only).
        link_dir = scratch_path(f"stream_events_{_tag(sf_dir)}")
        os.makedirs(link_dir, exist_ok=True)
        link = os.path.join(link_dir, "events.parquet")
        # lexists (not exists): a dangling link must be replaced, not
        # mistaken for absent; and two sf_dirs sharing a basename must
        # not silently reuse each other's link.
        if os.path.lexists(link):
            if not os.path.islink(link) or os.readlink(link) != target:
                os.unlink(link)
                os.symlink(target, link)
        else:
            os.symlink(target, link)
        src_dir = link_dir
    return reader.load(src_dir).selectExpr(
        "event_id", ts_expr, "user_id", "event_type", "value", "props"
    )


def _events_split_dir(spark: SparkSession, sf_dir: str) -> str:
    """Ingest-once ts-range split of events.parquet into _N_SPLIT_FILES
    parquet files with staggered mtimes.

    Why: a single-file replay is ONE micro-batch, and in append mode a
    watermarked aggregation only emits a window when a LATER batch's
    watermark passes its end — so one batch emits nothing. Splitting the
    log into ts-ordered files and streaming with maxFilesPerTrigger=1
    gives a genuine multi-batch arrival order (the shape of a real
    incoming stream / WAL segment roll, log_mgr.clj:16-33), so the
    watermark advances and closed windows flush. mtimes are staggered in
    ts order because the file source orders files by modification time.
    """
    src = f"{sf_dir}/events.parquet"
    path = scratch_path(f"stream_events_split_{_tag(sf_dir)}")

    schema, ts_expr = _events_source_shape(sf_dir)

    def write(p: str) -> None:
        raw = spark.read.schema(schema).parquet(src)
        raw.repartitionByRange(_N_SPLIT_FILES, "ts").write.mode("overwrite").parquet(p)
        parts = sorted(
            f for f in os.listdir(p) if f.startswith("part-")
        )
        base = os.stat(p).st_mtime
        for i, fname in enumerate(parts):
            fp = os.path.join(p, fname)
            os.utime(fp, (base + i, base + i))

    return ensure_written(
        path, stat_fingerprint(src, n=_N_SPLIT_FILES, ts_expr=ts_expr), write
    )


def events_stream_n_batches(spark: SparkSession, sf_dir: str) -> int:
    """Number of micro-batches the ts-split events replay produces —
    the part-file count of the split directory, since the source runs
    maxFilesPerTrigger=1 (one trigger per file under availableNow).

    Published by bench.py as `n_batches` alongside the streaming slot's
    wall time (VERDICT r11 ask #1): the stateful replay's wall cost is
    dominated by per-batch scheduling + Python state-server overhead,
    so a change in how the log splits (file count, a repartition bug, a
    stale split store) would shift the slot's wall time without any
    operator change — recording the batch count makes that failure mode
    visible in the artifact instead of masquerading as throughput
    drift."""
    split = _events_split_dir(spark, sf_dir)
    return sum(1 for f in os.listdir(split) if f.startswith("part-"))


def watermark_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-min watermark + 1-hour tumbling counts (stream_watermark_late).

    Replays events as FOUR ts-ordered micro-batches so the watermark
    advances between batches and append mode emits every window the
    final watermark has closed (a single-batch replay emits nothing —
    no later batch ever passes a window end). Windows in the last
    batch's tail stay open by design; the late-straggler drop semantics
    are exercised in tests/test_streaming.py with an out-of-order
    two-batch replay.
    """
    ev = _events_stream(spark, sf_dir, batched=True).withWatermark(
        "ts", "10 minutes"
    )
    agg = ev.groupBy(F.window("ts", "1 hour").alias("w")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return _run_to_memory(agg, "wm", sf_dir).select(
        F.col("w.start").alias("window_start"), "n_events"
    )


def foreachbatch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch parquet append + read-back invariant counts."""
    out = scratch_sink(f"febatch_{_tag(sf_dir)}")
    ckpt = scratch_sink(f"ckpt_febatch_{_tag(sf_dir)}")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(out)
        )

    ev = _events_stream(spark, sf_dir).select("event_id", "event_type", "value")
    q = (
        ev.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy("event_type")
    )


def commit_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-batch attempt/commit/rollback ledger — the lifecycle-hook
    contract as DATA (reference events.clj:8-27; pinned behavior
    stm_test.clj:285-543: the commit hook fires ONCE per committed
    transaction, the rollback hook fires once PER failed attempt).

    The events log replays as four micro-batches; the foreachBatch
    commit hook counts every invocation (attempt), injects ONE
    mid-commit failure on batch 1's first attempt (rollback — nothing
    published, the output committer discards the batch), and lets the
    checkpoint-driven restart redeliver the same batch id (the retry).
    The returned ledger pins the reference's counts: the failed batch
    shows attempts=2 / rollbacks=1 / commits=1, every other batch
    1 / 0 / 1 — and the sink holds each event exactly once, because a
    rolled-back attempt publishes nothing (stm.clj:103-106).
    """
    out = scratch_sink(f"ledger_sink_{_tag(sf_dir)}")
    ckpt = scratch_sink(f"ckpt_ledger_{_tag(sf_dir)}")
    attempts: dict[int, int] = {}
    commits: dict[int, int] = {}
    rollbacks: dict[int, int] = {}
    injected = {"done": False}

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        attempts[batch_id] = attempts.get(batch_id, 0) + 1
        try:
            if batch_id == 1 and not injected["done"]:
                injected["done"] = True
                raise RuntimeError("injected mid-commit failure")
            (
                batch_df.withColumn("batch_id", F.lit(batch_id))
                .write.mode("append")
                .parquet(out)
            )
            commits[batch_id] = commits.get(batch_id, 0) + 1
        except Exception:
            rollbacks[batch_id] = rollbacks.get(batch_id, 0) + 1
            raise

    ev = _events_stream(spark, sf_dir, batched=True).select(
        "event_id", "event_type", "value"
    )
    for attempt in (1, 2):
        q = (
            ev.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
            break  # clean finish — no (further) retry needed
        except Exception:
            # The failed attempt killed the run; restarting from the
            # SAME checkpoint redelivers the uncommitted batch id —
            # that restart IS the reference's transaction retry. A
            # failure on the FINAL attempt is a genuine error: returning
            # a ledger then would report lifecycle counts for a stream
            # that never finished, so fail loudly instead.
            if attempt == 2:
                raise
    rows = [
        (b, attempts.get(b, 0), commits.get(b, 0), rollbacks.get(b, 0))
        for b in sorted(attempts)
    ]
    return spark.createDataFrame(
        rows, "batch_id long, n_attempts long, n_commits long, n_rollbacks long"
    )


def session_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window (30-min gap) aggregation, streaming.

    Multi-batch replay for the same reason as watermark_tumbling:
    append-mode session windows only emit once a later batch's
    watermark closes them."""
    ev = _events_stream(spark, sf_dir, batched=True).withWatermark(
        "ts", "10 minutes"
    )
    agg = ev.groupBy(
        F.session_window("ts", "30 minutes").alias("sw"), F.col("user_id")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return _run_to_memory(agg, "sess", sf_dir).select(
        "user_id",
        F.col("sw.start").alias("session_start"),
        F.col("sw.end").alias("session_end"),
        "n_events",
    )


def dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates(event_id) within the watermark.

    Output is ~the whole stream, so it goes to a parquet sink (scale
    shape: no driver-side materialization), then is read back for the
    rows-only check.
    """
    ev = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .dropDuplicates(["event_id"])
        .select("event_id", "user_id", "event_type", "value")
    )
    return _run_to_parquet_append(ev, "dedup_true")


def _run_to_memory(
    stream_df: DataFrame, prefix: str, sf_dir: str, mode: str = "append"
) -> DataFrame:
    """Run `stream_df` to drain (availableNow) into a memory sink named
    `<prefix>_<uuid8>`, checkpointed at `ckpt_<prefix>_<sf tag>`, and
    return the sink table.

    Earlier sinks of THIS prefix in the session are dropped first: a
    memory sink's rows live in the driver JVM until the view is
    dropped, so repeated invocations (bench warm+timed runs, the test
    suite, a long driver session) would otherwise pin one result-sized
    table per run. Safe because every caller materializes its result
    before the next invocation starts (driver collect / bench count),
    and the uuid suffix keeps concurrent queries on distinct names."""
    spark = stream_df.sparkSession
    for t in spark.catalog.listTables():
        if t.isTemporary and t.name.startswith(prefix + "_"):
            try:
                spark.catalog.dropTempView(t.name)
            except Exception:
                pass  # concurrent drop: the goal state is already met
    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    ckpt = scratch_sink(f"ckpt_{prefix}_{_tag(sf_dir)}")
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def _run_to_parquet_append(stream_df: DataFrame, tag: str) -> DataFrame:
    """Scale-true sink for unbounded streaming output: append to a
    parquet directory (executor-side writes, exactly-once via the sink
    log) and read the directory back for verification. Stable tag +
    clear-on-entry keeps repeated runs deterministic."""
    spark = stream_df.sparkSession
    out = scratch_sink(f"sink_{tag}")
    ckpt = scratch_sink(f"ckpt_{tag}")
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.schema(stream_df.schema).parquet(out)


def stateful_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running totals (count + value sum) as a NATIVE streaming
    aggregation: the per-user state lives in the JVM state store
    (StateStoreSave), not a Python state machine — per-key state
    mirrors the reference's per-txn lifecycle state (events.clj:8-27),
    and a count plus a sum with no timeout is a plain fold that
    groupBy().agg() expresses directly.

    The sum is an exact INTEGER-MICROS fold: each value snaps to
    floor(v·1e6 + 0.5) as a bigint, so the running total is order- and
    batch-split-independent and a second engine replays it from the
    batch table (int64 headroom: ~9.2e12 in total value per user). The
    final division by 1e6 is one correctly-rounded double op shared by
    both engines. Update mode emits each user's latest totals."""
    totals = (
        _events_stream(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.floor(F.col("value") * 1e6 + 0.5)) / 1e6).alias(
                "total_value"
            ),
        )
    )
    return _run_to_memory(totals, "stateful", sf_dir, mode="update")


def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: each purchase joined to the same
    user's clicks in the preceding hour.

    Both sides carry watermarks and the join condition bounds event time
    on both sides — that pair of constraints is what lets the engine
    expire join state instead of buffering both streams forever (the
    streaming analog of bounded version history, stm.clj:47-50).
    """
    ev = _events_stream(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            "value",
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")),
    ).select("purchase_id", "p_user", "purchase_ts", "click_id", "click_ts", "value")
    return _run_to_parquet_append(joined, "ssj_true")


# NOTE: the newer transformWithStateInPandas API (typed ValueState /
# timers / TTL, Spark 4) was evaluated here but its driver-side state
# server needs a working google.protobuf, which is not a dependency of
# this project (ImportError: cannot import name 'descriptor').
# Arbitrary-state coverage therefore stays on applyInPandasWithState
# (session_timeout_totals and funnel_stream below — the two jobs no
# native operator expresses), which speaks the classic Arrow protocol
# and runs everywhere.


def session_timeout_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful sessions CLOSED BY EVENT-TIME TIMEOUT: per-user session
    state (start, last-seen, count) extends while events arrive and is
    EVICTED when the watermark passes last-seen + 30 min — the state-GC
    half of arbitrary stateful processing (unbounded per-key state is
    the thing that kills a 100 TB stream; EventTimeTimeout is how
    applyInPandasWithState bounds it, the streaming analog of the
    reference's bounded history, stm.clj:47-50). Runs over the
    multi-batch ts-split source so the watermark actually advances
    between micro-batches and timeouts fire; sessions still open at
    stream end deliberately never emit (they are live state, not
    results).

    Why not native session_window + watermark: its windows close at
    wm >= end where EventTimeTimeout fires at wm > timeout, so it emits
    a session whose last-seen + 30 min equals the final watermark, and
    it never emits a non-last session closed by an event inside the
    final 10-minute delay. Both break the oracle —
    tests/test_streaming.py::test_session_timeout_matches_oracle_at_edges.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("session_start_us", LongType()),
            StructField("session_end_us", LongType()),
            StructField("n_events", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("start_us", LongType()),
            StructField("last_us", LongType()),
            StructField("n", LongType()),
        ]
    )
    GAP_MS = 30 * 60 * 1000

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            start_us, last_us, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start_us": [start_us],
                    "session_end_us": [last_us],
                    "n_events": [n],
                }
            )
            return
        start_us, last_us, n = (
            state.get if state.exists else (None, None, 0)
        )
        # explicit µs cast: the worker hands ts as datetime64[ns],
        # whose raw int64 view is NANOseconds — a silent 1000× error
        # that pushes every timeout into the far future
        ts = sorted(
            int(t)
            for pdf in pdfs
            for t in pdf["ts"].astype("datetime64[us]").astype("int64")
        )
        closed = []
        for t in ts:
            if start_us is None:
                start_us, last_us, n = t, t, 1
            elif t <= last_us:
                # out-of-order within the watermark allowance: a late
                # event merges into the OPEN session (extending it
                # backward if needed) — last_us never regresses, so a
                # later gap check cannot wrongly split or emit a
                # session whose end precedes its start
                start_us = min(start_us, t)
                n += 1
            elif t - last_us > GAP_MS * 1000:
                closed.append((start_us, last_us, n))
                start_us, last_us, n = t, t, 1
            else:
                last_us = t
                n += 1
        state.update((start_us, last_us, n))
        state.setTimeoutTimestamp(last_us // 1000 + GAP_MS)
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(closed),
                    "session_start_us": [c[0] for c in closed],
                    "session_end_us": [c[1] for c in closed],
                    "n_events": [c[2] for c in closed],
                }
            )

    ev = _events_stream(spark, sf_dir, batched=True).select(
        "user_id", "ts"
    ).withWatermark("ts", "10 minutes")
    result = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return _run_to_memory(result, "sesstimeout", sf_dir)


def funnel_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ordered funnel: per-user state machine advancing
    view → click → purchase (each step strictly after the previous,
    whole attempt inside 7 days of its view), emitting one CONVERSION
    EVENT per completed attempt (the machine resets and may convert
    the same user again — dedup to first-touch is a downstream
    aggregation, not stream state).

    SEMANTICS — restartable attempts, decided in EVENT TIME: an
    attempt opens at a view; any event arriving more than 7 days after
    the open view resets the machine (and may itself open a new
    attempt), so whether an attempt expires depends only on the event
    stream, never on micro-batch boundaries — the first version of
    this operator evicted on the WATERMARK clock and r9 testing caught
    it converting different users under different parallelism. (The
    batch twin events_funnel_conversion deliberately measures the
    stricter single-attempt spec — conversion from the user's FIRST
    view only; both specs are pinned against references.)

    Bounded state is the point (the reference's bounded history,
    stm.clj:47-50, in streaming form): state per user is two
    timestamps, and EventTimeTimeout GC's an idle incomplete attempt
    once the watermark passes its deadline PLUS the lateness
    allowance — past that point any future event resets the attempt
    anyway, so eviction is semantically invisible and an abandoned
    funnel can never pin state forever. Exactness relies on per-user
    event-time order across batches, which the ts-split replay
    guarantees (a production stream with bounded disorder buffers per
    key until the watermark, the standard discipline).

    Why not a native operator: attempts restart in event time and the
    job emits one row per COMPLETED attempt — an ordered per-key state
    machine, not a window, a session or a dedup, so no built-in
    streaming aggregation expresses it.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("view_us", LongType()),
            StructField("click_us", LongType()),
            StructField("purchase_us", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("t1_us", LongType()),
            StructField("t2_us", LongType()),
        ]
    )
    WINDOW_US = 7 * 24 * 3600 * 1000000

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            # funnel expired un-completed: evict, emit nothing
            state.remove()
            return
        t1, t2 = state.get if state.exists else (None, None)
        rows = sorted(
            (int(t), str(e))
            for pdf in pdfs
            for t, e in zip(
                pdf["ts"].astype("datetime64[us]").astype("int64"),
                pdf["event_type"],
            )
        )
        completed = []
        for t, etype in rows:
            if t1 is not None and t - t1 > WINDOW_US:
                # attempt expired in event time: reset, then let this
                # event open a fresh attempt if it is a view
                t1 = t2 = None
            if t1 is None:
                if etype == "view":
                    t1 = t
            elif t2 is None:
                if etype == "click" and t > t1:
                    t2 = t
            elif etype == "purchase" and t > t2:
                # a CONVERSION EVENT: emit it and reset the machine —
                # one row per completed attempt, not per user (a
                # remove-and-return here would lose the done marker at
                # the next batch and re-emit the user's next attempt,
                # the duplicate-emission bug this replaced)
                completed.append((t1, t2, t))
                t1 = t2 = None
        if completed:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(completed),
                    "view_us": [c[0] for c in completed],
                    "click_us": [c[1] for c in completed],
                    "purchase_us": [c[2] for c in completed],
                }
            )
        if t1 is None:
            # no view yet: (None, None) carries no funnel info, and a
            # stored no-op state could never time out — drop it
            if state.exists:
                state.remove()
            return
        state.update((t1, t2))
        # GC once the watermark passes deadline + allowance: any event
        # the allowance still admits (ts > wm - 10 min > deadline)
        # would reset the attempt anyway, so eviction == reset and the
        # emitted result cannot depend on batch timing
        gc_ms = (t1 + WINDOW_US) // 1000 + 600_000
        if gc_ms <= state.getCurrentWatermarkMs():
            state.remove()
        else:
            state.setTimeoutTimestamp(gc_ms)

    ev = (
        _events_stream(spark, sf_dir, batched=True)
        .select("user_id", "ts", "event_type")
        .withWatermark("ts", "10 minutes")
    )
    result = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return _run_to_memory(result, "funnel", sf_dir)


def rollup_maintain_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A TRUE stream maintaining the continuous-aggregate rollup store:
    every micro-batch folds into the day-partitioned store via
    refresh_rollup (operators/rollup.py) inside foreachBatch — the
    production shape of a continuous aggregate (the ingest half is the
    reference's append-only log, log_mgr.clj:16-33; the maintenance
    half is this job). foreachBatch is the right hook because the
    refresh is a WRITE with its own partition-surgical semantics, not
    a streaming-state aggregation: each batch's partials merge into
    exactly the day directories that batch touches, so a year-long
    store absorbs a micro-batch in O(batch), and the store stays
    queryable (and correct for every sealed day) between batches.

    The events log replays as four ts-ordered micro-batches; after the
    stream drains, the store must equal a from-scratch aggregate of
    the whole log — which the SQL oracle recomputes, making this one
    of the few TRUE-streaming queries with a hash-exact gate (decimal
    partials merge order-independently; double sums would drift)."""
    from opusdb_spark.operators import rollup

    store = scratch_sink(f"rollup_stream_{_tag(sf_dir)}")
    ckpt = scratch_sink(f"ckpt_rollup_{_tag(sf_dir)}")

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        # batch_id makes the fold idempotent: foreachBatch is
        # at-least-once on restart, and replaying a committed batch
        # without the high-water-mark skip would double-count its days
        rollup.refresh_rollup(spark, store, batch_df, batch_id=batch_id)

    ev = _events_stream(spark, sf_dir, batched=True).select(
        "ts", "event_type", "value", "user_id"
    )
    q = (
        ev.writeStream.foreachBatch(fold_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    r = rollup.read_rollup(spark, store)
    return r.select(
        "day",
        "event_type",
        "n_events",
        F.col("sum_value_dec").cast("double").alias("total_value"),
        F.hll_sketch_estimate("users_hll").alias("n_users"),
    )
