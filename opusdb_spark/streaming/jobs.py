"""True Structured Streaming jobs (SURVEY §2B streaming family).

Every job replays the events table as a file-source stream over one
store, its ts-split copy (`_events_split_dir`, built once from
`tables.table`) — the exact shape of the reference's recovery scan
over its WAL (log_mgr.clj:16-33): an append-only log re-read from disk
and folded into state. Watermarks bound that state (the streaming
analog of MAX_HISTORY truncation, stm.clj:47-50); foreachBatch gives
per-batch atomic side-effects (the commit-hook analog,
events.clj:18-22).

Every job runs through `drain` (Trigger.availableNow) against sf data
and returns the materialized result as a batch DataFrame for the
rows-only check. At production scale the same code runs continuously
with a real trigger; nothing here assumes a bounded input except
`drain`.
"""

from __future__ import annotations

import functools
import os
import shutil
import uuid
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from opusdb_spark.session import apply_runtime_confs
from opusdb_spark.sources.formats import (
    column_range,
    corpus_store,
    list_store_files,
    num_rows,
    scratch_sink,
    table_path,
)
from opusdb_spark.tables import table


# The events log as the stream reads it: the columns of
# `tables.table(..., "events")`, with event time as TIMESTAMP (not NTZ)
# for watermarks.
_EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
_N_SPLIT_FILES = 4  # ts-range part files = micro-batches of a batched replay


def _tag(sf_dir: str) -> str:
    """The corpus name (sf dir basename) that keys per-corpus scratch
    sinks and checkpoints."""
    return os.path.basename(os.path.normpath(sf_dir))


def _events_stream(
    spark: SparkSession, sf_dir: str, batched: bool = False
) -> DataFrame:
    """The events log as a file-source stream over its ts-split store.

    Event time must be TimestampType (not NTZ) for watermarks; session
    timezone is pinned to UTC by session.py so wall-clock values match
    the batch/NTZ path.

    `batched=False` replays the whole log as ONE availableNow
    micro-batch over the split store's files (the single-batch premise
    of the dedup/join/stateful oracles). `batched=True` replays it one
    file per trigger — a MULTI-BATCH stream, required by append-mode
    watermark semantics (see _events_split_dir).
    """
    apply_runtime_confs(spark)
    reader = spark.readStream.schema(_EVENTS_SCHEMA).format("parquet")
    if batched:
        reader = reader.option("maxFilesPerTrigger", "1")
    return reader.load(_events_split_dir(spark, sf_dir))


def _events_split_dir(spark: SparkSession, sf_dir: str) -> str:
    """Ingest-once ts-range split of the events table into
    _N_SPLIT_FILES parquet files with staggered mtimes, read through
    `tables.table` (the one place that adapts `events.ts`) with `ts`
    cast to TIMESTAMP.

    Why: an unbatched replay is ONE micro-batch, and in append mode a
    watermarked aggregation only emits a window when a LATER batch's
    watermark passes its end — so one batch emits nothing. Splitting the
    log into ts-ordered files and streaming with maxFilesPerTrigger=1
    gives a genuine multi-batch arrival order (the shape of a real
    incoming stream / WAL segment roll, log_mgr.clj:16-33), so the
    watermark advances and closed windows flush. mtimes are staggered in
    ts order because the file source orders files by modification time.

    The cut comes from the data alone: one task writes the log sorted
    on (ts, event_id) and rolls to a new file every ceil(n / files)
    rows, n read from the footers. (A range repartition would sample
    its boundaries with a seed taken from the RDD id, so they would
    move with whatever the session ran before the build.)
    """

    def write(p: str) -> None:
        n = num_rows(table_path(sf_dir, "events"))
        (
            table(spark, sf_dir, "events")
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .coalesce(1)
            .sortWithinPartitions("ts", "event_id")
            .write.option("maxRecordsPerFile", max(1, -(-n // _N_SPLIT_FILES)))
            .parquet(p)
        )
        parts = sorted(f for f in os.listdir(p) if f.startswith("part-"))
        base = os.stat(p).st_mtime
        for i, fname in enumerate(parts):
            fp = os.path.join(p, fname)
            os.utime(fp, (base + i, base + i))

    return corpus_store(
        "stream_events_split", sf_dir, ("events",), write,
        n=_N_SPLIT_FILES, schema=_EVENTS_SCHEMA, cut="rows of (ts, event_id)",
    )


def events_stream_n_batches(spark: SparkSession, sf_dir: str) -> int:
    """Number of micro-batches the ts-split events replay produces —
    the part-file count of the split directory, since the source runs
    maxFilesPerTrigger=1 (one trigger per file under availableNow).

    Published by bench.py as `n_batches` alongside the streaming slot's
    wall time (VERDICT r11 ask #1): the stateful replay's wall cost is
    dominated by per-batch scheduling, so a change in how the log
    splits (file count, a repartition bug, a stale split store) would
    shift the slot's wall time without any operator change — recording
    the batch count makes that failure mode visible in the artifact
    instead of masquerading as throughput drift."""
    split = _events_split_dir(spark, sf_dir)
    return sum(1 for f in os.listdir(split) if f.startswith("part-"))


def drain(writer: DataStreamWriter, checkpoint: str) -> None:
    """Start the query `writer` describes, checkpointed at `checkpoint`,
    and wait while it processes every input available now
    (Trigger.availableNow) and stops."""
    q = writer.option("checkpointLocation", checkpoint).trigger(availableNow=True)
    q.start().awaitTermination()


def _appender(out: str) -> Callable[[DataFrame, int], None]:
    """A foreachBatch function that appends each batch, tagged with its
    id as `batch_id`, to the parquet dir `out`."""

    def append(batch_df: DataFrame, batch_id: int) -> None:
        tagged = batch_df.withColumn("batch_id", F.lit(batch_id))
        tagged.write.mode("append").parquet(out)

    return append


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
    ev = _events_stream(spark, sf_dir).select("event_id", "event_type", "value")
    drain(
        ev.writeStream.foreachBatch(_appender(out)),
        scratch_sink(f"ckpt_febatch_{_tag(sf_dir)}"),
    )
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
    append = _appender(out)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        attempts[batch_id] = attempts.get(batch_id, 0) + 1
        try:
            if batch_id == 1 and not injected["done"]:
                injected["done"] = True
                raise RuntimeError("injected mid-commit failure")
            append(batch_df, batch_id)
            commits[batch_id] = commits.get(batch_id, 0) + 1
        except Exception:
            rollbacks[batch_id] = rollbacks.get(batch_id, 0) + 1
            raise

    ev = _events_stream(spark, sf_dir, batched=True).select(
        "event_id", "event_type", "value"
    )
    for attempt in (1, 2):
        try:
            drain(ev.writeStream.foreachBatch(write_batch), ckpt)
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
    drain(
        stream_df.writeStream.format("memory").queryName(name).outputMode(mode),
        scratch_sink(f"ckpt_{prefix}_{_tag(sf_dir)}"),
    )
    return spark.table(name)


def _run_to_parquet_append(stream_df: DataFrame, tag: str) -> DataFrame:
    """Scale-true sink for unbounded streaming output: append to a
    parquet directory (executor-side writes, exactly-once via the sink
    log) and read the directory back for verification. Stable tag +
    clear-on-entry keeps repeated runs deterministic."""
    spark = stream_df.sparkSession
    out = scratch_sink(f"sink_{tag}")
    writer = stream_df.writeStream.format("parquet").option("path", out)
    drain(writer.outputMode("append"), scratch_sink(f"ckpt_{tag}"))
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


# The stateful jobs below are folds over a versioned state table
# (`_fold`): a job's per-key state is rows of a parquet table, one
# committed dir per micro-batch, not a stateful operator's store. Event
# time lags the newest event by the 10-min watermark delay.
_DELAY_MS = 10 * 60 * 1000


class _Fold(NamedTuple):
    """One job as a fold (`_fold`). `step` is one SQL statement over
    `{state}`, the rows the previous batch carried, and `{batch}`, the
    batch's events; it returns rows of `schema`, whose `last_us` holds
    the time of an event seen, so its max is the newest event so far.
    `carried` and `emitted` map a batch's clock in ms, as SQL, to a
    predicate on the rows that batch wrote: carried rows are the next
    batch's state, emitted rows are results, projected to `columns`."""

    schema: str
    step: str
    carried: Callable[[str], str]
    emitted: Callable[[str], str]
    columns: tuple[str, ...]


def _committed_batch(root: str, batch_id: int) -> tuple[str, int | None] | None:
    """(dir, clock µs) of a committed fold batch, or None. The clock is
    None while no event has been seen."""
    d = os.path.join(root, f"b={batch_id}")
    try:
        names = os.listdir(d)
    except FileNotFoundError:
        return None
    for name in names:
        if name.startswith("c="):
            clock = name[2:]
            return os.path.join(d, name), None if clock == "none" else int(clock)
    return None  # killed between _commit_batch's makedirs and rename


def _commit_batch(staging: str, root: str, batch_id: int, clock: int | None) -> None:
    """Publish a batch's fold output: one rename of the finished write
    to `b=<batch id>/c=<clock>`, so a reader sees all of it or none."""
    final = os.path.join(root, f"b={batch_id}")
    os.makedirs(final, exist_ok=True)
    os.rename(staging, os.path.join(final, f"c={'none' if clock is None else clock}"))


def _fold(fold: _Fold, events: DataFrame, root: str) -> None:
    """Fold the event stream `events` (`ts` plus what `fold.step` reads)
    into the table under `root`, to drain (availableNow), checkpointed
    at `root/_checkpoint`.

    Batch k reads the rows and clock that batch k-1 committed. Its
    events at or below that clock's watermark are late and dropped, as
    a stateful operator drops them; the step runs over the rest and the
    rows carried at that clock, and everything it returns is written,
    in one write, to `b=<k>/c=<clock>`, where the clock is the newest
    `last_us` so far. A batch id that is already committed is skipped,
    so the at-least-once replay of foreachBatch after a restart writes
    nothing twice."""

    def step(batch_df: DataFrame, batch_id: int) -> None:
        if _committed_batch(root, batch_id) is not None:
            return
        spark = batch_df.sparkSession  # the stream's clone of the session
        prev = _committed_batch(root, batch_id - 1) if batch_id else None
        if batch_id and prev is None:
            raise RuntimeError(f"{root}: batch {batch_id - 1} is not committed")
        prev_dir, clock = prev or (None, None)
        if clock is None:
            state = spark.createDataFrame([], fold.schema)
        else:
            state = spark.read.schema(fold.schema).parquet(prev_dir).where(
                fold.carried(str(clock // 1000))
            )
            wm_us = (clock // 1000 - _DELAY_MS) * 1000
            batch_df = batch_df.where(f"unix_micros(ts) > {wm_us}")
        staging = os.path.join(root, f"_b={batch_id}")
        shutil.rmtree(staging, ignore_errors=True)  # a killed attempt's write
        spark.sql(fold.step, state=state, batch=batch_df).write.parquet(staging)
        # Spark's parquet writer keeps min/max of every long column, so
        # no range means no rows: the clock stays where it was
        rng = column_range([f for f, _ in list_store_files(staging)], "last_us")
        if rng is not None:
            clock = rng[1] if clock is None else max(clock, rng[1])
        _commit_batch(staging, root, batch_id, clock)

    drain(events.writeStream.foreachBatch(step), os.path.join(root, "_checkpoint"))


def _emitted(fold: _Fold, spark: SparkSession, root: str) -> DataFrame:
    """Every row the committed batches under `root` emitted: one scan,
    whose `b`/`c` partition columns give each row its batch's clock."""
    return (
        spark.read.schema(f"{fold.schema}, b long, c long")
        .parquet(root)
        .where(fold.emitted("c div 1000"))
        .selectExpr(*fold.columns)
    )


# The session fold (session_timeout_totals): a session ends at an
# event-time gap over 30 min. A committed batch holds every session the
# batch's step produced; `is_last` marks each user's open (last) one.
_GAP_US = 30 * 60 * 1_000_000


def _timed_out(clock_ms: str) -> str:
    """SQL predicate: a last session whose event-time timeout has fired
    at a clock of `clock_ms`, EventTimeTimeout's strict `watermark >
    last-seen + gap` in milliseconds."""
    return f"last_us div 1000 + {_GAP_US // 1000} < {clock_ms} - {_DELAY_MS}"


# The union of the carried sessions and the batch's events, sessionized
# with the oracle's shape: ordered by start, a row opens a new session
# where its start is more than the gap past the running max of the
# earlier rows' last-seen (for bare events, the previous event).
_SESSION_SQL = f"""
WITH u AS (
    SELECT user_id, start_us, last_us, n FROM {{state}}
    UNION ALL
    SELECT user_id, unix_micros(ts), unix_micros(ts), 1 FROM {{batch}}
), w AS (
    SELECT *, CASE WHEN start_us - MAX(last_us) OVER (
                        PARTITION BY user_id ORDER BY start_us, last_us
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        > {_GAP_US}
                   THEN 1 ELSE 0 END AS brk
    FROM u
), s AS (
    SELECT *,
           SUM(brk) OVER (PARTITION BY user_id ORDER BY start_us, last_us
                          ROWS UNBOUNDED PRECEDING) AS sid,
           SUM(brk) OVER (PARTITION BY user_id ORDER BY start_us, last_us
                          ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND UNBOUNDED FOLLOWING) AS last_sid
    FROM w
)
SELECT user_id, MIN(start_us) AS start_us, MAX(last_us) AS last_us,
       SUM(n) AS n, sid = last_sid AS is_last
FROM s GROUP BY user_id, sid, last_sid
"""

_SESSIONS = _Fold(
    schema="user_id long, start_us long, last_us long, n long, is_last boolean",
    step=_SESSION_SQL,
    carried=lambda c: f"is_last AND NOT ({_timed_out(c)})",
    emitted=lambda c: f"NOT is_last OR {_timed_out(c)}",
    columns=(
        "user_id",
        "start_us AS session_start_us",
        "last_us AS session_end_us",
        "n AS n_events",
    ),
)
_fold_sessions = functools.partial(_fold, _SESSIONS)
_emitted_sessions = functools.partial(_emitted, _SESSIONS)


def session_timeout_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful sessions CLOSED BY EVENT-TIME TIMEOUT: per-user session
    state (start, last-seen, count) extends while events arrive and is
    emitted once the clock's watermark passes last-seen + 30 min — the
    state-GC half of arbitrary stateful processing, kept here as a
    fold over a versioned state table (`_fold`): the reference's
    per-key history (stm.clj:42-53), where only the newest committed
    batch is ever read back as state. The table itself is not bounded:
    every batch's dir is kept, because its emitted sessions live
    there, so it grows by batches × open sessions; it is bounded per
    replay only, as each run starts from an empty root
    (`scratch_sink`). Runs over the multi-batch ts-split source;
    sessions still open at stream end deliberately never emit (they
    are live state, not results).

    Why not native session_window + watermark: its windows close at
    wm >= end where EventTimeTimeout fires at wm > timeout, so it emits
    a session whose last-seen + 30 min equals the final watermark, and
    it never emits a non-last session closed by an event inside the
    final 10-minute delay. Both break the oracle —
    tests/test_streaming.py::test_session_timeout_matches_oracle_at_edges.
    Why not applyInPandasWithState: its per-key Python state serde and
    state-store commits cost more than the sessionizing; the fold runs
    no Python per row and keeps no state store, just one SQL statement
    and one parquet write a batch.
    """
    root = scratch_sink(f"ckpt_sesstimeout_{_tag(sf_dir)}")
    _fold_sessions(
        _events_stream(spark, sf_dir, batched=True).select("user_id", "ts"), root
    )
    return _emitted_sessions(spark, root)


# The funnel fold (funnel_stream). A committed batch holds a row per
# completed attempt (`purchase_us` set), a row per open attempt
# (`view_us`, `click_us`), each with its user's newest event
# (`last_us`), and one clock row: the batch's newest event in
# `last_us`, NULL elsewhere (none for an empty batch), so users with
# no open attempt write nothing. An attempt lives 7 days from its view.
_WINDOW_US = 7 * 24 * 3600 * 1_000_000
_ATTEMPT = "struct<view_us: bigint, click_us: bigint, purchase_us: bigint>"

# One event `e` (t, e) stepping the machine `a` (t1: the open view, t2:
# its click, done: the completed attempts): an event more than 7 days
# after the open view resets the machine, and may open a new attempt.
_FUNNEL_STEP = f"""CASE
    WHEN a.t1 IS NULL OR e.t - a.t1 > {_WINDOW_US} THEN named_struct(
        't1', IF(e.e = 'view', e.t, NULL), 't2', CAST(NULL AS BIGINT),
        'done', a.done)
    WHEN a.t2 IS NULL THEN named_struct(
        't1', a.t1, 't2', IF(e.e = 'click' AND e.t > a.t1, e.t, NULL),
        'done', a.done)
    WHEN e.e = 'purchase' AND e.t > a.t2 THEN named_struct(
        't1', CAST(NULL AS BIGINT), 't2', CAST(NULL AS BIGINT),
        'done', array_append(a.done, named_struct(
            'view_us', a.t1, 'click_us', a.t2, 'purchase_us', e.t)))
    ELSE a END"""

# Per user, the carried attempt and the batch's events in (ts,
# event_type) order, stepped by one aggregate(); the completed attempts
# and the open one come out of one inline().
_FUNNEL_SQL = f"""
WITH u AS (
    SELECT user_id, view_us, click_us, last_us, NULL AS ev FROM {{state}}
    UNION ALL
    SELECT user_id, NULL, NULL, unix_micros(ts),
           struct(unix_micros(ts) AS t, event_type AS e) FROM {{batch}}
), g AS (
    SELECT user_id, MAX(last_us) AS last_us,
           aggregate(array_sort(collect_list(ev)),
                     named_struct('t1', MAX(view_us), 't2', MAX(click_us),
                                  'done', CAST(array() AS array<{_ATTEMPT}>)),
                     (a, e) -> {_FUNNEL_STEP}) AS m
    FROM u GROUP BY user_id
)
SELECT user_id,
       inline(IF(m.t1 IS NULL, m.done, array_append(m.done, CAST(named_struct(
           'view_us', m.t1, 'click_us', m.t2, 'purchase_us', NULL)
           AS {_ATTEMPT})))),
       last_us
FROM g
UNION ALL
SELECT NULL, NULL, NULL, NULL, MAX(unix_micros(ts)) FROM {{batch}}
HAVING COUNT(*) > 0
"""

# An open attempt is carried until the watermark passes view + 7 days +
# the 10-min allowance. Past that, every event the fold admits is over
# 7 days after the view and would reset the attempt anyway, so dropping
# it changes no result; the clock row (NULL view) fails it.
_FUNNEL = _Fold(
    schema="user_id long, view_us long, click_us long, purchase_us long, last_us long",
    step=_FUNNEL_SQL,
    carried=lambda c: (
        f"purchase_us IS NULL AND view_us div 1000 + "
        f"{_WINDOW_US // 1000 + _DELAY_MS} >= {c} - {_DELAY_MS}"
    ),
    emitted=lambda c: "purchase_us IS NOT NULL",
    columns=("user_id", "view_us", "click_us", "purchase_us"),
)
_fold_funnel = functools.partial(_fold, _FUNNEL)
_emitted_conversions = functools.partial(_emitted, _FUNNEL)


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

    Kept as a fold over a versioned state table (`_fold`, as
    session_timeout_totals): each batch steps every user's carried
    attempt through the batch's events, in (ts, event_type) order, with
    one SQL aggregate(). Bounded state is the point (the reference's
    bounded history, stm.clj:47-50, in streaming form): the state per
    user is two timestamps, carried only until the watermark passes
    the view + 7 days + the lateness allowance — past that point any
    admitted event resets the attempt anyway, so dropping it is
    invisible and an abandoned funnel can never pin state. Exactness
    relies on per-user event-time order across batches, which the
    ts-split replay guarantees (a production stream with bounded
    disorder buffers per key until the watermark, the standard
    discipline).

    Why not a native streaming operator: attempts restart in event
    time and the job emits one row per COMPLETED attempt — an ordered
    per-key state machine, not a window, a session or a dedup.
    """
    root = scratch_sink(f"ckpt_funnel_{_tag(sf_dir)}")
    events = _events_stream(spark, sf_dir, batched=True)
    _fold_funnel(events.select("user_id", "ts", "event_type"), root)
    return _emitted_conversions(spark, root)


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

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        # batch_id makes the fold idempotent: foreachBatch is
        # at-least-once on restart, and replaying a committed batch
        # without the high-water-mark skip would double-count its days
        rollup.refresh_rollup(spark, store, batch_df, batch_id=batch_id)

    ev = _events_stream(spark, sf_dir, batched=True).select(
        "ts", "event_type", "value", "user_id"
    )
    drain(
        ev.writeStream.foreachBatch(fold_batch),
        scratch_sink(f"ckpt_rollup_{_tag(sf_dir)}"),
    )
    r = rollup.read_rollup(spark, store)
    return r.select(
        "day",
        "event_type",
        "n_events",
        F.col("sum_value_dec").cast("double").alias("total_value"),
        F.hll_sketch_estimate("users_hll").alias("n_users"),
    )
