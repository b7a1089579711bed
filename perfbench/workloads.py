"""The benchmark's workloads: closed loop, one client, seeded.

Each workload function takes a `Ctx` and returns an `Outcome`. Every
workload follows the same shape:

1. warm-up (untimed): JIT, Python workers, table handles;
2. set-up: delete this workload's ingest-once stores and build them
   again, at least `SETUP_REPS` times and until `SETUP_MIN_S` seconds
   are timed (`Outcome.setup_s`);
3. timed loop of whole rounds (interactive_bank) or replays
   (stream_replay) until `ctx.seconds` have passed, with every output
   checked against an oracle or an in-memory model.

Set-ups and operations are timed with `trace.Meter`: wall time with
the host's stolen CPU share taken out, and the CPU time of the run's
processes.

Stores live under `.scratch/` with names derived from the benchmark's
own corpus directory (`pb_sf*`), so the stores of other processes are
never touched.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
import struct
import sys
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from perfbench.trace import Meter, Reading, floor_ms, median
from tests.conftest import make_duck

SETUP_REPS = 3
SETUP_MIN_S = 2.0  # a sub-second set-up is repeated more for a steady median
FLOOR_JOBS = 7
_T0 = time.perf_counter()


def note(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since import."""
    print(f"# {time.perf_counter() - _T0:7.2f}s {msg}", file=sys.stderr, flush=True)


@dataclass
class Ctx:
    spark: object
    tracer: object
    seed: int
    seconds: float
    sf_dir: str  # corpus the workload reads
    scratch: str  # the program's .scratch directory
    work: str  # the benchmark's own working directory


@dataclass
class Outcome:
    setup_s: list[float] = field(default_factory=list)  # stolen share out
    setup_wall_s: list[float] = field(default_factory=list)
    op_ms: list[float] = field(default_factory=list)  # stolen share out
    op_wall_ms: list[float] = field(default_factory=list)
    op_cpu_ms: list[float] = field(default_factory=list)
    wall_s: float = 0.0  # timed window
    check_s: float = 0.0  # part of the window spent checking outputs
    attempted: int = 0
    failed: int = 0
    layer: dict[str, float] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)

    def add_op(self, r: Reading) -> float:
        self.op_ms.append(r.ms)
        self.op_wall_ms.append(r.wall_ms)
        self.op_cpu_ms.append(r.cpu_ms)
        return r.ms

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.detail.setdefault("failures", []).append(what)


def _set_up(ctx: Ctx, out: Outcome, build):
    """Time `build` after deleting this workload's stores, repeated as
    the module docstring says. Returns the last build's result."""
    ctx.tracer.phase = "setup"
    while len(out.setup_s) < SETUP_REPS or sum(out.setup_wall_s) < SETUP_MIN_S:
        _drop_stores(ctx, ctx.sf_dir)
        m = Meter()
        with ctx.tracer.span("set-up", "workload"):
            res = build()
        r = m.stop()
        out.setup_s.append(r.ms / 1000)
        out.setup_wall_s.append(r.wall_ms / 1000)
    return res


def _start_timed(ctx: Ctx, out: Outcome) -> None:
    """Enter the timed phase; a traced run first probes the per-job
    scheduling floor of this window."""
    if ctx.tracer.enabled:
        out.layer["spark.floor_ms"] = floor_ms(ctx.spark, FLOOR_JOBS)
    ctx.tracer.phase = "timed"


def _to_pandas(columns, rows) -> pd.DataFrame:
    return pd.DataFrame([r.asDict(recursive=True) for r in rows], columns=columns)


def _own_stores(ctx: Ctx, sf_dir: str) -> list[str]:
    """Store directories the program derived from this corpus."""
    base = os.path.basename(os.path.normpath(sf_dir))
    found = glob.glob(os.path.join(ctx.scratch, f"*_{base}")) + glob.glob(
        os.path.join(ctx.scratch, f"*_{base}_*")
    )
    return sorted(p for p in found if os.path.isdir(p))


def _drop_stores(ctx: Ctx, sf_dir: str) -> None:
    for p in _own_stores(ctx, sf_dir):
        shutil.rmtree(p, ignore_errors=True)


# ----------------------------------------------------------- interactive
# A fixed subset of bench.HEADLINE plus one TPC-H key: one key per
# operator family and a second relational one, one store-owning key,
# all sub-second and bound by plan build, table handles and the
# per-job floor. Every key adds 2-12 s of first-run warm-up to each
# process; more keys do not fit the per-run time budget.
KEYS = [
    "agg_q1", "win_latest_version", "llm_dedup_fuzzy", "llm_similarity_topk",
    "tpch_q3",
]
FAMILIES = (
    ("dedup", {"dedup"}),
    ("similarity", {"similarity", "embedding"}),
    ("events", {"window", "mvcc", "streaming", "events", "timeseries"}),
)


def family(tags) -> str:
    for name, marks in FAMILIES:
        if marks & set(tags):
            return name
    return "relational"


# -------------------------------------------------------- stream_replay
class _Progress:
    """StreamingQueryListener collecting progress per query run."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        progress: dict[str, list] = {}
        done: dict[str, threading.Event] = {}
        lock = threading.Lock()

        def event_for(run_id: str) -> threading.Event:
            with lock:
                return done.setdefault(run_id, threading.Event())

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                event_for(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                with lock:
                    progress.setdefault(str(p.runId), []).append(p)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                event_for(str(event.runId)).set()

        self.listener = Listener()
        self.progress = progress
        self._event_for = event_for
        self._lock = lock
        self.seen: set[str] = set()

    def next_run(self, timeout: float = 30.0) -> list:
        """Progress of the one query run finished since the last call."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self._lock:
                fresh = [r for r in self.progress if r not in self.seen]
            for run_id in fresh:
                if self._event_for(run_id).wait(max(0.0, deadline - time.monotonic())):
                    self.seen.add(run_id)
                    with self._lock:
                        return list(self.progress[run_id])
            time.sleep(0.01)
        raise TimeoutError("no streaming progress delivered")


def stream_replay(ctx: Ctx) -> Outcome:
    """The ts-split events log replayed through `stream_session_timeout`
    (applyInPandasWithState, EventTimeTimeout) with fresh checkpoints,
    repeated. One operation = one micro-batch. The replay makes no
    random choice, so the seed does not change it."""
    from opusdb_spark.registry import registry
    from opusdb_spark.streaming.jobs import events_stream_n_batches
    from tests.parity import compare

    spark, tr, sf = ctx.spark, ctx.tracer, ctx.sf_dir
    q = registry()["stream_session_timeout"]
    out = Outcome()
    prog = _Progress()
    spark.streams.addListener(prog.listener)
    try:
        with tr.span("warm-up", "workload"):
            q.fn(spark, sf).count()
            prog.next_run()
        note("warm-up done")
        n_batches = _set_up(ctx, out, lambda: events_stream_n_batches(spark, sf))
        duck = make_duck(sf)
        oracle = duck.execute(q.oracle).df()
        n_events = duck.execute("SELECT count(*) FROM events").fetchone()[0]
        duck.close()

        note(f"set-up {out.setup_s}, oracle ready")
        _start_timed(ctx, out)
        stats: dict[str, list[float]] = {}
        replays = 0
        t_start = time.perf_counter()
        while replays == 0 or time.perf_counter() - t_start < ctx.seconds:
            m = Meter()
            with tr.spark_phase(f"replay {replays}", "streaming") as rec:
                df = q.fn(spark, sf)
                rows = df.collect()
            r = m.stop()
            t0 = time.perf_counter()
            batches = prog.next_run()
            if rec is not None:  # micro-batch jobs run under the run id
                tr.harvest(str(batches[0].runId), rec["id"])
            replays += 1
            res = compare(_to_pandas(df.columns, rows), oracle)
            out.check(res.ok, f"replay {replays}: {res.detail}")
            out.check(
                sum(p.numInputRows for p in batches) == n_events,
                f"replay {replays}: input rows",
            )
            for p in batches:  # each micro-batch, at the replay's shares
                d = p.durationMs
                wall_ms = float(d.get("triggerExecution", 0))
                out.add_op(
                    Reading(
                        wall_ms, wall_ms * r.unstolen, r.cpu_ms / len(batches),
                        r.unstolen,
                    )
                )
                for k in ("addBatch", "walCommit", "queryPlanning", "triggerExecution"):
                    stats.setdefault(k, []).append(float(d.get(k, 0)))
                ops = p.stateOperators
                stats.setdefault("rows_evicted", []).append(
                    float(sum(o.numRowsRemoved for o in ops))
                )
            last = batches[-1].stateOperators
            stats.setdefault("state_rows", []).append(
                float(sum(o.numRowsTotal for o in last))
            )
            stats.setdefault("state_mem", []).append(
                float(sum(o.memoryUsedBytes for o in last))
            )
            out.check_s += time.perf_counter() - t0
        out.wall_s = time.perf_counter() - t_start
        tr.phase = "done"
        note(f"timed loop done, {replays} replays")
    finally:
        spark.streams.removeListener(prog.listener)

    batches_per_replay = len(out.op_ms) / replays
    out.layer.update(
        {
            "stream.batches": batches_per_replay,
            "stream.add_batch_ms": median(stats["addBatch"]),
            "stream.wal_commit_ms": median(stats["walCommit"]),
            "stream.query_planning_ms": median(stats["queryPlanning"]),
            "stream.trigger_ms": median(stats["triggerExecution"]),
            "stream.state_rows": median(stats["state_rows"]),
            "stream.state_mem_bytes": median(stats["state_mem"]),
            "stream.rows_evicted": sum(stats["rows_evicted"]) / replays,
            "stream.events_per_s": n_events * replays / out.wall_s,
        }
    )
    out.detail.update(
        replays=replays, split_files=n_batches, events=n_events,
        unit="micro-batch (triggerExecution; CPU: the replay's share)",
    )
    return out


# --------------------------------------------------------- the bank
ACCOUNTS = 100_000
INITIAL_BALANCE = 100
TRANSFERS_PER_COMMIT = 500
SNAPSHOT_SAMPLE = 256
LOG_BLOCK = 1 << 16  # one read partition per block: keep the count low


def _parquet_files(path: str) -> set[str]:
    return {f for f in os.listdir(path) if f.endswith(".parquet")}


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )


class _Bank:
    """The benchmark's in-memory balance model plus the program's
    stores: an opusdb log (WAL) and a parquet versions store. Every
    (re)creation starts from the same seeded generator, so the
    transfers and sampled accounts depend only on the seed."""

    def __init__(self, ctx: Ctx, rng: np.random.Generator):
        self.ctx = ctx
        self.rng = rng
        root = os.path.join(ctx.work, "bank")
        self.store = os.path.join(root, "versions")
        self.log = os.path.join(root, "wal.log")
        self.balances = np.full(ACCOUNTS, INITIAL_BALANCE, dtype=np.int64)
        self.wp = 1
        self.committed: list[bytes] = []

    def create(self) -> None:
        """(Re)build the versions store at write point 1 and an empty
        log — this workload's ingest-once set-up."""
        from pyspark.sql import functions as F

        from opusdb_spark.sources import formats, opusdb_log

        shutil.rmtree(os.path.dirname(self.store), ignore_errors=True)
        os.makedirs(os.path.dirname(self.store))
        spark = self.ctx.spark

        def write(path: str) -> None:
            spark.range(ACCOUNTS).select(
                F.col("id").alias("ref_id"),
                F.lit(1).cast("long").alias("write_point"),
                F.lit(INITIAL_BALANCE).cast("long").alias("value"),
                F.lit(False).alias("_deleted"),
            ).coalesce(1).write.parquet(path)

        formats.ensure_written(self.store, {"accounts": ACCOUNTS}, write)
        opusdb_log.write_log(self.log, [], LOG_BLOCK)

    def transfers(self) -> dict[int, int]:
        """One commit's seeded transfers, applied to the model only
        when the source covers the amount (the reference's conditional
        transfer). Returns the new balance of every touched account."""
        n = TRANSFERS_PER_COMMIT
        src = self.rng.integers(0, ACCOUNTS, n)
        dst = self.rng.integers(0, ACCOUNTS, n)
        amt = self.rng.integers(1, 50, n)
        touched: dict[int, int] = {}
        for s, d, a in zip(src.tolist(), dst.tolist(), amt.tolist()):
            if s != d and self.balances[s] >= a:
                self.balances[s] -= a
                self.balances[d] += a
                touched[s] = int(self.balances[s])
                touched[d] = int(self.balances[d])
        return touched

    def commit(self, touched: dict[int, int]) -> None:
        """WAL append, then MERGE as one write point, then append the
        new versions to the store. A traced run also counts the rows
        the commit added, from the new files' footers."""
        from pyspark.sql import functions as F

        from opusdb_spark import mvcc
        from opusdb_spark.sources import formats, opusdb_log

        tr, spark = self.ctx.tracer, self.ctx.spark
        wp = self.wp + 1
        records = [struct.pack(">qqq", wp, k, v) for k, v in sorted(touched.items())]
        with tr.span("append_log", "opusdb_log"):
            t0 = time.perf_counter()
            opusdb_log.append_log(self.log, records, LOG_BLOCK)
            tr.add("opusdb_log.append_ms", (time.perf_counter() - t0) * 1000)
            tr.add("opusdb_log.appends", 1)
            tr.add("opusdb_log.bytes", sum(len(r) + 4 for r in records))
        changes = spark.createDataFrame(
            pd.DataFrame(
                {
                    "ref_id": np.fromiter(sorted(touched), np.int64),
                    "value": np.array([touched[k] for k in sorted(touched)], np.int64),
                    "_op": "upsert",
                }
            )
        )
        with tr.spark_phase("merge", "mvcc"):
            t0 = time.perf_counter()
            merged = mvcc.merge(formats.read_store(spark, self.store), changes)
            tr.add("mvcc.merge_ms", (time.perf_counter() - t0) * 1000)
        if tr.enabled:
            t = time.perf_counter()
            before = _parquet_files(self.store)
            tr.charge(t)
        with tr.spark_phase("write", "mvcc"):
            t0 = time.perf_counter()
            merged.filter(F.col("write_point") == wp).coalesce(1).write.mode(
                "append"
            ).parquet(self.store)
            tr.add("mvcc.write_ms", (time.perf_counter() - t0) * 1000)
        if tr.enabled:
            t = time.perf_counter()
            tr.add("mvcc.rows_written", sum(
                pq.read_metadata(os.path.join(self.store, f)).num_rows
                for f in _parquet_files(self.store) - before
            ))
            tr.charge(t)
        self.wp = wp
        self.committed.extend(records)

    def snapshot_matches(self) -> bool:
        """Snapshot at the newest write point for a seeded account
        sample must equal the model."""
        from pyspark.sql import functions as F

        from opusdb_spark import mvcc
        from opusdb_spark.sources import formats

        spark = self.ctx.spark
        sample = sorted(set(self.rng.integers(0, ACCOUNTS, SNAPSHOT_SAMPLE).tolist()))
        with self.ctx.tracer.spark_phase("snapshot", "mvcc"):
            snap = mvcc.snapshot(formats.read_store(spark, self.store), self.wp)
            got = snap.filter(F.col("ref_id").isin(sample) & ~F.col("_deleted")).select(
                "ref_id", "value"
            ).collect()
        return {r.ref_id: r.value for r in got} == {
            k: int(self.balances[k]) for k in sample
        }

    def conserved(self) -> bool:
        """The bank invariant at every write point."""
        from opusdb_spark import mvcc
        from opusdb_spark.sources import formats

        with self.ctx.tracer.spark_phase("conservation", "mvcc"):
            rows = mvcc.conservation(
                formats.read_store(self.ctx.spark, self.store),
                decimal=True,
                bounds=(1, self.wp),
            ).collect()
        total = ACCOUNTS * INITIAL_BALANCE
        return len(rows) == self.wp and all(r.total == total for r in rows)

    def compact(self) -> int:
        """Retention pass: rewrite the store as the newest MAX_HISTORY
        versions per account in few files. Returns bytes written."""
        from opusdb_spark import mvcc
        from opusdb_spark.sources import formats

        tmp = self.store + ".compact"
        shutil.rmtree(tmp, ignore_errors=True)
        with self.ctx.tracer.spark_phase("retain", "mvcc"):
            mvcc.retain(formats.read_store(self.ctx.spark, self.store)).repartition(
                2
            ).write.parquet(tmp)
        shutil.rmtree(self.store)
        os.replace(tmp, self.store)
        return _dir_bytes(self.store)

    def log_matches(self) -> bool:
        """Reading the log back returns every committed change-set, in
        commit order: blocks first to last, each block's records
        oldest first (they fill the block backward)."""
        from opusdb_spark.sources import opusdb_log

        got: list[bytes] = []
        with self.ctx.tracer.span("recover", "opusdb_log"), open(self.log, "rb") as f:
            while block := f.read(LOG_BLOCK):
                recs = opusdb_log.read_block(block, LOG_BLOCK)
                got.extend(rec for _, rec in reversed(recs))
        return got == self.committed


BANK_COMMITS_PER_ROUND = 3


def interactive_bank(ctx: Ctx) -> Outcome:
    """Analytic queries beside a commit stream. Each round runs KEYS
    and BANK_COMMITS_PER_ROUND bank commits in one seed-shuffled order;
    every commit (WAL append + MERGE + store append) is followed by a
    snapshot read, a 1:1 mix; each round ends with a conservation check
    and a retention compaction. Operations are queries (plan build +
    collect), commits, snapshot reads, conservation checks and
    compactions. The window ends at the first round boundary past
    `ctx.seconds`, so every run times the same mix of operations and
    the median does not depend on where a round was cut."""
    from opusdb_spark.registry import registry
    from opusdb_spark.sources import opusdb_log
    from tests.parity import compare

    spark, tr, sf = ctx.spark, ctx.tracer, ctx.sf_dir
    reg = registry()
    opusdb_log.register(spark)
    out = Outcome()

    # warm-up: builds the stores once, fills the table-handle memos,
    # runs every operation the timed loop runs, and finds which keys
    # own a store
    _drop_stores(ctx, sf)
    owners, declared = [], {}
    with tr.span("warm-up", "workload"):
        for k in KEYS:
            before = set(_own_stores(ctx, sf))
            declared[k] = len(reg[k].fn(spark, sf).collect())
            if set(_own_stores(ctx, sf)) - before:
                owners.append(k)
        bank = _Bank(ctx, np.random.default_rng(ctx.seed))
        bank.create()
        bank.commit(bank.transfers())
        bank.snapshot_matches()
        bank.conserved()
        bank.compact()
    note(f"warm-up done, store owners {owners}")

    def build():
        for k in owners:
            reg[k].fn(spark, sf)
        bank = _Bank(ctx, np.random.default_rng(ctx.seed))
        bank.create()
        return bank

    bank = _set_up(ctx, out, build)
    tr.phase = "warm-up"
    for k in owners:  # a store some key builds lazily, at action time
        reg[k].fn(spark, sf).collect()
    duck = make_duck(sf)
    oracles = {k: duck.execute(reg[k].oracle).df() for k in KEYS if reg[k].oracle}
    duck.close()
    note(f"set-up {out.setup_s}, oracles ready")

    fam_s = dict.fromkeys([f for f, _ in FAMILIES] + ["relational"], 0.0)
    fam_n = dict.fromkeys(fam_s, 0)
    by_kind: dict[str, list[float]] = {}  # op ms per key or bank step
    rewritten = []

    def timed_op(kind: str, m: Meter) -> float:
        ms = out.add_op(m.stop())
        by_kind.setdefault(kind, []).append(ms)
        return ms

    _start_timed(ctx, out)
    rounds = 0
    t_start = time.perf_counter()
    while rounds == 0 or time.perf_counter() - t_start < ctx.seconds:
        order = list(KEYS) + [None] * BANK_COMMITS_PER_ROUND
        random.Random(f"{ctx.seed}:{rounds}").shuffle(order)
        rounds += 1
        with tr.span(f"round {rounds - 1}", "round"):
            for k in order + ["maintain"]:
                if k == "maintain":
                    m = Meter()
                    ok = bank.conserved()
                    timed_op("conservation", m)
                    out.check(ok, f"conservation at {bank.wp}")
                    m = Meter()
                    rewritten.append(bank.compact())
                    timed_op("retain", m)
                    continue
                if k is None:
                    touched = bank.transfers()
                    m = Meter()
                    with tr.span(f"commit {bank.wp + 1}", "commit"):
                        bank.commit(touched)
                    timed_op("commit", m)
                    m = Meter()
                    ok = bank.snapshot_matches()
                    timed_op("snapshot", m)
                    out.check(ok, f"snapshot at {bank.wp}")
                    continue
                fam = family(reg[k].tags)
                rows, err = None, None
                m = Meter()
                with tr.span(k, "query", family=fam):
                    try:
                        with tr.spark_phase("build", "queries.build"):
                            df = reg[k].fn(spark, sf)
                        with tr.spark_phase("action", "queries.action"):
                            rows = df.collect()
                    except Exception as e:  # a failed query is counted
                        err = repr(e)
                dt = timed_op(k, m) / 1000
                fam_s[fam] += dt
                fam_n[fam] += 1
                t0 = time.perf_counter()
                if err is not None:
                    out.check(False, f"{k}: {err}")
                elif k in oracles:
                    res = compare(_to_pandas(df.columns, rows), oracles[k])
                    out.check(res.ok, f"{k}: {res.detail}")
                else:
                    out.check(len(rows) == declared[k], f"{k}: row count")
                out.check_s += time.perf_counter() - t0
    out.wall_s = time.perf_counter() - t_start
    tr.phase = "done"
    note(f"timed loop done, {len(out.op_ms)} operations in {rounds} rounds")
    t0 = time.perf_counter()
    out.check(bank.log_matches(), "log read-back")
    recover_ms = (time.perf_counter() - t0) * 1000
    commits = by_kind.get("commit", [])

    out.layer.update(
        {f"operators.{f}.s": s / fam_n[f] if fam_n[f] else 0.0 for f, s in fam_s.items()}
    )
    out.layer.update(
        {
            "mvcc.commit_ms": median(commits),
            "mvcc.snapshot_ms": median(by_kind.get("snapshot", [])),
            "mvcc.conservation_ms": median(by_kind["conservation"]),
            "mvcc.retain_ms": median(by_kind["retain"]),
            "mvcc.retain_bytes_rewritten": median(rewritten),
            "opusdb_log.recover_ms_per_commit": recover_ms / max(1, len(commits)),
        }
    )
    out.detail.update(
        rounds=rounds, keys=len(KEYS), store_owners=owners,
        commits=len(commits), maintenance_passes=rounds, accounts=ACCOUNTS,
        transfers_per_commit=TRANSFERS_PER_COMMIT,
        op_ms_by_kind={k: median(v) for k, v in sorted(by_kind.items())},
        unit="query (plan build + collect), commit, snapshot read, "
        "conservation check or compaction",
    )
    return out


WORKLOADS = {
    "interactive_bank": interactive_bank,
    "stream_replay": stream_replay,
}
