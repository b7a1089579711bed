#!/usr/bin/env python3
"""The repository's benchmark: one workload per run, closed loop, one
client, on `local[N]` with N = the cores this process may use.

    python3 perfbench/run.py --workload interactive_bank --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The corpus is the repository's
reference test data (seed 42), committed byte for byte under
`perfbench/corpus/pb_sf<sf>/`; the `pb_` name keeps the stores the
program derives from it apart from those of other processes. The seed
drives only the workload (query order, transfers, account sampling).
Every output is checked: against the DuckDB oracle of its registry
key, the streaming oracle, or the bank's in-memory model.

stdout: a `detail` JSON line (engine setup, sample counts, per-workload
figures), then, as the last line, the result object

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (`--trace 0`) or the per-layer metrics
(`--trace 1`) named in BENCHMARK.json. A traced run also writes its
spans to `.perfbench/trace-<workload>-<seed>.json`.

End-to-end metrics (tracing off). The timed window is whole rounds
(interactive_bank) or whole replays (stream_replay), at least one,
until `--seconds` have passed. On a 4-vCPU VM that shares its host,
the host took 1-45 % of the CPU time a run asked for, changing from
minute to minute, and wall times followed that share; so the times
below leave it out (see `trace.Meter`), and the raw wall figures and
the stolen share (`cpu_steal_frac`) go to the detail line.
  setup_s      median of the rebuilds (at least 3, and at least 2 s of
               them) of the workload's ingest-once stores
  op_mean_ms   mean latency of the workload's operations: queries,
               bank commits, snapshot reads, conservation checks and
               compactions (interactive_bank), or micro-batches
               (stream_replay). The window holds the same mix of
               operations on every run, so the mean is steady where
               the median jumps between the clusters of that mix (over
               ten seeds each, IQR/median 0.24 for the median, 0.12 for
               the mean); the median and p90 go to the detail line.
  op_cpu_ms    CPU time per operation of all the run's processes (the
               Python driver, its JVM and the Python workers)

The command runs the benchmark in a child process that leads a
session of its own. Once the child has ended, every process still in
that session (the driver JVM and the Python workers outlive the
child by seconds) is stopped and waited for, so a run leaves nothing
running behind it.

Per-layer metrics are normalised so that a faster program, which
finishes more work in the window, does not read as worse: counts and
times are per operation, the bank's log and write figures per commit,
`operators.<family>.s` per query of the family, set-up figures per
timed set-up, and the other `mvcc.*` and `stream.*` figures medians
or per-replay means. Metrics of layers a workload does not reach
read 0.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.trace import proc_stats  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench")
CORPUS = os.path.join(ROOT, "perfbench", "corpus")
CORPUS_SF = {"interactive_bank": 0.01, "stream_replay": 0.01}
DRIVER_MEMORY = "1g"
DEADLINE_S = 160  # the child's own limit
GRACE_S = 8  # SIGTERM, then SIGKILL, for what outlives the child

SELF_LAYERS = (
    "round", "query", "queries.build", "queries.action",
    "tables", "formats", "formats.read_store", "commit", "mvcc",
    "opusdb_log", "streaming", "spark.job", "spark.stage",
)
SPARK_TOTALS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.run_ms",
    "spark.cpu_ms", "spark.gc_ms", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.input_records",
)


def _cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _engine_env(cores: int, sf_dir: str) -> None:
    """Pin the engine before pyspark starts its JVM: cores, memory,
    and every temporary file inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "SPARK_GRAFT_CPUS": str(cores),
            "PYSPARK_PYTHON": sys.executable,
            "OPUSDB_PARITY_SF_DIR": sf_dir,
            # every JVM, the spark-submit launcher included
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "PYSPARK_SUBMIT_ARGS": (
                "--conf spark.ui.showConsoleProgress=false pyspark-shell"
            ),
        }
    )


def _peak_rss_mb() -> tuple[float, float]:
    """Peak RSS (VmHWM) of this process plus its direct children (the
    driver JVM), and of the whole process tree (adding the Python
    workers, whose number alive at the end varies from run to run)."""
    children: dict[int, list[int]] = {}
    for pid, f in proc_stats():
        children.setdefault(int(f[1]), []).append(pid)

    def hwm_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    me = os.getpid()
    driver = [me] + children.get(me, [])
    tree, todo = [], [me]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, []))
    return (
        sum(map(hwm_kb, driver)) / 1024,
        sum(map(hwm_kb, tree)) / 1024,
    )


def _session_members(sid: int) -> list[int]:
    """Processes of session `sid`. A zombie counts too: a JVM whose
    main thread has exited shows as one while its other threads still
    run."""
    return [pid for pid, f in proc_stats() if int(f[3]) == sid]


def _reap() -> None:
    """Collect every child of this process that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _stop_session(sid: int) -> None:
    """SIGTERM every process left in session `sid`, SIGKILL what is
    still there after GRACE_S, and return once none is left (or, should
    a zombie not be re-parented here, a few seconds after the SIGKILL)."""
    t0 = time.monotonic()
    while True:
        _reap()
        pids = _session_members(sid)
        waited = time.monotonic() - t0
        if not pids or waited > GRACE_S + 4:
            return
        sig = signal.SIGTERM if waited < GRACE_S else signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def _supervise(argv: list[str]) -> int:
    """Run the benchmark in a child that leads a new session; then stop
    the whole session. Orphans of the session are re-parented to this
    process (a child subreaper), so each is reaped here, not left as a
    zombie."""
    try:
        import ctypes

        ctypes.CDLL(None).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass

    def on_term(signum, frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_term)
    child = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--in-session", *argv],
        start_new_session=True,
    )
    try:
        return child.wait(timeout=DEADLINE_S + 5)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {DEADLINE_S + 5} s", file=sys.stderr)
        return 1
    finally:
        _stop_session(child.pid)
        child.wait()
        _reap()


def _install_layer_wrappers(tracer) -> None:
    from opusdb_spark import tables
    from opusdb_spark.sources import formats

    tracer.wrap(tables, "table", "tables")
    tracer.wrap(formats, "read_store", "formats.read_store")

    def count_builds(args, kwargs):
        """Swap ensure_written's write_fn for one that counts the build,
        its seconds and bytes by phase; a store that is already current
        is not built and not counted."""

        def timed(write_fn):
            def timed_write(p):
                t0 = time.perf_counter()
                with tracer.span("build", "formats", path=os.path.basename(p)):
                    write_fn(p)
                c = tracer.counters
                c[f"formats.builds.{tracer.phase}"] += 1
                t = time.perf_counter()
                c[f"formats.build_s.{tracer.phase}"] += t - t0
                c[f"formats.bytes.{tracer.phase}"] += sum(
                    os.path.getsize(os.path.join(r, f))
                    for r, _, fs in os.walk(p)
                    for f in fs
                )
                tracer.charge(t)

            return timed_write

        if len(args) >= 3:
            args = (*args[:2], timed(args[2]), *args[3:])
        else:
            kwargs = {**kwargs, "write_fn": timed(kwargs["write_fn"])}
        return args, kwargs

    tracer.wrap(formats, "ensure_written", "formats", on_call=count_builds)


def _per_layer(out, tracer, cores: int, start_s: float) -> dict:
    c = tracer.counters
    ops = max(1, len(out.op_ms))
    setups = len(out.setup_s)
    m = {"session.start_s": start_s}
    for layer in ("tables", "formats.read_store"):
        m[f"{layer}.calls"] = c[f"{layer}.calls"] / ops
        m[f"{layer}.ms"] = c[f"{layer}.ms"] / ops
        m[f"{layer}.jobs"] = c[f"{layer}.jobs"] / ops
    for phase in ("build", "action"):
        m[f"queries.{phase}_ms"] = c[f"queries.{phase}.ms"] / ops
        m[f"queries.{phase}_jobs"] = c[f"queries.{phase}.jobs"] / ops
    for k in SPARK_TOTALS:
        m[k] = c[k] / ops
    busy = c["spark.phase_ms"] * cores
    m["spark.slot_busy_frac"] = c["spark.run_ms"] / busy if busy else 0.0
    m["formats.ensure_written.calls"] = c["formats.calls"] / ops
    m["formats.builds_setup"] = c["formats.builds.setup"] / setups
    m["formats.builds_timed"] = c["formats.builds.timed"] / ops
    m["formats.build_s"] = c["formats.build_s.setup"] / setups
    m["formats.bytes_written"] = c["formats.bytes.setup"] / setups
    commits = c["opusdb_log.appends"]  # one append per bank commit
    for k in ("opusdb_log.append_ms", "opusdb_log.bytes", "mvcc.merge_ms", "mvcc.write_ms"):
        m[k] = c[k] / commits if commits else 0.0
    m["mvcc.rows_per_commit"] = c["mvcc.rows_written"] / commits if commits else 0.0
    selft = tracer.self_times_ms("timed")
    for layer in SELF_LAYERS:
        m[f"self_ms.{layer}"] = selft.get(layer, 0.0) / ops
    m["trace.overhead_ms"] = tracer.overhead_s * 1000 / ops
    m["trace.overhead_frac"] = tracer.overhead_s / out.wall_s
    m["trace.spans_per_op"] = sum(s["phase"] == "timed" for s in tracer.spans) / ops
    m.update(out.layer)
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(CORPUS_SF))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, help="corpus scale (default per workload)")
    ap.add_argument("--in-session", action="store_true", help=argparse.SUPPRESS)
    argv = sys.argv[1:] if argv is None else argv
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "opusdb_spark")):
        print("perfbench: run from a checkout of the repository", file=sys.stderr)
        return 2
    sf = args.sf if args.sf is not None else CORPUS_SF[args.workload]
    sf_dir = os.path.join(CORPUS, f"pb_sf{sf:g}")
    if not os.path.isdir(sf_dir):
        print(f"perfbench: no corpus at {sf_dir}", file=sys.stderr)
        return 2
    if not args.in_session:
        return _supervise(argv)

    def on_deadline(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, on_deadline)
    signal.alarm(DEADLINE_S)

    os.makedirs(WORK, exist_ok=True)
    cores = _cores()
    _engine_env(cores, sf_dir)

    from opusdb_spark.session import get_spark

    from perfbench.trace import Tracer, cpu_jiffies, median
    from perfbench.workloads import WORKLOADS, Ctx, note

    busy0, steal0 = cpu_jiffies()
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]", shuffle_partitions=cores
    )
    start_s = time.perf_counter() - t0
    note(f"session started in {start_s:.2f}s")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(spark, enabled=bool(args.trace))
        _install_layer_wrappers(tracer)
        ctx = Ctx(
            spark=spark, tracer=tracer, seed=args.seed, seconds=args.seconds,
            sf_dir=sf_dir,
            scratch=os.path.join(ROOT, ".scratch"), work=WORK,
        )
        with tracer.span(args.workload, "workload"):
            out = WORKLOADS[args.workload](ctx)
        rss_mb, rss_tree_mb = _peak_rss_mb()
        busy1, steal1 = cpu_jiffies()
        conf = spark.sparkContext.getConf()
        engine = {
            "cores": cores,
            "master": conf.get("spark.master"),
            "confs": {
                k: conf.get(k, None)
                for k in (
                    "spark.sql.shuffle.partitions",
                    "spark.sql.adaptive.enabled",
                    "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
                    "spark.driver.memory",
                )
            },
            "spark": spark.version,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
        }
        if args.trace:
            metrics = _per_layer(out, tracer, cores, start_s)
        else:
            metrics = {
                "setup_s": median(out.setup_s),
                "op_mean_ms": statistics.fmean(out.op_ms),
                "op_cpu_ms": sum(out.op_cpu_ms) / len(out.op_cpu_ms),
            }
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "corpus": os.path.basename(sf_dir),
            "engine": engine,
            "samples": {"setup_s": len(out.setup_s), "op_ms": len(out.op_ms)},
            "op_p50_ms": median(out.op_ms),
            # fewer than 100 samples leave under 10 beyond p90: context only
            "op_p90_ms": statistics.quantiles(out.op_ms, n=10)[-1]
            if len(out.op_ms) >= 2 else None,
            "timed_s": out.wall_s,
            # wall figures, stolen CPU time included
            "setup_wall_s": median(out.setup_wall_s),
            "op_p50_wall_ms": median(out.op_wall_ms),
            "ops_per_s": len(out.op_ms) / (out.wall_s - out.check_s),
            # the driver and its JVM; the tree adds the Python workers,
            # whose number alive at the end varies from run to run
            "peak_rss_mb": rss_mb,
            "peak_rss_all_processes_mb": rss_tree_mb,
            # share of the CPU time the run asked for that the host gave
            # to other guests
            "cpu_steal_frac": (steal1 - steal0)
            / max(1, busy1 - busy0 + steal1 - steal0),
            "failed_frac": out.failed / max(1, out.attempted),
            **out.detail,
        }
        if args.trace:
            path = os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json")
            tracer.dump(path, {"detail": detail, "metrics": metrics})
            detail["trace_file"] = os.path.relpath(path, ROOT)
        print(json.dumps({"detail": detail}, default=str))
        # every named metric, in BENCHMARK.json order; a layer this
        # workload does not reach reads 0
        spec = _spec()["per_layer" if args.trace else "end_to_end"]
        result = {
            "correct": out.failed == 0,
            "attempted": out.attempted,
            "failed": out.failed,
            "metrics": {
                m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
                for m in spec
            },
        }
        signal.alarm(0)
        sys.stdout.flush()
        print(json.dumps(result), flush=True)
        return 0
    finally:
        spark.stop()


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


if __name__ == "__main__":
    sys.exit(main())
