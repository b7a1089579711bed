"""Spans and layer counters for the benchmark, measured from outside.

The benchmark never edits the program. A traced run swaps the public
functions of each layer (`tables.table`, `formats.ensure_written`,
`formats.read_store`, ...) for timing wrappers in every module that
imported them, tags each build/action with a Spark job group, and
reads the engine's own job and stage records from the status store
(`SparkContext.statusStore()`, which works with the UI disabled).

`Meter` times the benchmark's operations for the end-to-end metrics,
with the CPU time a shared host takes away left out.

Spans are kept in memory and written as JSON when the run ends. The
tracer times all of its own work (span records, job-group switches,
per-call job counts, status-store reads) and charges each piece to the
span it ran in. A span's self time is its duration minus the union of
its children's intervals and minus that charge; a layer's `ms` counter
leaves the charge out too. The charges summed over the timed phase are
the tracing overhead.
"""

from __future__ import annotations

import collections
import itertools
import json
import os
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass

STAGE_FIELDS = {
    # metric name -> (StageData accessor, scale to the metric's unit)
    "spark.run_ms": ("executorRunTime", 1.0),
    "spark.cpu_ms": ("executorCpuTime", 1e-6),
    "spark.gc_ms": ("jvmGcTime", 1.0),
    "spark.input_records": ("inputRecords", 1.0),
    "spark.shuffle_read_bytes": ("shuffleReadBytes", 1.0),
    "spark.shuffle_write_bytes": ("shuffleWriteBytes", 1.0),
    "spark.spill_bytes": ("memoryBytesSpilled", 1.0),
}


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def cpu_jiffies() -> tuple[int, int]:
    """(busy, stolen) CPU time of the machine so far, in jiffies, from
    /proc/stat. Stolen time is the time the hypervisor ran other guests
    while this VM had work for the CPU."""
    with open("/proc/stat") as f:
        user, nice, system, _, _, irq, softirq, steal = map(
            int, f.readline().split()[1:9]
        )
    return user + nice + system + irq + softirq, steal


def proc_stats():
    """(pid, fields) of every process, from /proc/<pid>/stat; fields
    start after the command name: state, ppid, pgrp, session, ..."""
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                yield int(name), f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue


def session_cpu_s() -> float:
    """CPU seconds used so far by the processes of this session: the
    benchmark, its JVM and the Python workers, ended children included.
    The kernel leaves stolen time out of a process's CPU time."""
    sid = os.getsid(0)
    ticks = sum(  # utime stime cutime cstime
        sum(map(int, f[11:15])) for _, f in proc_stats() if int(f[3]) == sid
    )
    return ticks / os.sysconf("SC_CLK_TCK")


@dataclass
class Reading:
    wall_ms: float
    ms: float  # wall time with the stolen share taken out
    cpu_ms: float  # CPU time of the session's processes
    unstolen: float  # busy / (busy + stolen) over the interval


class Meter:
    """Measures one interval three ways. On a shared host the hypervisor
    takes a varying share of the CPU time this VM asks for; `ms` scales
    the wall time by the share it was given (machine-wide busy jiffies
    over busy plus stolen ones), so the figure reads what an unshared
    machine would have shown."""

    def __init__(self):
        self._cpu0 = session_cpu_s()
        self._j0 = cpu_jiffies()
        self._t0 = time.perf_counter()

    def stop(self) -> Reading:
        wall_ms = (time.perf_counter() - self._t0) * 1000
        (b0, s0), (b1, s1) = self._j0, cpu_jiffies()
        busy, stolen = b1 - b0, s1 - s0
        unstolen = busy / (busy + stolen) if busy + stolen > 0 else 1.0
        cpu_ms = (session_cpu_s() - self._cpu0) * 1000
        return Reading(wall_ms, wall_ms * unstolen, cpu_ms, unstolen)


class Tracer:
    """Collects spans and per-layer counters. With `enabled=False`
    no span, job group or layer wrapper is installed, so the untraced
    run measures the program alone."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: collections.Counter = collections.Counter()
        self.overhead_s = 0.0
        # "warm-up", "setup", "timed" or "done"; counters cover "timed"
        self.phase = "warm-up"
        self._stack: list[dict] = []  # open span records
        self._ids = itertools.count(1)
        self._groups = itertools.count(1)
        self._group: str | None = None
        # status-store times are epoch ms; spans use perf_counter
        self._epoch0 = time.time() - time.perf_counter()

    def add(self, name: str, value: float) -> None:
        """Add to a layer counter; counters cover the timed phase."""
        if self.phase == "timed":
            self.counters[name] += value

    def charge(self, t0: float) -> float:
        """Book the tracer's own work since `t0` to the innermost open
        span and, in the timed phase, to the overhead. Returns now."""
        t = time.perf_counter()
        if self._stack:
            self._stack[-1]["overhead_s"] += t - t0
        if self.phase == "timed":
            self.overhead_s += t - t0
        return t

    # -- spans ---------------------------------------------------------
    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        rec = {
            "id": next(self._ids),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "layer": layer,
            "start": t,
            "end": None,
            "phase": self.phase,
            "overhead_s": 0.0,
        }
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(rec)
        self.charge(t)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    @contextmanager
    def spark_phase(self, name: str, layer: str, **attrs):
        """A span whose Spark jobs are attributed to it: the jobs run
        under a fresh job group and are read back from the status store
        when the block ends. Yields the span record (None if untraced);
        engine totals land in `rec["spark"]`."""
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        sc = self.spark.sparkContext
        outer = self._group
        group = f"pb{next(self._groups)}"
        sc.setJobGroup(group, name)
        self._group = group
        self.charge(t)
        with self.span(name, layer, **attrs) as rec:
            t0, ov0 = time.perf_counter(), self.overhead_s
            try:
                yield rec
            finally:
                t = time.perf_counter()
                ms = (t - t0 - (self.overhead_s - ov0)) * 1000
                self._group = outer
                if outer is None:
                    sc.setJobGroup("pb_idle", "idle")
                else:
                    sc.setJobGroup(outer, outer)
                self.charge(t)
                rec["spark"] = self.harvest(group, rec["id"])
                if self.phase == "timed":
                    self.counters[f"{layer}.ms"] += ms
                    self.counters[f"{layer}.jobs"] += rec["spark"].get("spark.jobs", 0)
                    self.counters["spark.phase_ms"] += ms

    def jobs_in_group(self) -> int:
        """Jobs launched so far under the innermost job group."""
        if self._group is None:
            return 0
        st = self.spark.sparkContext.statusTracker()
        return len(st.getJobIdsForGroup(self._group))

    def harvest(self, group: str, parent: int) -> dict:
        """Engine totals of every job run under `group`, recorded as
        job and stage spans under `parent` and, in the timed phase,
        added to the counters. Its time is charged as overhead."""
        t = time.perf_counter()
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(10_000)
        store = jsc.statusStore()
        tot = collections.Counter()
        for job_id in sorted(sc.statusTracker().getJobIdsForGroup(group)):
            job = store.job(job_id)
            jspan = self._epoch_span(
                f"job {job_id}", "spark.job", parent, job.submissionTime(),
                job.completionTime(),
            )
            tot["spark.jobs"] += 1
            for sid in _seq_ints(job.stageIds()):
                st = store.lastStageAttempt(sid)
                if str(st.status()) != "COMPLETE":
                    continue  # skipped: its work ran in an earlier job
                tot["spark.stages"] += 1
                tot["spark.tasks"] += st.numTasks()
                for metric, (field, scale) in STAGE_FIELDS.items():
                    tot[metric] += getattr(st, field)() * scale
                self._epoch_span(
                    f"stage {sid}", "spark.stage", jspan, st.submissionTime(),
                    st.completionTime(), tasks=st.numTasks(),
                    run_ms=st.executorRunTime(),
                )
        if self.phase == "timed":
            self.counters.update(tot)
        self.charge(t)
        return dict(tot)

    def _epoch_span(self, name, layer, parent, start_opt, end_opt, **attrs):
        if not (start_opt.isDefined() and end_opt.isDefined()):
            return parent
        sid = next(self._ids)
        rec = {
            "id": sid,
            "parent": parent,
            "name": name,
            "layer": layer,
            "start": start_opt.get().getTime() / 1000 - self._epoch0,
            "end": end_opt.get().getTime() / 1000 - self._epoch0,
            "phase": self.phase,
        }
        rec.update(attrs)
        self.spans.append(rec)
        return sid

    # -- layer wrappers ------------------------------------------------
    def wrap(self, module, fname: str, layer: str, on_call=None) -> None:
        """Replace `module.fname` (and every `from module import fname`
        binding in the program's modules) with a wrapper that records a
        span, a call count, wall ms and the Spark jobs the call launched.
        `on_call(args, kwargs)` may return replacement arguments. The
        job counts before and after the call are tracer overhead."""
        if not self.enabled:
            return
        orig = getattr(module, fname)
        tracer = self

        def wrapper(*args, **kwargs):
            t = time.perf_counter()
            if on_call is not None:
                args, kwargs = on_call(args, kwargs)
            jobs0 = tracer.jobs_in_group()
            tracer.charge(t)
            with tracer.span(fname, layer):
                t0, ov0 = time.perf_counter(), tracer.overhead_s
                try:
                    return orig(*args, **kwargs)
                finally:
                    t = time.perf_counter()
                    if tracer.phase == "timed":
                        c = tracer.counters
                        c[f"{layer}.calls"] += 1
                        c[f"{layer}.ms"] += (t - t0 - (tracer.overhead_s - ov0)) * 1000
                        c[f"{layer}.jobs"] += tracer.jobs_in_group() - jobs0
                    tracer.charge(t)

        wrapper.__wrapped__ = orig
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "") or ""
            if name.startswith("opusdb_spark") and getattr(mod, fname, None) is orig:
                setattr(mod, fname, wrapper)

    # -- reporting -----------------------------------------------------
    def self_times_ms(self, phase: str) -> dict[str, float]:
        """Sum of span self time per layer over the spans opened in
        `phase` (and the engine spans under them), in ms, less the
        tracer's own work charged to each span."""
        kids: dict[int, list[tuple[float, float]]] = collections.defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out: collections.Counter = collections.Counter()
        for s in self.spans:
            if s["end"] is None or s["phase"] != phase:
                continue
            dur = s["end"] - s["start"] - s.get("overhead_s", 0.0)
            out[s["layer"]] += max(0.0, dur - _covered(kids[s["id"]], s))
        return {k: v * 1000 for k, v in out.items()}

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


def _covered(intervals, span) -> float:
    """Length of the union of child intervals clipped to the span."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        s, e = max(s, span["start"]), min(e, span["end"])
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _seq_ints(seq) -> list[int]:
    text = seq.mkString(",")
    return [int(x) for x in text.split(",") if x]


def floor_ms(spark, jobs: int) -> float:
    """Median wall ms of a no-op Spark job: the per-job scheduling
    floor of this engine setup in this measurement window."""
    costs = []
    for _ in range(jobs):
        t0 = time.perf_counter()
        spark.range(10).count()
        costs.append((time.perf_counter() - t0) * 1000)
    return median(costs)
