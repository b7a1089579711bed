"""Pin bench.py's compact-line contract.

The driver tail-captures ~2000 chars of stdout and parses the final
JSON line; bench._compact trims verbose sections to fit
_FINAL_LINE_BUDGET. This has silently broken twice: r7 (the combined
line outgrew the window and the whole metric went unparsed) and r12
(the streaming instrumentation pushed the line past budget and the
trim ladder fell off a cliff, discarding the 750-char sf1 per-query
map — the round-over-round drift localizer — to recover 36 chars).
This test builds a worst-case-shaped detail object from bench's OWN
constants (every section maximal, every new field present) and pins:
the line fits the budget, and the drift-localizer maps (headline
queries, tpch per-query, sf1 per-query) plus the streaming
instrumentation survive the trims.
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
import inspect
import json
import types
from pathlib import Path

import pytest

import bench


def _detail() -> dict:
    headline = {k: 0.987 for k in bench.HEADLINE}
    spreads = {k: 0.1234 for k in bench.HEADLINE}
    tpch_names = [f"tpch_q{i}" for i in (2, 3, 4, 6, 7, 8, 9, 10, 11, 12,
                                          13, 14, 16, 18, 19, 20, 21, 22)]
    tpch = {k: 1.234 for k in tpch_names}
    sf1 = {k: 12.345 for k in bench.SF1_LADDER}
    return {
        "metric": "headline_queries_total_time",
        "value": round(sum(headline.values()), 4),
        "unit": "sec",
        "timing": bench.TIMING,
        "queries": headline,
        "spread": spreads,
        "spread_worst": {k: 1.5678 for k in bench.HEADLINE},
        "sf": 0.1,
        "q1_rows_per_sec": 12345678,
        "floor_ms": 123.4,
        "floor_end_ms": 234.5,
        "tpch": {
            "queries": tpch,
            "spread": {k: 0.1234 for k in tpch_names},
            "spread_worst": {k: 1.5678 for k in tpch_names},
            "floor_ms": 123.4,
            "total": round(sum(tpch.values()), 4),
        },
        "streaming": {
            "query": "stream_session_timeout",
            "sec": 10.4287,
            "spread": 1.3254,
            "spread_worst": 2.4321,
            "floor_ms": 123.4,
            "n_batches": 4,
            "events_rows": 1000000,
            "rows_per_sec": 95906,
            "sessions_closed": 953910,
        },
        "sf1": {
            "queries": sf1,
            "spread": {k: 0.1234 for k in bench.SF1_LADDER},
            "spread_worst": {k: 1.5678 for k in bench.SF1_LADDER},
            "n_jobs": {k: 123 for k in bench.SF1_LADDER},
            "floor_ms": 123.4,
            "lineitem_rows": 60000000,
            "q1_rows_per_sec": 9876543,
            "tpch": {
                "queries": {k: 12.34 for k in bench.TPCH_SF1},
                "total": 61.7,
            },
        },
    }


def test_compact_line_fits_and_keeps_drift_localizers():
    line = bench._compact(_detail())
    s = json.dumps(line)
    assert len(s) <= bench._FINAL_LINE_BUDGET, (
        f"compact line {len(s)} chars exceeds the "
        f"{bench._FINAL_LINE_BUDGET} budget"
    )
    # the always-survive core
    for k in ("metric", "value", "unit", "sf", "q1_rows_per_sec"):
        assert k in line, k
    # drift localizers: the maps the round verdicts actually consume
    assert "queries" in line, "headline per-query map trimmed"
    assert "q" in line.get("tpch", {}), "tpch per-query map trimmed"
    assert "queries" in line.get("sf1", {}), (
        "sf1 per-query map trimmed — the r12 cliff regressed"
    )
    # the r12 streaming instrumentation (VERDICT r11 ask #1)
    for k in ("sec", "spread", "floor_ms", "n_batches", "rows_per_sec"):
        assert k in line.get("streaming", {}), f"streaming.{k} missing"
    # window-health floors
    assert "floor_ms" in line
    assert "floor_ms" in line.get("tpch", {})
    # r13 sf1 noise/attribution channel (VERDICT r12 asks #1/#2):
    # even in this worst-case-shaped detail, the WIDEST sf1 spread and
    # the n_jobs count for the unattributed store-backed slot must
    # survive the trim ladder — they are the fields that let a judge
    # separate an sf1 swing from plan drift using the line alone.
    sp = line.get("sf1", {}).get("spread_w", {})
    assert sp, "sf1.spread_w fully trimmed"
    # all spreads equal in this fixture; require ≥1 entry carrying
    # the fixture's worst-def value
    assert any(abs(v - 1.57) < 0.01 for v in sp.values())
    assert "events_rollup_incremental" in line.get("sf1", {}).get(
        "n_jobs", {}
    ), "watch-slot n_jobs trimmed"


def test_compact_line_survives_missing_sections():
    """Partial runs (SPARK_GRAFT_TPCH=0 etc.) emit without those
    sections — _compact must not KeyError."""
    d = _detail()
    for drop in ("tpch", "streaming", "sf1"):
        dd = {k: v for k, v in d.items() if k != drop}
        line = bench._compact(dd)
        assert drop not in line
        assert len(json.dumps(line)) <= bench._FINAL_LINE_BUDGET


@pytest.fixture(scope="module")
def local2():
    from opusdb_spark.session import get_spark

    spark = get_spark(
        app_name="njobs-test", master="local[2]", shuffle_partitions=2
    )
    yield spark
    spark.stop()


def test_time_query_counts_jobs(local2):
    """time_query's job instrumentation (r13): the returned record's
    n_jobs must hold the run's job count (≥1; the exact number is
    AQE's business — even range().count() is 2 stage-jobs), and its
    stages and tasks come from the same jobs. The load-bearing
    property is STABILITY: a repeat of the same build must report the
    SAME count — a count that took in earlier runs' jobs would grow."""
    first = bench.time_query(local2, lambda: local2.range(100), runs=1)
    assert first.n_jobs >= 1, first
    assert first.n_stages >= 1, first
    assert first.n_tasks >= first.n_stages, first
    again = bench.time_query(local2, lambda: local2.range(100), runs=1)
    assert again.n_jobs == first.n_jobs, (
        "a prior run's jobs leaked into the count"
    )


def test_time_query_counts_a_streams_micro_batch_jobs(local2):
    """A stream's micro-batches run under the stream's own job group,
    not the caller's; time_query must count them too. The session fold
    runs 2 Spark jobs per micro-batch, so a count below 2 per batch
    missed some."""
    from opusdb_spark.registry import queries
    from opusdb_spark.streaming.jobs import events_stream_n_batches
    from tests.conftest import SF_SMALL

    fn = queries()["stream_session_timeout"]
    t = bench.time_query(local2, lambda: fn(local2, SF_SMALL), runs=1)
    assert t.n_jobs >= 2 * events_stream_n_batches(local2, SF_SMALL), t


def test_time_section_prepares_and_times_every_key(local2):
    """time_section runs each key once (prepare), then time_query's
    warm-up plus at least `runs` timed builds, and reports every key in
    every per-key map next to a positive section floor."""
    calls = {"a": 0, "b": 0, "c": 0}

    def builder(name):
        def build(s, _sf_dir):
            calls[name] += 1
            return s.range(10)

        return build

    qs = {k: builder(k) for k in calls}
    runs = 2
    sec = bench.time_section(local2, qs, list(calls), "stub_sf", runs=runs)
    for f in ("queries", "spread", "spread_worst", "n_jobs", "n_stages",
              "n_tasks"):
        assert set(sec[f]) == set(calls), f
    assert sec["floor_ms"] > 0
    for k, n in calls.items():
        assert n >= 1 + 1 + runs, (k, n)


def test_scripts_use_only_existing_bench_names():
    """Every `bench.<name>` attribute and `from bench import <name>` in
    scripts/*.py must exist on bench: scripts run by hand, so a renamed
    or removed harness name (as when time_query's results moved from
    module globals into its return value) would otherwise break them
    silently until someone next runs one."""
    seen, missing = 0, []
    for path in sorted((Path(bench.__file__).parent / "scripts").glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Name)
                and node.value.id == "bench"
            ):
                names = [node.attr]
            elif isinstance(node, ast.ImportFrom) and node.module == "bench":
                names = [a.name for a in node.names]
            else:
                continue
            seen += len(names)
            missing += [
                f"{path.name}:{node.lineno}: bench.{n}"
                for n in names
                if not hasattr(bench, n)
            ]
    assert seen, "no script references bench — the scan found nothing"
    assert not missing, missing


# Repo packages whose names the frozen benchmark and the scripts use.
_REPO_PACKAGES = ("opusdb_spark", "tests")


def test_benchmark_and_scripts_use_only_existing_package_names():
    """Every opusdb_spark/tests name that perfbench/*.py and scripts/*.py
    import, reach as `<module>.<attr>` on an imported module, or hand
    to a wrapper as `(module, "attr")` must exist, and every call of
    such a name as `f(...)` or `<module>.f(...)` must bind to its
    signature (positional arity and keyword names). perfbench/ is
    frozen (the benchmark runs it unchanged on both sides of a change),
    so a deletion, rename or dropped parameter would otherwise break
    the benchmark only at run time."""
    root = Path(bench.__file__).parent
    paths = sorted((root / "perfbench").glob("*.py"))
    paths += sorted((root / "scripts").glob("*.py"))
    resolved, missing, bound_calls, unbound = set(), [], set(), []

    def check_call(path, node, fn):
        """Bind the call's positional count and keyword names to `fn`;
        calls that splat `*args`/`**kwargs` cannot be checked."""
        if any(isinstance(a, ast.Starred) for a in node.args) or any(
            k.arg is None for k in node.keywords
        ):
            return
        try:
            sig = inspect.signature(fn)
        except (TypeError, ValueError):  # not a callable with a signature
            return
        try:
            sig.bind_partial(*node.args, **{k.arg: k for k in node.keywords})
        except TypeError as e:
            unbound.append(
                f"{path.parent.name}/{path.name}:{node.lineno}: "
                f"{fn.__module__}.{fn.__qualname__}: {e}"
            )
        bound_calls.add((path.parent.name, f"{fn.__module__}.{fn.__qualname__}"))

    def check(path, node, mod, attr):
        """The object `mod.attr` names (a submodule is imported), or
        None after recording it as missing."""
        ref = f"{mod.__name__}.{attr}"
        if hasattr(mod, "__path__") and importlib.util.find_spec(ref):
            importlib.import_module(ref)
        if hasattr(mod, attr):
            resolved.add((path.parent.name, ref))
            return getattr(mod, attr)
        missing.append(f"{path.parent.name}/{path.name}:{node.lineno}: {ref}")
        return None

    for path in paths:
        tree = ast.parse(path.read_text(), str(path))
        bound = {}  # local name -> repo module it is bound to
        names = {}  # local name -> repo object imported by name
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.module and not node.level:
                if node.module.split(".")[0] not in _REPO_PACKAGES:
                    continue
                mod = importlib.import_module(node.module)
                for a in node.names:
                    sub = check(path, node, mod, a.name)
                    if isinstance(sub, types.ModuleType):
                        bound[a.asname or a.name] = sub
                    elif callable(sub):
                        names[a.asname or a.name] = sub
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                f = node.func
                if isinstance(f, ast.Name) and f.id in names:
                    check_call(path, node, names[f.id])
                elif (
                    isinstance(f, ast.Attribute)
                    and isinstance(f.value, ast.Name)
                    and f.value.id in bound
                    and callable(getattr(bound[f.value.id], f.attr, None))
                ):
                    check_call(path, node, getattr(bound[f.value.id], f.attr))
            if (
                isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Name)
                and node.value.id in bound
            ):
                check(path, node, bound[node.value.id], node.attr)
            elif (
                isinstance(node, ast.Call)
                and len(node.args) >= 2
                and isinstance(node.args[0], ast.Name)
                and node.args[0].id in bound
                and isinstance(node.args[1], ast.Constant)
                and isinstance(node.args[1].value, str)
            ):
                check(path, node, bound[node.args[0].id], node.args[1].value)
    assert {d for d, _ in resolved} == {"perfbench", "scripts"}, resolved
    assert not missing, missing
    assert {d for d, _ in bound_calls} == {"perfbench", "scripts"}, bound_calls
    assert not unbound, unbound


def test_scaled_table_layout_policy():
    """Pin the r14 scale-corpus layout policy: split tables (the
    relational fact/dim chain + embeddings) get one range-partitioned
    file per core slot, growing past 128 MB/file for genuinely large
    corpora; events/documents inherit the build's splits (measured
    slower under every split variant — their ladder slots are
    partial-agg/shuffle-bound, and scattering defeats the map-side
    collapse); tiny tables stay single-file rather than paying 31
    empty scan tasks."""
    # split table, local bench size: one file per slot, keyed
    assert bench.scaled_table_layout("lineitem", 108 << 20, 32) == (
        32,
        "l_orderkey",
    )
    # split table, large corpus: file count grows with bytes
    n, key = bench.scaled_table_layout("lineitem", 100 << 30, 32)
    assert key == "l_orderkey" and n == (100 << 30) // (128 << 20)
    # agg-collapse-sensitive tables are never split
    assert bench.scaled_table_layout("events", 1 << 30, 32) is None
    assert bench.scaled_table_layout("documents", 1 << 30, 32) is None
    # tiny split tables inherit (not worth empty scan tasks)
    assert bench.scaled_table_layout("supplier", 1 << 20, 32) is None
