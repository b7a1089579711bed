"""ensure_written publishes a store atomically: a build killed midway
leaves the previous complete store or no store, never a partial one,
and the next call publishes a complete store (pure Python, no Spark).
read_store takes a flat Spark-written store's schema from its footers
(no job) and every other layout's from Spark's own inference; either
way the schema equals a plain spark.read.parquet. corpus_scratch_path
keeps the per-corpus store names the inline formula gave, and only
formats names and builds a store."""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import textwrap
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from opusdb_spark.sources import formats
from opusdb_spark.sources.formats import ensure_written

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# A build that writes one file of the new store, signals, then blocks
# until it is killed.
_CHILD = textwrap.dedent(
    """
    import os, sys, time
    from opusdb_spark.sources.formats import ensure_written

    path, ready = sys.argv[1], sys.argv[2]

    def write(p):
        os.makedirs(p)
        with open(os.path.join(p, "part-new-0.parquet"), "w") as f:
            f.write("new")
        open(ready, "w").close()
        time.sleep(600)

    ensure_written(path, {"v": 2}, write)
    """
)


def _writer(*names):
    def write(p):
        os.makedirs(p)
        for n in names:
            with open(os.path.join(p, n), "w") as f:
                f.write(n)

    return write


def _contents(path):
    with open(os.path.join(path, "_fingerprint.json")) as f:
        marker = json.load(f)
    files = sorted(n for n in os.listdir(path) if n != "_fingerprint.json")
    return marker, files


def _kill_mid_build(path, tmp_path):
    ready = str(tmp_path / "ready")
    env = {**os.environ, "PYTHONPATH": _ROOT}
    proc = subprocess.Popen(
        [sys.executable, "-c", _CHILD, path, ready],
        cwd=_ROOT,
        env=env,
        stderr=subprocess.PIPE,
    )
    try:
        deadline = time.monotonic() + 120
        while not os.path.exists(ready):
            assert proc.poll() is None, proc.stderr.read().decode()
            assert time.monotonic() < deadline, "build never started"
            time.sleep(0.05)
    finally:
        proc.send_signal(signal.SIGKILL)
        proc.wait()
        proc.stderr.close()
    return proc.pid


@pytest.mark.parametrize("has_previous", [True, False])
def test_killed_build_leaves_old_store_or_none(tmp_path, has_previous):
    path = str(tmp_path / "store")
    if has_previous:
        old = _writer("part-old-0.parquet", "part-old-1.parquet")
        ensure_written(path, {"v": 1}, old)

    pid = _kill_mid_build(path, tmp_path)

    staging = f"{path}.tmp-{pid}"
    assert os.path.isdir(staging), "the killed build was not staged"
    if has_previous:
        assert _contents(path) == (
            {"v": 1},
            ["part-old-0.parquet", "part-old-1.parquet"],
        ), "killed build exposed a partial or mixed store"
    else:
        assert not os.path.exists(path), "killed build exposed a partial store"

    # the next build publishes a complete store past the leftover
    # staging dir of the dead build, and sweeps that dir away
    new = _writer("part-new-0.parquet", "part-new-1.parquet")
    ensure_written(path, {"v": 2}, new)
    assert _contents(path) == (
        {"v": 2},
        ["part-new-0.parquet", "part-new-1.parquet"],
    )
    assert sorted(os.listdir(tmp_path)) == sorted(["ready", "store"])


def test_matching_fingerprint_skips_build_and_rebuild_is_new_inode(tmp_path):
    path = str(tmp_path / "store")
    ensure_written(path, {"k": (1, 2)}, _writer("a.parquet"))
    ino = os.stat(path).st_ino

    def boom(p):
        raise AssertionError("rebuilt a current store")

    # tuples round-trip through JSON as lists: still a match
    ensure_written(path, {"k": (1, 2)}, boom)
    ensure_written(path, {"k": [1, 3]}, _writer("b.parquet"))
    assert _contents(path) == ({"k": [1, 3]}, ["b.parquet"])
    assert os.stat(path).st_ino != ino
    assert os.listdir(tmp_path) == ["store"]


def test_read_store_takes_schema_from_footers_without_a_job(spark, tmp_path):
    """After an append whose footers differ from the first write only in
    nullability, read_store resolves the store with 0 jobs and the
    schema inference would give."""
    p = str(tmp_path / "store")
    spark.range(3).select(
        F.col("id").alias("k"), F.lit("a").alias("s")
    ).coalesce(1).write.parquet(p)
    spark.createDataFrame(
        [(7, None)], "k long, s string"
    ).coalesce(1).write.mode("append").parquet(p)
    raw = {
        formats.footer(f).metadata[formats._SPARK_ROW_METADATA]
        for f, _ in formats.list_store_files(p)
    }
    assert len(raw) == 2, "fixture footers must differ (in nullability)"

    sc = spark.sparkContext
    sc.setJobGroup("footer_schema_probe", "read_store after append")
    try:
        df = formats.read_store(spark, p)
    finally:
        sc.setJobGroup("idle", "idle")
    assert sc.statusTracker().getJobIdsForGroup("footer_schema_probe") == [], (
        "read_store inferred the schema of a flat Spark-written store"
    )
    assert df.schema == spark.read.parquet(p).schema
    assert sorted(r.k for r in df.collect()) == [0, 1, 2, 7]


def _pyarrow_dir(spark, p):
    os.makedirs(p)
    pq.write_table(
        pa.table({"k": pa.array([1, 2], pa.int32()), "s": ["a", None]}),
        os.path.join(p, "part-0.parquet"),
    )
    return p


def _hive_partitioned(spark, p):
    spark.range(6).select(
        F.col("id").alias("k"), (F.col("id") % 2).alias("day")
    ).write.partitionBy("day").parquet(p)
    return p


def _stream_sink(spark, p):
    # the file sink's _spark_metadata log makes Spark read through the
    # log, where the non-nullable `one` column stays non-nullable
    src = p + "_src"
    spark.range(4).select(F.col("id").alias("k")).write.parquet(src)
    q = (
        spark.readStream.schema("k long").parquet(src)
        .select("k", F.lit(1).alias("one"))
        .writeStream.format("parquet")
        .option("checkpointLocation", p + "_chk")
        .trigger(availableNow=True)
        .start(p)
    )
    try:
        assert q.awaitTermination(120), "the availableNow stream hung"
    finally:
        q.stop()
    assert os.path.isdir(os.path.join(p, "_spark_metadata"))
    assert not spark.read.parquet(p).schema["one"].nullable
    return p


def _types_differ(spark, p):
    spark.createDataFrame([(1,)], "k long").write.parquet(p)
    spark.createDataFrame([(2,)], "k int").write.mode("append").parquet(p)
    return p


def _single_file(spark, p):
    spark.range(3).select(F.col("id").alias("k")).coalesce(1).write.parquet(p)
    (f, _), = formats.list_store_files(p)
    return f


@pytest.mark.parametrize(
    "build",
    [
        _pyarrow_dir,
        _hive_partitioned,
        _stream_sink,
        _types_differ,
        _single_file,
    ],
    ids=lambda f: f.__name__.lstrip("_"),
)
def test_read_store_falls_back_to_inference(spark, tmp_path, build):
    """Layouts the footer key cannot describe exactly keep Spark's
    inference, and the schema equals a plain spark.read.parquet."""
    p = build(spark, str(tmp_path / "store"))
    assert formats._footer_schema(p) is None
    assert formats.read_store(spark, p).schema == spark.read.parquet(p).schema



def test_corpus_scratch_path_keeps_store_names():
    """corpus_scratch_path must name a store exactly as the inline
    `<prefix>_<basename>_<md5(abspath)[:8]>` formula it replaced did,
    for any spelling of the corpus dir: a different name would orphan
    every store already built and rebuild it."""
    import hashlib

    from tests.conftest import SF_SMALL

    for sf_dir in (SF_SMALL, SF_SMALL + "/", os.path.relpath(SF_SMALL)):
        tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
        base = os.path.basename(os.path.normpath(sf_dir))
        for prefix in ("minhash_sigs", "ann_index", "dv_orders", "mv_join"):
            want = formats.scratch_path(f"{prefix}_{base}_{tag}")
            assert formats.corpus_scratch_path(prefix, sf_dir) == want
    twin = os.path.join("elsewhere", os.path.basename(SF_SMALL))
    assert formats.corpus_scratch_path("ann_index", twin) != (
        formats.corpus_scratch_path("ann_index", SF_SMALL)
    ), "corpora sharing a basename must not share a store"


def test_only_formats_names_and_builds_stores():
    """Every per-corpus store is named, fingerprinted and built by
    formats.corpus_store: no other package module calls scratch_path
    or ensure_written. The one exception is ann_index.ensure_index,
    which builds an index in any dir it is handed (tests build their
    own). Per-run scratch_sink outputs are not stores."""
    import ast
    from pathlib import Path

    pkg = Path(formats.__file__).parents[1]
    allowed = {("operators/ann_index.py", "ensure_index", "ensure_written")}
    found = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel == "sources/formats.py":
            continue
        tree = ast.parse(path.read_text(), str(path))
        parents = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = getattr(f, "id", None) or getattr(f, "attr", None)
            if name not in ("scratch_path", "ensure_written"):
                continue
            scope = node
            while scope in parents and not isinstance(scope, ast.FunctionDef):
                scope = parents[scope]
            if (rel, getattr(scope, "name", None), name) not in allowed:
                found.append(f"{rel}:{node.lineno}: {name}")
    assert not found, found


# Keys whose stores were once named by the corpus basename alone, and
# the corpus_store prefix of each.
_STORE_PREFIX = {
    "events_rollup_daily": "rollup_daily",
    "agg_kmv_set_ops": "kmv_state",
    "scan_manifest_prune": "manifest_clustered",
    "llm_quality_classifier_score": "clf_model",
}


def test_corpora_sharing_a_basename_keep_their_own_stores(spark, tmp_path):
    """A twin of the corpus under another dir, with the same basename,
    builds its own stores: running each key on the corpus, on the twin
    and on the corpus again leaves the corpus's stores as the first
    run built them (same inodes), not rebuilt by every switch."""
    import shutil

    from opusdb_spark.registry import registry
    from tests.conftest import SF_SMALL

    twin = tmp_path / "twin" / os.path.basename(os.path.normpath(SF_SMALL))
    twin.parent.mkdir()
    os.symlink(SF_SMALL, twin)
    reg = registry()

    def run(sf_dir):
        for key in _STORE_PREFIX:
            reg[key].fn(spark, sf_dir)
        return {
            prefix: os.stat(formats.corpus_scratch_path(prefix, sf_dir)).st_ino
            for prefix in _STORE_PREFIX.values()
        }

    try:
        first = run(SF_SMALL)
        assert run(str(twin)).keys() == first.keys()
        assert run(SF_SMALL) == first
    finally:
        for prefix in _STORE_PREFIX.values():
            shutil.rmtree(
                formats.corpus_scratch_path(prefix, str(twin)), ignore_errors=True
            )
