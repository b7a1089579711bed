"""ensure_written publishes a store atomically: a build killed midway
leaves the previous complete store or no store, never a partial one,
and the next call publishes a complete store (pure Python, no Spark)."""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import textwrap
import time

import pytest

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
