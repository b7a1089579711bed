"""The worker daemon's zip-directory guard (opusdb_spark/pyworker.py).

The first two tests drive the guard in this process, without Spark:
an unchanged archive is never re-read, and a rewritten one is picked
up by the next `importlib.invalidate_caches()`. The third proves the
session's Python workers actually run it, rewrites included — a dropped
`spark.python.daemon.module` conf, or a daemon that fell back to
`pyspark.daemon`, fails here instead of silently costing every task
a re-read of pyspark.zip.
"""

from __future__ import annotations

import importlib
import sys
import uuid
import zipfile
import zipimport

import pytest

from opusdb_spark import pyworker

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython >= 3.13 re-reads zip directories lazily; no guard",
)


@pytest.fixture
def zip_pkg(tmp_path, monkeypatch):
    """A zip on sys.path holding module `<name>_a`, the guard installed
    with a fresh stamp table, and a log of directory reads per archive."""
    name = f"zg_{uuid.uuid4().hex[:8]}"
    archive = str(tmp_path / f"{name}.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{name}_a.py", "X = 1\n")
    monkeypatch.setattr(pyworker, "_stamps", {})
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        pyworker.guarded_invalidate_caches,
    )
    reads: list[str] = []
    real = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.syspath_prepend(archive)
    yield name, archive, reads
    for mod in (f"{name}_a", f"{name}_b"):
        sys.modules.pop(mod, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


def test_unchanged_archive_is_not_reread(zip_pkg):
    name, archive, reads = zip_pkg
    assert importlib.import_module(f"{name}_a").X == 1
    del reads[:]
    importlib.invalidate_caches()  # no stamp yet: one read, stamped
    assert reads.count(archive) == 1
    del reads[:]
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(archive) == 0


def test_rewritten_archive_is_picked_up(zip_pkg):
    name, archive, reads = zip_pkg
    importlib.import_module(f"{name}_a")
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module(f"{name}_b")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{name}_a.py", "X = 1\n")
        z.writestr(f"{name}_b.py", "Y = 2\n")
    del reads[:]
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module(f"{name}_b").Y == 2


def test_spark_workers_run_the_guard(spark, tmp_path):
    """Workers run the guard, and it still lets them see a rewritten
    archive."""
    import pandas as pd

    archive = str(tmp_path / "worker.zip")
    mod = f"zw_{uuid.uuid4().hex[:8]}"

    # runs in the worker: its module globals (zipimport, pyworker, ...)
    # pickle by reference and resolve to the worker's own modules
    def probe(batches):
        for _ in batches:
            pass
        guarded = (
            zipimport.zipimporter.invalidate_caches
            is pyworker.guarded_invalidate_caches
        )
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr(f"{mod}_a.py", "X = 1\n")
        sys.path.insert(0, archive)
        try:
            importlib.import_module(f"{mod}_a")
            importlib.invalidate_caches()
            with zipfile.ZipFile(archive, "w") as z:
                z.writestr(f"{mod}_a.py", "X = 1\n")
                z.writestr(f"{mod}_b.py", "Y = 2\n")
            importlib.invalidate_caches()
            picked_up = importlib.import_module(f"{mod}_b").Y == 2
        finally:
            sys.path.remove(archive)
            sys.path_importer_cache.pop(archive, None)
        yield pd.DataFrame({"guarded": [guarded], "picked_up": [picked_up]})

    rows = (
        spark.range(1, numPartitions=1)
        .mapInPandas(probe, "guarded boolean, picked_up boolean")
        .collect()
    )
    assert [tuple(r) for r in rows] == [(True, True)]
