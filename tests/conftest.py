from __future__ import annotations

import os

import duckdb
import pytest

from opusdb_spark.session import get_spark
from opusdb_spark.tables import TABLE_NAMES

SF_SMALL = os.environ.get("OPUSDB_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("OPUSDB_ORACLE_SF_DIR", "/root/testdata/sf0.01")

# Pin the parity corpus BEFORE any registry import: a few oracles embed
# corpus-derived artifact paths in their SQL at import time (e.g.
# llm_dedup_cluster reads the persisted pair graph), and the embedded
# path must match the corpus test_oracle_parity actually runs. Without
# the env the import-time default is the DRIVER's corpus (sf0.01);
# under pytest the parity default is sf0.001, so align them here —
# conftest runs before every test module import.
os.environ.setdefault("OPUSDB_PARITY_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="opusdb-tests", master="local[8]", shuffle_partitions=8)
    yield s
    # Bound executor memory across the suite: drop the graph family's
    # loop-invariant persisted handles before tearing the session down
    # (graph.py keeps one live handle per (query, sf_dir) otherwise).
    from opusdb_spark.operators.cache import release_loop_caches

    release_loop_caches()
    s.stop()


def make_duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


@pytest.fixture(scope="session")
def duck_small():
    con = make_duck(SF_SMALL)
    yield con
    con.close()


@pytest.fixture(scope="session")
def duck_oracle():
    con = make_duck(SF_ORACLE)
    yield con
    con.close()
