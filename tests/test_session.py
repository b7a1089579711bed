"""Pin the session confs every query path relies on."""

from __future__ import annotations

from opusdb_spark.session import RUNTIME_CONFS, apply_runtime_confs


def test_runtime_confs_are_modifiable_and_applied(spark):
    """apply_runtime_confs sets every RUNTIME_CONFS key without a
    fallback, so each key must be a runtime-modifiable conf and must
    read back its value once applied — even on a session where every
    one of them was changed first."""
    for k in RUNTIME_CONFS:
        assert spark.conf.isModifiable(k), k
    old = {k: spark.conf.get(k) for k in RUNTIME_CONFS}
    try:
        for k in RUNTIME_CONFS:
            spark.conf.unset(k)
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        assert apply_runtime_confs(spark) is spark
        assert {k: spark.conf.get(k) for k in RUNTIME_CONFS} == RUNTIME_CONFS
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
