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


def test_dataframe_debugging_is_off(spark):
    """get_spark turns off PySpark's DataFrame call-site capture, which
    costs a py4j round trip on every Column method."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()


def test_repeated_query_compiles_nothing_after_100_others(spark):
    """get_spark sizes the generated-class cache past Spark's default
    100 entries, so a query re-run after 150 other distinct compiled
    plans hits the cache instead of recompiling its classes."""
    jvm = spark.sparkContext._jvm
    metrics = getattr(jvm.org.apache.spark.metrics.source, "CodegenMetrics$")
    compiled = metrics.__getattr__("MODULE$").METRIC_COMPILATION_TIME()

    def run(i: int) -> None:
        # A long literal is inlined in the generated code: one class
        # per i. execute() compiles the stage without running a job.
        df = spark.range(2, numPartitions=1).selectExpr(f"id * {i}L + 7L AS v")
        df._jdf.queryExecution().executedPlan().execute()

    run(0)
    for i in range(1, 151):
        run(i)
    before = compiled.getCount()
    run(0)
    assert compiled.getCount() == before
