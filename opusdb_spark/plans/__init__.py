"""Plan introspection helpers — the 100 TB story is in the plan.

Used by tests/test_plans.py to pin plan shapes, and handy at a REPL to
check that a new query scans, shuffles, and broadcasts the way you
intended before it ever runs at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The explain output as a string (what df.explain() prints)."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )
