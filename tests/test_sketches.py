"""Guarantee pins for the deterministic sketch queries (sketches.py).

Parity vs the DuckDB oracle is covered by test_oracle_parity; these pin
the MATHEMATICAL contracts the oracle comparison can't see — the
DDSketch relative-error bound, KMV's sketch-complete exactness regime,
and lossless partial merging."""

from __future__ import annotations

import math

import numpy as np
import pyspark.sql.functions as F
import pytest

from opusdb_spark.operators.sketch import DD_GAMMA as _GAMMA
from opusdb_spark.queries.sketches import (
    _KMV_K,
    agg_ddsketch_quantiles,
    agg_kmv_set_ops,
    ddsketch_buckets,
)
from opusdb_spark.tables import table
from tests.conftest import SF_SMALL


def test_ddsketch_relative_error_bound(spark):
    """DDSketch's defining guarantee: the returned bucket midpoint is
    within alpha = (gamma-1)/(gamma+1) of the EMPIRICAL q-quantile —
    the data point at rank ceil(q*n), which is exactly the element the
    sketch's cumulative walk targets. (The query's shipped rel_err uses
    the INTERPOLATED quantile_cont instead, which can sit a whole
    inter-point gap away from any data point in a 200-sample tail —
    visible data, but not what the sketch promises.)"""
    alpha = (_GAMMA - 1.0) / (_GAMMA + 1.0)
    rows = agg_ddsketch_quantiles(spark, SF_SMALL).collect()
    assert len(rows) == 15  # 5 types x 3 quantiles
    vals = {
        t: sorted(
            r["value"]
            for r in table(spark, SF_SMALL, "events")
            .filter((F.col("value") > 0) & (F.col("event_type") == t))
            .select("value")
            .collect()
        )
        for t in {r["event_type"] for r in rows}
    }
    for r in rows:
        v = vals[r["event_type"]]
        rank_stat = v[math.ceil(r["q"] * len(v)) - 1]
        err = abs(r["est_value"] / rank_stat - 1)
        assert err <= alpha + 1e-6, (
            f"{r['event_type']} q={r['q']}: |est/rank_stat - 1| = "
            f"{err:.6f} exceeds alpha={alpha:.6f}"
        )


def test_ddsketch_partial_merge_lossless(spark):
    """Merging per-(type, day) bucket partials by count addition must
    equal sketching the whole table in one pass — the decomposability
    that makes the sketch storable in a rollup store."""
    ev = (
        table(spark, SF_SMALL, "events")
        .filter(F.col("value") > 0)
        .select("event_type", F.to_date("ts").alias("day"), "value")
    )
    merged = (
        ddsketch_buckets(ev, ["event_type", "day"])
        .groupBy("event_type", "bkt")
        .agg(F.sum("cnt").alias("cnt"))
    )
    direct = ddsketch_buckets(ev, ["event_type"])
    assert merged.exceptAll(direct).count() == 0
    assert direct.exceptAll(merged).count() == 0


def test_kmv_sketch_complete_regime_is_exact(spark):
    """At sf0.001 every type has ~15 distinct users < k=64, so each KMV
    sketch holds the ENTIRE hashed set: union and intersection
    estimates must equal the exact counts — no estimator error when
    the sketch hasn't saturated."""
    rows = agg_kmv_set_ops(spark, SF_SMALL).collect()
    assert len(rows) == 10  # C(5,2) type pairs
    for r in rows:
        assert r["exact_union"] < _KMV_K  # precondition of the regime
        assert r["est_union"] == pytest.approx(r["exact_union"])
        assert r["est_intersect"] == pytest.approx(r["exact_intersect"])
        assert 0.0 <= r["est_jaccard"] <= 1.0


@pytest.mark.parametrize("seed", [7, 42, 1234])
def test_ddsketch_bound_on_random_distributions(spark, tmp_path, seed):
    """The alpha guarantee must hold for arbitrary positive value
    shapes, not just the fixture corpus: heavy-tailed lognormal values
    per type, est within alpha of the rank statistic at every q."""
    from datetime import datetime, timedelta

    from opusdb_spark.queries.sketches import agg_ddsketch_quantiles

    rng = np.random.RandomState(seed)
    t0 = datetime(2024, 1, 1)
    rows = []
    for t, scale in (("heavy", 3.0), ("narrow", 0.2)):
        for i, v in enumerate(rng.lognormal(0.0, scale, 500)):
            rows.append((t0 + timedelta(minutes=i), t, float(v)))
    df = spark.createDataFrame(
        rows, "ts timestamp, event_type string, value double"
    )
    sf_dir = str(tmp_path / f"dd{seed}")
    df.write.mode("overwrite").parquet(f"{sf_dir}/events.parquet")

    vals = {
        t: sorted(r[2] for r in rows if r[1] == t) for t in ("heavy", "narrow")
    }
    alpha = (_GAMMA - 1.0) / (_GAMMA + 1.0)
    out = agg_ddsketch_quantiles(spark, sf_dir).collect()
    assert len(out) == 6
    for r in out:
        v = vals[r["event_type"]]
        rank_stat = v[math.ceil(r["q"] * len(v)) - 1]
        assert abs(r["est_value"] / rank_stat - 1) <= alpha + 1e-6, r


def test_kmv_set_relation_invariants(spark, tmp_path):
    """Structural truths the estimator must respect regardless of
    sampling error: identical sets → jaccard 1 and intersection ==
    union; disjoint sets → jaccard 0 and intersection 0."""
    import shutil
    from datetime import datetime, timedelta

    from opusdb_spark.queries.sketches import agg_kmv_set_ops
    from opusdb_spark.sources.formats import corpus_scratch_path

    t0 = datetime(2024, 1, 1)
    rows = []
    for u in range(300):  # 'twin_a' and 'twin_b' share every user
        rows.append((t0 + timedelta(minutes=u), "twin_a", 1.0, u))
        rows.append((t0 + timedelta(minutes=u), "twin_b", 1.0, u))
        rows.append((t0 + timedelta(minutes=u), "zz_disj", 1.0, 100000 + u))
    df = spark.createDataFrame(
        rows, "ts timestamp, event_type string, value double, user_id long"
    )
    sf_dir = str(tmp_path / "kmv")
    df.write.mode("overwrite").parquet(f"{sf_dir}/events.parquet")

    got = {
        (r["type_a"], r["type_b"]): r for r in agg_kmv_set_ops(spark, sf_dir).collect()
    }
    # the store is named by the corpus path, unique to this tmp_path
    shutil.rmtree(corpus_scratch_path("kmv_state", sf_dir))
    twins = got[("twin_a", "twin_b")]
    assert twins["est_jaccard"] == 1.0
    assert twins["est_intersect"] == twins["est_union"]
    assert twins["exact_intersect"] == twins["exact_union"] == 300
    for pair in (("twin_a", "zz_disj"), ("twin_b", "zz_disj")):
        r = got[pair]
        assert r["est_jaccard"] == 0.0
        assert r["est_intersect"] == 0.0
        assert r["exact_intersect"] == 0
        assert r["exact_union"] == 600
