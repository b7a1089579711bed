"""Versioned-table API tests — the reference's STM test suite re-aimed
at analytics (SURVEY §5): snapshot rules (stm_test.clj:156-173), bounded
history (stm.clj:47-50), single write-point bump per commit
(stm.clj:42-43), and the bank conservation invariant
(stm_test.clj:98-123, benchmark/bank.clj:41-44).
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from opusdb_spark import mvcc


def _versions(spark):
    return spark.createDataFrame(
        [  # (ref_id, write_point, value)
            (1, 10, 100.0),
            (1, 20, 200.0),
            (1, 30, 300.0),
            (2, 15, 150.0),
        ],
        "ref_id long, write_point long, value double",
    )


def test_latest_per_key(spark):
    got = {r.ref_id: (r.write_point, r.value) for r in mvcc.latest(_versions(spark)).collect()}
    assert got == {1: (30, 300.0), 2: (15, 150.0)}


def test_snapshot_newest_leq_read_point(spark):
    got = {r.ref_id: r.value for r in mvcc.snapshot(_versions(spark), 20).collect()}
    assert got == {1: 200.0, 2: 150.0}  # inclusive ≤ at 20
    early = {r.ref_id: r.value for r in mvcc.snapshot(_versions(spark), 12).collect()}
    assert early == {1: 100.0}, "ref 2 not yet born at rp=12 → absent"


def test_retain_caps_history(spark):
    kept = mvcc.retain(_versions(spark), n=2)
    got = sorted((r.ref_id, r.write_point) for r in kept.collect())
    assert got == [(1, 20), (1, 30), (2, 15)], "oldest version of ref 1 dropped"


def test_append_versions_single_write_point(spark, tmp_path):
    """In memory the clock is the max aggregate; read back from parquet
    it comes from the footers. Both give one bumped write point."""
    _versions(spark).write.parquet(str(tmp_path / "v"))
    stored = spark.read.parquet(str(tmp_path / "v"))
    updates = spark.createDataFrame(
        [(1, 111.0), (2, 222.0)], "ref_id long, value double"
    )
    for versions in (_versions(spark), stored):
        out = mvcc.append_versions(versions, updates)
        new_rows = {
            r.ref_id: (r.write_point, r.value)
            for r in out.join(
                versions, ["ref_id", "write_point"], "left_anti"
            ).collect()
        }
        assert new_rows == {1: (31, 111.0), 2: (31, 222.0)}, (
            "all updates in a commit share one bumped write point"
        )
        assert mvcc.latest(out).count() == 2


_NEW_KEY = 10**9


def _next_point(versions):
    """Write point append_versions stamps on a one-row update."""
    upd = versions.sparkSession.createDataFrame(
        [(_NEW_KEY, 0.5)], "ref_id long, value double"
    )
    out = mvcc.append_versions(versions, upd)
    return out.filter(F.col("ref_id") == _NEW_KEY).first().write_point, out


def _store_multi_file(spark, p):
    for lo in (1, 40, 7):  # three files, the max in the middle one
        spark.range(lo, lo + 5).select(
            F.col("id").alias("ref_id"),
            F.col("id").alias("write_point"),
            F.lit(1.0).alias("value"),
        ).coalesce(1).write.mode("append").parquet(p)
    return spark.read.parquet(p)


def _store_with_empty_file(spark, p):
    _versions(spark).write.parquet(p)
    spark.createDataFrame(
        [], "ref_id long, write_point long, value double"
    ).write.mode("append").parquet(p)
    from opusdb_spark.sources.formats import footer, list_store_files

    assert any(
        footer(f).num_row_groups == 0 for f, _ in list_store_files(p)
    ), "fixture must hold a file with 0 row groups"
    return spark.read.parquet(p)


def _store_negative(spark, p):
    spark.createDataFrame(
        [(1, -10, 1.0), (2, -3, 2.0), (1, -7, 3.0)],
        "ref_id long, write_point long, value double",
    ).write.parquet(p)
    return spark.read.parquet(p)


def _store_int_version(spark, p):
    spark.createDataFrame(
        [(1, 4, 1.0), (2, 9, 2.0)],
        "ref_id long, write_point int, value double",
    ).write.parquet(p)
    return spark.read.parquet(p)


def _store_derived(spark, p):
    # the max row is filtered away: footers of the scanned files would
    # overstate the clock of this frame
    _versions(spark).write.parquet(p)
    return (
        spark.read.parquet(p)
        .filter(F.col("write_point") < 30)
        .select("ref_id", "write_point", "value")
    )


def _store_no_statistics(spark, p):
    import os

    os.makedirs(p)
    pq.write_table(
        pa.table(
            {
                "ref_id": pa.array([1, 2], pa.int64()),
                "write_point": pa.array([5, 12], pa.int64()),
                "value": pa.array([1.0, 2.0]),
            }
        ),
        os.path.join(p, "part-0.parquet"),
        write_statistics=False,
    )
    return spark.read.parquet(p)


@pytest.mark.parametrize(
    "build",
    [
        _store_multi_file,
        _store_with_empty_file,
        _store_negative,
        _store_int_version,
        _store_derived,
        _store_no_statistics,
    ],
    ids=lambda f: f.__name__[len("_store_"):],
)
def test_footer_clock_matches_aggregate(spark, tmp_path, build):
    """Whichever path stamps the next write point — row-group statistics
    of a bare scan, or the max aggregate for derived frames and files
    without statistics — it equals max(write_point) + 1 over the frame,
    in the version column's type."""
    versions = build(spark, str(tmp_path / "v"))
    hi = versions.agg(F.max("write_point")).first()[0]
    got, out = _next_point(versions)
    assert got == hi + 1
    assert out.schema["write_point"].dataType == (
        versions.schema["write_point"].dataType
    )


def test_merge_and_append_on_bare_scan_is_one_job(spark, tmp_path):
    """A bank commit — merge over the store's bare scan, then append the
    new write point — runs exactly one job: the write. The clock comes
    from footers, not from an aggregate job."""
    p = str(tmp_path / "bank")
    spark.range(100).select(
        F.col("id").alias("ref_id"),
        F.lit(1).cast("long").alias("write_point"),
        F.lit(10).cast("long").alias("value"),
        F.lit(False).alias("_deleted"),
    ).coalesce(1).write.parquet(p)
    changes = spark.createDataFrame(
        [(3, 5, "upsert"), (4, 15, "upsert")],
        "ref_id long, value long, _op string",
    )
    versions = spark.read.parquet(p)  # the inference job runs here
    sc = spark.sparkContext
    sc.setJobGroup("footer_clock_commit", "merge + append")
    try:
        merged = mvcc.merge(versions, changes)
        merged.filter(F.col("write_point") == 2).coalesce(1).write.mode(
            "append"
        ).parquet(p)
    finally:
        sc.setJobGroup("idle", "idle")
    jobs = sc.statusTracker().getJobIdsForGroup("footer_clock_commit")
    assert len(jobs) == 1, jobs
    new = spark.read.parquet(p).filter(F.col("write_point") == 2)
    got = {(r.ref_id, r.write_point, r.value) for r in new.collect()}
    assert got == {(3, 2, 5), (4, 2, 15)}


def test_conservation_invariant_on_transfers(spark):
    """Bank fixture: only transfers after genesis → total constant at
    every write point (the reference's core invariant)."""
    history = spark.createDataFrame(
        [  # genesis at wp 1: three accounts x 100
            (1, 1, 100.0), (2, 1, 100.0), (3, 1, 100.0),
            # wp 2: transfer 30 from 1 to 2
            (1, 2, 70.0), (2, 2, 130.0),
            # wp 3: transfer 50 from 2 to 3
            (2, 3, 80.0), (3, 3, 150.0),
        ],
        "ref_id long, write_point long, value double",
    )
    totals = {r.write_point: r.total for r in mvcc.conservation(history).collect()}
    assert totals == {1: 300.0, 2: 300.0, 3: 300.0}


def test_conservation_two_level_path_is_exact(spark, monkeypatch):
    """The two-level range decomposition (the >4M-version scale path)
    must be bit-identical to the single-sort path — forced here by
    shrinking the adaptive threshold, with bounds supplied as metadata
    and multi-key write points (two refs committing at one wp)."""
    from opusdb_spark import mvcc as M

    monkeypatch.setattr(M, "_SINGLE_SORT_MAX_VERSIONS", 1)
    history = spark.createDataFrame(
        [
            (1, 1, 100.0), (2, 1, 100.0), (3, 1, 100.0),
            (1, 2, 70.0), (2, 2, 130.0),
            (2, 3, 80.0), (3, 3, 150.0),
            (1, 7, 170.0), (3, 7, 50.0),
        ],
        "ref_id long, write_point long, value double",
    )
    totals = {
        r.write_point: r.total
        for r in mvcc.conservation(
            history, bounds=(1, 7), n_ranges=3
        ).collect()
    }
    assert totals == {1: 300.0, 2: 300.0, 3: 300.0, 7: 300.0}


def test_snapshot_matches_conservation_total(spark):
    """Cross-check: summing a snapshot directly equals the running-total
    formulation at the same write point."""
    history = spark.createDataFrame(
        [(1, 1, 10.0), (2, 1, 20.0), (1, 2, 5.0), (2, 3, 25.0)],
        "ref_id long, write_point long, value double",
    )
    for rp in (1, 2, 3):
        direct = (
            mvcc.snapshot(history, rp).agg(F.sum("value")).first()[0]
        )
        via_deltas = {
            r.write_point: r.total for r in mvcc.conservation(history).collect()
        }[rp]
        assert direct == via_deltas


def test_read_your_own_writes_ordering(spark):
    """In-txn deref order: write-set -> read-set -> history
    (stm.clj:169-171; stm_test.clj:196-202). The writing txn sees its
    pending value; a reader holding only the committed versions does
    not."""
    versions = spark.createDataFrame(
        [(1, 1, 100.0), (1, 2, 110.0), (2, 1, 50.0)],
        "ref_id long, write_point long, value double",
    )
    pending = spark.createDataFrame([(1, 999.0)], "ref_id long, value double")
    own = {r["ref_id"]: r["value"] for r in mvcc.read_own_writes(versions, pending).collect()}
    other = {r["ref_id"]: r["value"] for r in mvcc.latest(versions).collect()}
    assert own == {1: 999.0, 2: 50.0}      # write-set shadows history
    assert other == {1: 110.0, 2: 50.0}    # committed state untouched


def test_abort_rolls_back_whole_write_set(spark, tmp_path):
    """Abort discards the entire write-set (stm.clj:103-106;
    stm_test.clj:48-60): a batch whose job fails mid-write publishes
    NOTHING — Spark's output commit protocol is the rollback."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "versions")
    base = spark.createDataFrame(
        [(1, 1, 100.0), (2, 1, 50.0)],
        "ref_id long, write_point long, value double",
    )
    base.write.mode("overwrite").parquet(out)

    poisoned = spark.createDataFrame(
        [(1, 2, 1.0), (2, 2, 2.0)],
        "ref_id long, write_point long, value double",
    ).withColumn("value", F.expr("raise_error('abort')").cast("double"))
    try:
        poisoned.write.mode("append").parquet(out)
        raise AssertionError("poisoned batch unexpectedly committed")
    except AssertionError:
        raise
    except Exception:
        pass
    readback = spark.read.parquet(out)
    assert readback.count() == 2
    assert readback.agg(F.max("write_point")).first()[0] == 1


def test_log_reopen_continues_append(spark, tmp_path):
    """Reopen continues the log where it ended (log_mgr.clj:68-86;
    log_mgr_test.clj:153-163): a fresh writer derives the next block
    id from the sink and its append lands after the existing blocks."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "log")
    rows = spark.range(10).select(F.col("id").alias("event_id"))
    rows.withColumn("block_id", F.lit(0)).write.mode("append").parquet(out)
    # discard the writer; "reopen" = read the sink to find the end
    nxt = spark.read.parquet(out).agg(F.max("block_id")).first()[0] + 1
    rows.withColumn("block_id", F.lit(nxt)).write.mode("append").parquet(out)
    got = dict(
        (r["block_id"], r["n"])
        for r in spark.read.parquet(out)
        .groupBy("block_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert got == {0: 10, 1: 10}


def test_merge_upsert_delete_insert_one_write_point(spark):
    """MERGE semantics (stm.clj:42-43, 103-122): one write point for
    the whole change-set; deletes are tombstones, so PRE-merge
    snapshots still see the old values."""
    changes = spark.createDataFrame(
        [
            (1, 999.0, "upsert"),   # update existing
            (2, None, "delete"),    # tombstone existing
            (3, 50.0, "upsert"),    # insert new key
        ],
        "ref_id long, value double, _op string",
    )
    merged = mvcc.merge(_versions(spark), changes)
    # all changes share ONE write point = max(30) + 1
    wps = {
        r.write_point
        for r in merged.filter(F.col("write_point") > 30).collect()
    }
    assert wps == {31}
    post = {
        r.ref_id: r.value
        for r in mvcc.latest(merged).filter(~F.col("_deleted")).collect()
    }
    assert post == {1: 999.0, 3: 50.0}, "2 deleted, 1 updated, 3 inserted"
    pre = {
        r.ref_id: r.value
        for r in mvcc.latest(
            merged.filter(F.col("write_point") <= 30)
        ).collect()
    }
    assert pre == {1: 300.0, 2: 150.0}, "old snapshot unaffected by merge"


def test_snapshot_stale_distinguishes_gc_from_absent(spark):
    """Too-old read point (stm.clj:172-174): the reference returns nil
    both for a GC'd history and a never-created ref; the lake engine
    names the difference. Pins, against an independently computed read
    point over the raw events table:
      - phantom refs (never existed) are 'absent'
      - every ref whose retain(16) history reaches the read point is
        'visible' (find-version hit, stm.clj:55-65)
      - every 'stale' ref DID have a version <= rp in the full history
        (so the reference's nil is a truncation artifact, not absence)
      - all three classes occur."""
    from opusdb_spark.queries.versioned import mvcc_snapshot_stale
    from tests.conftest import SF_SMALL

    got = {r.ref_id: r for r in mvcc_snapshot_stale(spark, SF_SMALL).collect()}
    ev = (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .select(
            F.col("user_id").alias("ref_id"),
            F.col("event_id").alias("write_point"),
        )
    )
    rp = ev.agg(F.expr("max(write_point) * 3 div 4")).first()[0]
    first_wp = {
        r.ref_id: r.fw
        for r in ev.groupBy("ref_id").agg(F.min("write_point").alias("fw")).collect()
    }
    oldest_kept = {
        r.ref_id: r.ok
        for r in mvcc.retain(ev, 16)
        .groupBy("ref_id")
        .agg(F.min("write_point").alias("ok"))
        .collect()
    }
    statuses = set()
    for ref_id, row in got.items():
        statuses.add(row.read_status)
        if ref_id >= 1000000:
            assert row.read_status == "absent", ref_id
            continue
        if oldest_kept[ref_id] <= rp:
            assert row.read_status == "visible", ref_id
        elif first_wp[ref_id] <= rp:
            # reference: nil -> retry; engine: provably GC'd
            assert row.read_status == "stale", ref_id
        else:
            assert row.read_status == "absent", ref_id
    assert statuses == {"visible", "stale", "absent"}


def test_conflict_detect_flags_only_intervening_writes(spark):
    """ensure-read-consistency (stm.clj:37-40): a ref written between
    the read point and the commit point fails validation (retry); a ref
    whose last write predates the read point — or lands after the
    commit point, i.e. by a LATER transaction — passes (commit)."""
    from opusdb_spark.queries.versioned import mvcc_conflict_detect
    from tests.conftest import SF_SMALL

    got = {r.ref_id: r for r in mvcc_conflict_detect(spark, SF_SMALL).collect()}
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet").select(
        F.col("user_id").alias("ref_id"), F.col("event_id").alias("wp")
    )
    hi = ev.agg(F.max("wp")).first()[0]
    rp, cp = hi // 2, hi // 2 + hi // 64
    windowed = {
        r.ref_id: (r.n, r.first)
        for r in ev.filter((F.col("wp") > rp) & (F.col("wp") <= cp))
        .groupBy("ref_id")
        .agg(F.count("wp").alias("n"), F.min("wp").alias("first"))
        .collect()
    }
    assert got  # read-set non-empty
    for ref_id, row in got.items():
        assert ref_id % 3 == 0
        n, first = windowed.get(ref_id, (0, None))
        assert row.n_intervening == n
        assert row.first_intervening_wp == first
        assert row.verdict == ("retry" if n else "commit")
    verdicts = {r.verdict for r in got.values()}
    assert verdicts == {"commit", "retry"}


def test_snapshot_diff_classifies_insert_update_unchanged(spark):
    # history: ref 1 updated between rp 15→30, ref 2 born after 15 (insert),
    # ref 3 unchanged across the span (dropped from the diff)
    v = spark.createDataFrame(
        [
            (1, 10, 100.0), (1, 25, 250.0),  # update
            (2, 20, 150.0),                   # insert (born at wp 20 > 15)
            (3, 5, 50.0),                     # unchanged
            (4, 40, 999.0),                   # after new_point: invisible
        ],
        "ref_id long, write_point long, value double",
    )
    got = {
        r.ref_id: (r.op, r.old_wp, r.new_wp, r.old_value, r.new_value)
        for r in mvcc.snapshot_diff(v, 15, 30).collect()
    }
    assert got == {
        1: ("update", 10, 25, 100.0, 250.0),
        2: ("insert", None, 20, None, 150.0),
    }, "unchanged ref 3 dropped; ref 4 (born after new_point) invisible"


def test_snapshot_diff_matches_two_snapshot_join(spark):
    # the one-scan groupBy formulation must equal the naive
    # snapshot(old) ⟗ snapshot(new) construction on a random-ish history
    import random

    rng = random.Random(7)
    rows = [
        (rng.randrange(20), wp, float(rng.randrange(1000)))
        for wp in range(1, 200)
    ]
    v = spark.createDataFrame(
        rows, "ref_id long, write_point long, value double"
    )
    old_p, new_p = 60, 150
    a = mvcc.snapshot(v, old_p).withColumnRenamed("write_point", "old_wp")
    b = mvcc.snapshot(v, new_p).withColumnRenamed("write_point", "new_wp")
    naive = (
        b.join(
            a.select("ref_id", "old_wp", F.col("value").alias("old_value")),
            "ref_id",
            "left",
        )
        .filter(F.col("old_wp").isNull() | (F.col("old_wp") != F.col("new_wp")))
        .select("ref_id", "old_wp", "new_wp", "old_value",
                F.col("value").alias("new_value"))
    )
    fast = mvcc.snapshot_diff(v, old_p, new_p).drop("op")
    assert sorted(map(tuple, fast.collect())) == sorted(
        map(tuple, naive.select(*fast.columns).collect())
    )


def test_nested_changesets_flatten_to_single_commit(spark):
    """Nested dosync flattens into the outer transaction
    (stm.clj:145-148 — `sync` runs the inner body in the CURRENT
    transaction when one exists; pinned at stm_test.clj:74-81): the
    inner change-set joins the outer write-set with later-write-per-key
    winning, in-transaction reads see the composed set, and the whole
    flattened set commits at ONE write point."""
    from pyspark.sql import Window

    versions = spark.createDataFrame(
        [(1, 1, 10.0), (2, 1, 20.0), (3, 1, 30.0)],
        "ref_id long, write_point long, value double",
    )
    # outer txn writes refs 1,2; the nested dosync then writes refs 2,3
    outer = spark.createDataFrame(
        [(1, 11.0, 0), (2, 12.0, 0)], "ref_id long, value double, _seq long"
    )
    inner = spark.createDataFrame(
        [(2, 99.0, 1), (3, 13.0, 1)], "ref_id long, value double, _seq long"
    )
    # flatten = the reference's write-set map collapse (stm.clj:180-191,
    # one buffered value per ref): union, highest _seq per key wins
    both = outer.unionByName(inner)
    w = Window.partitionBy("ref_id").orderBy(F.desc("_seq"))
    flattened = (
        both.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_seq")
    )
    # in-txn visibility: the outer deref after the inner dosync sees the
    # inner write (stm_test.clj:80 `(is (= 20 (stm/deref r)))`)
    own = {
        r.ref_id: r.value
        for r in mvcc.read_own_writes(versions, flattened).collect()
    }
    assert own == {1: 11.0, 2: 99.0, 3: 13.0}
    # commit: ONE write-point bump for the flattened set — never one per
    # nesting level
    committed = mvcc.append_versions(versions, flattened)
    new_wps = {
        r.write_point
        for r in committed.filter(F.col("write_point") > 1).collect()
    }
    assert new_wps == {2}, "nested commit must land at a single write point"
    # post-commit latest state == the in-txn read state: flattening
    # composed the change-sets without reordering or double-commit
    post = {r.ref_id: r.value for r in mvcc.latest(committed).collect()}
    assert post == own
