"""Versioned-table (MVCC) analytics API.

The reference's data model is a set of versioned cells: a ref holds a
history vector of `{:value :write-point}` entries, newest last, capped
at 16 (reference stm.clj:153-158, stm.clj:10). Its read rules are the
behaviors this module re-expresses over an immutable DataFrame of
versions `(ref_id, write_point, value...)`:

- `latest`    = deref outside a transaction — newest committed version
                (stm.clj:161-162)
- `snapshot`  = deref at a read-point — newest version with
                write_point ≤ read_point, the binary-searched
                `find-version` rule (stm.clj:55-65, 172)
- `retain`    = MAX_HISTORY truncation — keep the newest n versions
                per key (stm.clj:42-53)
- `append_versions` = ref-set/alter + commit: all updates in one batch
                share ONE new write point, mirroring the single
                WRITE_POINT bump per committing transaction
                (stm.clj:42-43); job atomicity gives all-or-nothing
                (stm.clj:103-106)
- `conservation` = the bank-transfer invariant: a value total per
                snapshot, constant across write points when updates
                only move value between keys (benchmark/bank.clj:41-44)

Scale notes: every operation is a window over `partitionBy(key)` — one
hash shuffle on the key, no driver state. At 100 TB the versions table
is written partitioned/bucketed by key so these windows are
shuffle-free local sorts.

The write-point clock is the reference's AtomicLong WRITE_POINT
(stm.clj:12): when `versions` is a bare parquet scan its high-water
mark is already in the files' row-group statistics, so a commit reads
it from the footers on the driver and stamps the new point as a
literal. Any other plan (a projection, a filter, an in-memory frame),
a non-local file or a row group without min/max takes a one-row
`max` aggregate instead.
"""

from __future__ import annotations

from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

from opusdb_spark.sources import formats

MAX_HISTORY = 16  # reference stm.clj:10
# the versions table's columns: (ref_id, write_point, value...)
KEY, VERSION, VALUE = "ref_id", "write_point", "value"

# conservation(): clock spans at or under this run the running sum as a
# plain single-partition window (one task sorting ≤4M narrow rows —
# ~64MB, a normal shuffle-partition's worth of work); above it the
# two-level range decomposition engages. The bound is on the CLOCK SPAN
# (hi-lo+1 ≥ distinct write points), known from metadata, so the choice
# is deterministic and costs no action.
_SINGLE_SORT_MAX_VERSIONS = 1 << 22


def latest(versions: DataFrame) -> DataFrame:
    """Newest version per key (deref outside a txn, stm.clj:161-162)."""
    w = Window.partitionBy(KEY).orderBy(F.col(VERSION).desc())
    return (
        versions.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def snapshot(versions: DataFrame, read_point) -> DataFrame:
    """State as of `read_point`: newest version with version ≤ read_point
    per key (find-version, stm.clj:55-65). Keys born after the
    read-point are absent — exactly the nil/GC'd case (stm.clj:172-174).
    """
    return latest(versions.filter(F.col(VERSION) <= read_point))


def snapshot_diff(versions: DataFrame, old_point, new_point) -> DataFrame:
    """Time-travel diff: what changed between the snapshots at
    `old_point` and `new_point` (old < new). Each key visible at
    `new_point` is classified 'insert' (born after `old_point`) or
    'update' (newer version superseded the old snapshot's); unchanged
    keys are dropped. The reference answers this by dereffing the same
    ref at two read points against the shared history vector
    (find-version, stm.clj:55-65); here BOTH snapshots come out of ONE
    scan + ONE shuffle — a single groupBy computes max(version ≤ old)
    and max(version ≤ new) per key via ordered-struct max, instead of
    two window passes + a join. At 100 TB that halves the shuffle and
    avoids materializing either snapshot.
    """
    wp_v = F.struct(F.col(VERSION).alias("wp"), F.col(VALUE).alias("v"))
    both = versions.filter(F.col(VERSION) <= new_point).groupBy(KEY).agg(
        F.max(F.when(F.col(VERSION) <= old_point, wp_v)).alias("_old"),
        F.max(wp_v).alias("_new"),
    )
    return (
        both.filter(
            F.col("_old").isNull()
            | (F.col("_old.wp") != F.col("_new.wp"))
        )
        .select(
            KEY,
            F.when(F.col("_old").isNull(), F.lit("insert"))
            .otherwise(F.lit("update"))
            .alias("op"),
            F.col("_old.wp").alias("old_wp"),
            F.col("_new.wp").alias("new_wp"),
            F.col("_old.v").alias("old_value"),
            F.col("_new.v").alias("new_value"),
        )
    )


def retain(versions: DataFrame, n: int = MAX_HISTORY) -> DataFrame:
    """Bounded history: newest n versions per key (stm.clj:42-53).
    Run as the retention pass when compacting a versions table."""
    w = Window.partitionBy(KEY).orderBy(F.col(VERSION).desc())
    return (
        versions.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .drop("_rn")
    )


def _footer_write_point(versions: DataFrame) -> int | None:
    """max(write_point) + 1 from the row-group statistics of the files a
    bare parquet scan reads, or None when the plan is anything else, a
    file is not local, or the footers cannot answer (see
    formats.column_range)."""
    plan = versions._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "LogicalRelation":
        return None
    if not isinstance(versions.schema[VERSION].dataType, IntegralType):
        return None
    files = []
    for uri in versions.inputFiles():
        u = urlparse(uri)
        if u.scheme != "file":
            return None
        files.append(unquote(u.path))
    rng = formats.column_range(files, VERSION)
    return None if rng is None else rng[1] + 1


def _at_next_write_point(versions: DataFrame, rows: DataFrame) -> DataFrame:
    """`versions` plus `rows` stamped with ONE new write point,
    max(existing) + 1 (1 on an empty history) — the single WRITE_POINT
    bump per committing transaction (stm.clj:42-43).

    The reference reads that clock from an AtomicLong (stm.clj:12). The
    analogue here is the parquet footer: on a bare scan the next point
    comes from row-group `max` statistics and is stamped as a literal
    of the version column's type, so the commit runs no clock job. Any
    other input (a derived plan, a non-local file, a row group without
    min/max, an empty history) stamps a one-row aggregate,
    broadcast-crossjoined onto `rows`."""
    nxt = _footer_write_point(versions)
    if nxt is not None:
        dtype = versions.schema[VERSION].dataType
        stamped = rows.withColumn(VERSION, F.lit(nxt).cast(dtype))
    else:
        agg = versions.agg(
            (F.coalesce(F.max(VERSION), F.lit(0)) + 1).alias("_wp")
        )
        stamped = rows.crossJoin(F.broadcast(agg)).withColumnRenamed(
            "_wp", VERSION
        )
    return versions.unionByName(stamped.select(*versions.columns))


def append_versions(versions: DataFrame, updates: DataFrame) -> DataFrame:
    """Commit a batch of updates as ONE new write point.

    `updates` carries (key, value...) without a version column; every
    update row gets write_point = max(existing) + 1 — the analog of the
    single WRITE_POINT bump per committing transaction (stm.clj:42-43).
    No key column is named: the stamp does not look at keys, and
    readers such as `latest` partition by `ref_id`.
    Returns the new versions DataFrame; writing it (or just the new
    rows, mode="append") is the commit, atomic per Spark job.
    """
    return _at_next_write_point(versions, updates)


def read_own_writes(versions: DataFrame, pending: DataFrame) -> DataFrame:
    """The in-transaction deref order: write-set first, then committed
    history (reference stm.clj:169-171; pinned behavior
    stm_test.clj:196-202).

    `pending` carries this transaction's uncommitted (key, value...)
    rows. The effective read state is latest-per-key where a pending
    row SHADOWS every committed version of its key — other readers
    (anyone holding only `versions`) still see the committed state,
    because nothing here mutates or publishes.
    """
    return latest(_at_next_write_point(versions, pending))


def merge(versions: DataFrame, changes: DataFrame) -> DataFrame:
    """MERGE a change-set as ONE committed write point (upsert+delete).

    `changes` carries (key, value..., _op) with _op in ('upsert',
    'delete') and MUST supply every non-key column of `versions`
    (deletes pass NULLs for them — merge stamps `_deleted`, it does not
    null the payload itself; a changes frame missing a versions column
    makes the final select raise). `changes` must also carry AT MOST
    ONE row per key: the whole batch shares one write point (the single
    WRITE_POINT bump per committing transaction, stm.clj:42-43), so two
    changes for one key would create tied versions and `latest()` would
    pick between them nondeterministically — exactly the in-txn
    last-write-wins collapse the reference performs in its write-set
    map (stm.clj:180-191, one buffered value per ref) that callers must
    apply BEFORE merging. Mirrors ref-set/alter/ensure committed under
    one bump (stm.clj:42-43, 103-122): the change-set lands atomically
    (single Spark job commit).

    Returns the new versions DataFrame with a `_deleted` flag column.
    No key column is named here, as in append_versions: the one-row-
    per-key rule above is the caller's, and the key matters only to
    readers. Read the post-merge state with
    `latest(...).filter(~_deleted)`; older snapshots still see the
    pre-merge values — deletes are versions, not in-place erasure,
    exactly like the history vector.
    """
    if "_deleted" not in versions.columns:
        versions = versions.withColumn("_deleted", F.lit(False))
    rows = changes.withColumn("_deleted", F.col("_op") == "delete").drop("_op")
    return _at_next_write_point(versions, rows)


def conservation(
    versions: DataFrame,
    decimal: bool = False,
    n_ranges: int = 64,
    bounds: tuple[int, int] | None = None,
) -> DataFrame:
    """Total `value` as of every write point — (write_point, total).

    For transfer-shaped histories the total is constant: the
    reference's bank invariant (benchmark/bank.clj:41-44,
    throughput.clj:137-147) as a single analytics query. Implemented
    without a per-snapshot rescan: each key contributes its value delta
    at each of its write points; a running sum over write points yields
    every snapshot's total in one pass.

    `decimal=True` runs the delta sums in decimal(27,6) so running
    totals are exact and hash-match a SQL oracle (decimal addition is
    associative, so the two-level decomposition below is bit-identical
    to a sequential running sum).

    The physical shape ADAPTS on the clock span (hi-lo+1, an upper
    bound on distinct write points), exactly like AQE coalescing a
    small aggregate: spans ≤ _SINGLE_SORT_MAX_VERSIONS run the running
    sum as one ordinary window sort in a single task; larger spans use
    a TWO-LEVEL prefix sum so billions of write points never serialize
    through one task:

      1. write points are split into `n_ranges` contiguous ranges by
         value (deterministic integer arithmetic — no sampling);
      2. each range computes its local prefix sums in parallel
         (window partitioned by range id);
      3. the per-range totals — `n_ranges` rows, MODEL-SIZED — get an
         exact exclusive prefix sum in a single-partition window (64
         rows through one task is the same model-sized exception the
         IVF centroids use) and broadcast-join back as range offsets.

    With `bounds` supplied the whole computation is ONE lazy DataFrame
    on either path: zero internal actions, zero driver round trips —
    the caller's own action is the only cluster barrier. On the
    two-level path the offsets branch re-derives the per-range totals
    through the same declarative pipeline (Spark has no cross-branch
    CSE without a materialization barrier); at cluster scale persist
    `per_wp` to trade storage for that second pass — kept
    recompute-based here so the plan stays barrier-free.

    `bounds=(lo, hi)` is the version-clock range and comes from
    METADATA, not a data pass: the reference keeps WRITE_POINT as an
    AtomicLong (stm.clj:12) — the clock's high-water mark is known at
    commit time — and columnar storage keeps min/max per file footer /
    manifest. Bucketing needs only ROUGH bounds — `floor((v-lo)/width)`
    is monotone and contiguous in v for any lo and width>0, so loose
    bounds cost nothing but a few empty ranges. Without bounds a
    min/max pre-pass runs (one extra action).
    """
    w_key = Window.partitionBy(KEY).orderBy(VERSION)
    delta = F.col(VALUE) - F.coalesce(F.lag(VALUE).over(w_key), F.lit(0))
    if decimal:
        delta = delta.cast("decimal(27,6)")
    deltas = versions.withColumn("_delta", delta)
    per_wp = deltas.groupBy(VERSION).agg(F.sum("_delta").alias("_wp_delta"))
    if bounds is not None:
        lo, hi = bounds
    else:
        # Fallback bounds pass. Contiguous ranges from pure integer
        # arithmetic on the version value: deterministic under any
        # partitioning, retry-safe (unlike spark_partition_id after a
        # sampled repartitionByRange).
        lo, hi = per_wp.agg(F.min(VERSION), F.max(VERSION)).first()
        if lo is None:
            return per_wp.select(
                VERSION, F.lit(None).cast("double").alias("total")
            )
    span = hi - lo + 1
    if span <= _SINGLE_SORT_MAX_VERSIONS or n_ranges <= 1:
        # The clock span fits ONE task's sort (distinct write points
        # ≤ span), so the running sum is a plain single-partition
        # window — the same call AQE makes when it coalesces a tiny
        # aggregate to one partition. The decomposition below only
        # pays off past this threshold; under it, it's three extra
        # exchanges for nothing.
        w_all = (
            Window.orderBy(VERSION)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        total = F.sum("_wp_delta").over(w_all)
        if decimal:
            total = total.cast("double")
        return per_wp.select(VERSION, total.alias("total"))
    width = max(1, -(-span // n_ranges))
    grp = ((F.col(VERSION) - F.lit(lo)) / F.lit(width)).cast("long")
    grouped = per_wp.withColumn("_grp", grp)
    # Exclusive prefix sum over the ≤ n_ranges per-range totals. The
    # partition-less window is deliberate and safe: its input is the
    # RANGE AGGREGATE (model-sized by construction), never the version
    # data — the r1 scale-killer was this window over ALL write points.
    # Offsets stay in the engine (no driver collect, no literal-decimal
    # headroom trap: the window's sum type is decimal(37,6), 31
    # integral digits, same headroom class as the value column).
    w_off = Window.orderBy("_grp").rowsBetween(
        Window.unboundedPreceding, -1
    )
    zero = (
        F.lit("0").cast("decimal(37,6)") if decimal else F.lit(0.0)
    )
    offsets = (
        grouped.groupBy("_grp")
        .agg(F.sum("_wp_delta").alias("_rtot"))
        .select(
            "_grp",
            F.coalesce(F.sum("_rtot").over(w_off), zero).alias("_off"),
        )
    )
    w_local = (
        Window.partitionBy("_grp")
        .orderBy(VERSION)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    total = F.col("_off") + F.sum("_wp_delta").over(w_local)
    if decimal:
        total = total.cast("double")
    return grouped.join(F.broadcast(offsets), "_grp").select(
        VERSION, total.alias("total")
    )
