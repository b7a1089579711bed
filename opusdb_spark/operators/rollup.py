"""Continuous-aggregate rollup store with incremental refresh.

The hypertable/continuous-aggregate pattern (TimescaleDB continuous
aggregates, Druid rollup segments, the classic materialized-view
maintenance literature): raw events are aggregated ONCE into a
grain-partitioned store of MERGEABLE partial aggregates, and an
appended batch refreshes ONLY the partitions it touches — the
unaffected 99.9% of a year-long 100 TB event store is never re-read.
The reference's append-only event log (log_mgr.clj:16-33) is the
ingest side of exactly this shape; this operator is the read-side
materialization Spark users would maintain over it.

Mergeability is the whole design:

- COUNT and the DECIMAL(27,6) value sum are associative, so
  `merged = old + delta-partial` equals a full recompute bit-for-bit
  (the exactness.py contract extends to the merge: decimal addition
  reorders freely, double addition does not — which is why the STORE
  keeps the decimal, and only query output casts to double). The sum
  is cast back to DECIMAL(27,6) at EVERY write site: Spark widens
  SUM(decimal(27,6)) to decimal(37,6), and a store whose build and
  refresh wrote different precisions would have heterogeneous parquet
  schemas across partitions — reads fail once a narrower file becomes
  the schema-inference sample.
- MIN/MAX merge via least/greatest.
- COUNT DISTINCT is not mergeable from counts, so the store carries a
  SKETCH-typed partial instead: a DataSketches HLL of user_id
  (`hll_sketch_agg`), merged on refresh with `hll_union` and
  finalized with `hll_sketch_estimate` at query time. Below the
  sketch's coupon threshold (~hundreds of distinct items per cell)
  the estimate is exact; above it, within ~2% — the standard rollup
  trade for an O(1)-size mergeable distinct.
- Exact medians/percentiles are not mergeable either, so the store
  carries a DDSketch quantile column: a `map<bucket, count>` of
  log-bucket counts (operators/sketch.py dd_* — the same bucket
  algebra as agg_ddsketch_quantiles). Maps union-sum on merge
  (map_zip_with), which is EXACT — unlike the HLL, the quantile
  sketch's merge loses nothing, only its readout carries the ~1%
  relative-error quantization. Stored as a plain map (not opaque
  binary) so the DuckDB oracle can replay the algebra from raw rows.

Refresh is partition-surgical: the delta's distinct buckets are a
model-sized collect (a batch touches hours-to-days, not years), the
old store is read ONLY for those buckets (partition pruning on the
bucket directory), and the merged result overwrites ONLY those
directories via dynamic partition overwrite. The merged frame is
rollup-granularity (buckets x event types — model-sized by
construction), so the eager localCheckpoint that breaks the
read-path lineage before the self-overwrite is cheap.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opusdb_spark.exactness import DEC
from opusdb_spark.session import scoped_confs

# Mergeable partial-aggregate columns of the store (the grain bucket
# column — `day` at day grain, `bucket_ts` otherwise — partitions the
# directory layout).
_PARTIALS = [
    ("n_events", "bigint"),
    ("sum_value_dec", DEC),
    ("min_value", "double"),
    ("max_value", "double"),
    ("users_hll", "binary"),
    ("value_ddsketch", "map<bigint,bigint>"),
]

_EMPTY_DD = "map<bigint,bigint>"  # type of the sketch column


def _dd_merge2(a, b):
    """Union-sum two DDSketch bucket maps (either may be NULL — a cell
    present on one side only). Normalized to sorted-key form: raw
    map_zip_with emits keys in left-then-right encounter order, which
    would persist differently-ordered maps from incremental refreshes
    vs full builds (map_from_entries(sort_array)) — all current readers
    explode or sort, but a future value-hash gate over the raw map
    column must see ONE canonical byte form from either path."""
    empty = F.create_map().cast(_EMPTY_DD)
    merged = F.map_zip_with(
        F.coalesce(a, empty),
        F.coalesce(b, empty),
        lambda _k, x, y: F.coalesce(x, F.lit(0)) + F.coalesce(y, F.lit(0)),
    )
    return F.map_from_entries(F.sort_array(F.map_entries(merged)))


def _dd_merge_agg(col_name: str):
    """Aggregate expression folding a GROUP's sketch maps into one —
    collect_list is bounded by the partials-per-group fan-in (hours per
    day, days per month: model-sized by construction of the cascade)."""
    empty = F.create_map().cast(_EMPTY_DD)
    return F.aggregate(
        F.collect_list(col_name), empty, lambda acc, m: _dd_merge2(acc, m)
    )


def _bucket_col(grain: str) -> str:
    return "day" if grain == "day" else "bucket_ts"


def _partial_agg(events: DataFrame, grain: str = "day") -> DataFrame:
    """Grain x event_type partial aggregates of a raw-event frame
    (schema contract: ts, event_type, value, user_id). `grain` is any
    date_trunc unit; the bucket column keeps the partition-friendly
    name `day` at day grain, `bucket_ts` otherwise.

    TWO aggregations joined at rollup granularity, not one two-level
    pass: the DDSketch map needs a (grain, type, value-bucket) sub-key,
    but dragging the HLL through that finer key means one sketch
    buffer PER BUCKET (~550× more sketch state — measured 2.5× on the
    whole maintenance path at the 100× probe). So the heavy partials
    (count/decimal sum/min/max/HLL) aggregate once at (grain, type),
    the bucket COUNTS (cheap longs) aggregate separately, and the two
    model-sized results join on the rollup key (NULL-SAFE equality: a
    null day/type group — e.g. a delta row with NULL ts — must keep
    its partials, not vanish through a non-null-safe inner join). The
    delta is scanned twice, so callers must pass DETERMINISTIC frames
    (file-backed or persisted — the repo-wide convention; a rand()- or
    sample()-derived delta could disagree with itself between the two
    scans). Refresh deltas are batch-sized and the full build is
    ingest-once, so the second scan is cheap."""
    from opusdb_spark.operators.sketch import dd_bucket_total

    if grain == "day":
        key = F.to_date("ts").alias("day")
        bcol = "day"
    else:
        key = F.date_trunc(grain, "ts").alias("bucket_ts")
        bcol = "bucket_ts"
    base = events.groupBy(key, "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        # cast back: SUM(decimal(27,6)) widens to (37,6); see module
        # docstring — every write site must emit the SAME store type
        F.sum(F.col("value").cast(DEC)).cast(DEC).alias("sum_value_dec"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.hll_sketch_agg("user_id").alias("users_hll"),
    )
    dd = (
        events.groupBy(
            key, "event_type", dd_bucket_total(F.col("value")).alias("vbkt")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy(bcol, "event_type")
        .agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("vbkt", "cnt")))
            ).alias("value_ddsketch")
        )
        .withColumnRenamed(bcol, "_dd_b")
        .withColumnRenamed("event_type", "_dd_t")
    )
    return base.join(
        dd,
        F.col(bcol).eqNullSafe(F.col("_dd_b"))
        & F.col("event_type").eqNullSafe(F.col("_dd_t")),
    ).drop("_dd_b", "_dd_t")


def merge_partials(partials: DataFrame, key_cols: list[str]) -> DataFrame:
    """Re-aggregate finer-grain partials to a coarser key — the
    cascade half of the rollup algebra (hourly store answers daily
    questions without touching raw events). Every column merges with
    its own monoid: counts and decimal sums add, min/min and max/max,
    HLL sketches union."""
    return partials.groupBy(*key_cols).agg(
        F.sum("n_events").alias("n_events"),
        F.sum("sum_value_dec").cast(DEC).alias("sum_value_dec"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
        F.hll_union_agg("users_hll").alias("users_hll"),
        _dd_merge_agg("value_ddsketch").alias("value_ddsketch"),
    )


def build_rollup(events: DataFrame, path: str, grain: str = "day") -> None:
    """Full (re)build: one pass over raw events, partitioned out by
    the grain bucket."""
    _partial_agg(events, grain).write.partitionBy(
        _bucket_col(grain)
    ).mode("overwrite").parquet(path)


def read_rollup(
    spark: SparkSession, path: str, grain: str = "day"
) -> DataFrame:
    """The rollup store through formats.read_store (memoized; an
    in-place partition refresh changes the stat tag), with the grain
    bucket column cast to its contract type."""
    from opusdb_spark.sources import formats

    roll = formats.read_store(spark, path)
    if grain == "day":
        # partition-value inference yields DateType for yyyy-MM-dd
        # dirs; cast defensively so the contract doesn't depend on
        # the inference conf
        return roll.withColumn("day", F.col("day").cast("date"))
    return roll.withColumn("bucket_ts", F.col("bucket_ts").cast("timestamp"))


def _store_exists(path: str) -> bool:
    """True when `path` holds rollup data (at least one parquet file).

    An EXPLICIT existence probe, not an except-around-read: a read
    that fails for any other reason (corrupt footer, schema clash,
    permissions) must surface, never be mistaken for 'first batch'
    and answered by overwriting the whole store. Local-FS via the
    list_store_files seam (sources/formats.py)."""
    from opusdb_spark.sources.formats import list_store_files

    return bool(list_store_files(path))


_BATCH_MARKER = "_last_batch.json"


def refresh_rollup(
    spark: SparkSession,
    path: str,
    delta: DataFrame,
    grain: str = "day",
    batch_id: int | None = None,
) -> list:
    """Incrementally fold an appended raw-event batch into the store.

    Returns the list of affected buckets (the only partitions
    rewritten; empty when the delta is empty or already applied).
    Correctness relies on each delta being applied EXACTLY ONCE:
    callers with retry semantics (foreachBatch is at-least-once on
    restart) pass `batch_id`, and a batch at or below the store's
    recorded high-water mark is skipped — the standard foreachBatch
    idempotence pattern. The marker is written AFTER the partition
    overwrite: a crash between the two replays the batch, and the
    per-batch refresh rewrites the same partitions from the same
    inputs only if the first write never committed its marker —
    callers that cannot tolerate the remaining torn window (crash
    exactly between data commit and marker write) should stage the
    batch through the opusdb_log sink's two-phase commit instead.
    """
    if batch_id is not None:
        marker = os.path.join(path, _BATCH_MARKER)
        try:
            with open(marker) as f:
                if json.load(f)["last_batch"] >= batch_id:
                    return []  # replayed batch: already folded in
        except (OSError, ValueError, KeyError):
            pass  # no marker yet -> first application

    bcol = _bucket_col(grain)
    # model-sized (buckets x types): checkpoint once, reuse for both
    # the bucket collect and the merge probe side (uncached, the full
    # delta aggregation would run twice)
    part = _partial_agg(delta, grain).localCheckpoint(eager=True)
    buckets = [r[bcol] for r in part.select(bcol).distinct().collect()]
    if not buckets:
        return []

    if not _store_exists(path):
        # bootstrap: first batch against an empty store — the delta's
        # partials ARE the store for its buckets
        part.write.partitionBy(bcol).mode("overwrite").parquet(path)
    else:
        old = read_rollup(spark, path, grain).filter(
            F.col(bcol).isin(buckets)
        )
        p = part.select(
            bcol,
            "event_type",
            *[F.col(c).alias(f"d_{c}") for c, _ in _PARTIALS],
        )
        merged = (
            old.join(p, [bcol, "event_type"], "full_outer")
            .select(
                bcol,
                "event_type",
                (
                    F.coalesce(F.col("n_events"), F.lit(0))
                    + F.coalesce(F.col("d_n_events"), F.lit(0))
                ).alias("n_events"),
                (
                    F.coalesce(F.col("sum_value_dec"), F.lit(0).cast(DEC))
                    + F.coalesce(
                        F.col("d_sum_value_dec"), F.lit(0).cast(DEC)
                    )
                ).cast(DEC).alias("sum_value_dec"),
                F.least(F.col("min_value"), F.col("d_min_value")).alias(
                    "min_value"
                ),
                F.greatest(
                    F.col("max_value"), F.col("d_max_value")
                ).alias("max_value"),
                # hll_union is not null-tolerant; a key present on
                # only one side keeps that side's sketch verbatim
                F.when(
                    F.col("users_hll").isNull(), F.col("d_users_hll")
                )
                .when(F.col("d_users_hll").isNull(), F.col("users_hll"))
                .otherwise(
                    F.hll_union(F.col("users_hll"), F.col("d_users_hll"))
                )
                .alias("users_hll"),
                _dd_merge2(
                    F.col("value_ddsketch"), F.col("d_value_ddsketch")
                ).alias("value_ddsketch"),
            )
            # model-sized: the eager checkpoint materializes the merge
            # BEFORE the write job, so the writer's plan no longer
            # reads the path it overwrites
            .localCheckpoint(eager=True)
        )
        with scoped_confs(
            spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}
        ):
            merged.write.partitionBy(bcol).mode("overwrite").parquet(path)

    if batch_id is not None:
        with open(os.path.join(path, _BATCH_MARKER), "w") as f:
            json.dump({"last_batch": batch_id}, f)
    return buckets


def ensured_store(spark: SparkSession, sf_dir: str, grain: str = "day") -> str:
    """The ingest-once rollup store for a corpus: built on first use,
    fingerprinted against the raw events table so a corpus swap
    rebuilds it. ONE definition of the (name, fingerprint) pair so
    the queries sharing a store cannot fork it by bumping one copy."""
    from opusdb_spark.sources.formats import corpus_store
    from opusdb_spark.tables import table

    tag = "daily" if grain == "day" else f"{grain}ly"
    return corpus_store(
        f"rollup_{tag}", sf_dir, ("events",),
        lambda p: build_rollup(table(spark, sf_dir, "events"), p, grain),
        v=5, grain=grain,
    )


def backfill_rollup(
    spark: SparkSession, path: str, corrected: DataFrame, days: list
) -> None:
    """REPLACE the given day partitions from corrected raw events
    (day-grain stores only).

    The third maintenance mode: refresh_rollup folds ADDITIVE deltas
    (new events), but a correction — a value restated, events voided,
    late data landing after its day was sealed — is not additive, so
    the affected days are recomputed from the corrected raw slice and
    their partitions dynamically overwritten. A listed day with NO
    surviving rows (fully voided) produces no partial row, which
    dynamic overwrite would silently leave stale — those partitions
    are deleted explicitly instead. Cost is O(corrected days' raw),
    never O(history): the raw read is predicate-pruned to `days` and
    untouched day directories are not rewritten.
    """
    if not days:
        return
    # per-day [00:00, +1d) ts ranges, OR'd: unlike to_date(ts) IN (...)
    # — a function of the column, opaque to parquet stats — plain
    # range predicates on ts push down to row-group min/max pruning,
    # so the raw re-read touches only the restated days' pages even on
    # an unpartitioned event file
    import datetime as _dt
    import shutil

    cond = None
    for d in days:
        lo = F.lit(_dt.datetime(d.year, d.month, d.day))
        hi = F.lit(
            _dt.datetime(d.year, d.month, d.day) + _dt.timedelta(days=1)
        )
        rng = (F.col("ts") >= lo) & (F.col("ts") < hi)
        cond = rng if cond is None else (cond | rng)
    part = _partial_agg(corrected.filter(cond)).localCheckpoint(
        eager=True
    )  # model-sized; breaks read lineage
    alive = {r.day for r in part.select("day").distinct().collect()}
    with scoped_confs(
        spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}
    ):
        part.write.partitionBy("day").mode("overwrite").parquet(path)
    for d in days:
        if d not in alive:  # fully-voided day: nothing written for it
            shutil.rmtree(
                os.path.join(path, f"day={d.isoformat()}"),
                ignore_errors=True,
            )
