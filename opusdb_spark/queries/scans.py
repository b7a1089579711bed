"""Scans / sources / sinks (SURVEY §2B).

Anchors: the reference's full ordered log scan (log_mgr.clj:16-33 — a
scan of every block yielding records in ascending-LSN order) and block
reads (file_mgr.clj:58-70). Here scans are parquet columnar reads where
Catalyst pushes projections and predicates into the scan itself; the
ordered event scan reproduces the ascending-LSN recovery-scan semantics
with `event_id` as the LSN analog.

Scale: at 100 TB a full scan is bandwidth-bound — correctness of
pushdown/pruning (asserted in tests/test_plans.py) is the entire perf
story; no operator below introduces a shuffle except the ordered scan's
range-partitioned sort, which is exactly the semantics requested.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from opusdb_spark.sources.formats import (
    column_range,
    list_store_files,
    scratch_sink,
)
from opusdb_spark.registry import register
from opusdb_spark.tables import table


@register(
    "scan_full",
    oracle="SELECT * FROM lineitem",
    tags=("scan",),
)
def scan_full(spark, sf_dir):
    """Full scan of lineitem, all columns (log scan analog, log_mgr.clj:16-33)."""
    return table(spark, sf_dir, "lineitem")


@register(
    "scan_prune",
    oracle="SELECT l_orderkey, l_quantity, l_shipdate FROM lineitem",
    tags=("scan",),
)
def scan_prune(spark, sf_dir):
    """Column-pruned scan: ReadSchema must contain exactly these 3 columns."""
    return table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_shipdate"
    )


@register(
    "scan_filter_pushdown",
    oracle="""
        SELECT l_orderkey, l_partkey, l_shipdate, l_quantity
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1998-01-01'
    """,
    tags=("scan",),
)
def scan_filter_pushdown(spark, sf_dir):
    """Predicate reaches the parquet scan (PushedFilters: GreaterThanOrEqual)."""
    lt = table(spark, sf_dir, "lineitem")
    return lt.filter(
        F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp_ntz")
    ).select("l_orderkey", "l_partkey", "l_shipdate", "l_quantity")


@register(
    "scan_events_ordered",
    oracle="SELECT event_id, ts, user_id, event_type, value FROM events ORDER BY event_id",
    tags=("scan", "log"),
)
def scan_events_ordered(spark, sf_dir):
    """Ascending-LSN recovery scan (log_mgr.clj:16-33; order pinned by
    log_mgr_test.clj:86-93): event_id is the LSN analog. Range-partitioned
    global sort — the one shuffle this family needs."""
    return (
        table(spark, sf_dir, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
        .orderBy("event_id")
    )


@register(
    "sink_append",
    # Hash-checked since r9: the first write re-initializes the log
    # (overwrite), the second exercises the append path — so the
    # read-back is exactly two copies of the batch on EVERY call
    # (idempotent), and the oracle replays it as 2×COUNT per type.
    oracle="""
        SELECT event_type, CAST(2 * COUNT(*) AS BIGINT) AS n_rows
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    tags=("sink", "log"),
)
def sink_append(spark, sf_dir):
    """Append-only sink + read-back (log append!, log_mgr.clj:46-66;
    persistence across instances pinned by log_mgr_test.clj:153-163).

    Re-initializes the sink with the batch, appends the batch again,
    reads it back, and returns per-event_type counts — each write is
    job-atomic (the Spark commit protocol replaces the reference's
    WAL-before-data ordering, buffer.clj:52-53), and the
    overwrite-then-append shape makes the query idempotent: repeated
    runs converge on the same log contents instead of growing it.
    """
    out = scratch_sink(f"sink_append_{os.path.basename(os.path.normpath(sf_dir))}")
    batch = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    batch.write.mode("overwrite").parquet(out)
    batch.write.mode("append").parquet(out)
    return (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy("event_type")
    )


@register(
    "sink_partitioned",
    # upgraded from rows-only in r9: the write is clear-on-entry
    # deterministic, so the pruned read-back must aggregate to exactly
    # what the source table says — the hash match proves the
    # partitioned layout round-trips content faithfully
    oracle="""
        SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
               MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
        FROM orders WHERE o_orderstatus = 'F' GROUP BY 1
    """,
    tags=("sink",),
)
def sink_partitioned(spark, sf_dir):
    """Hive-partitioned sink + partition-pruned read-back.

    Writes orders partitioned by o_orderstatus, then reads back ONE
    status — a directory-pruned scan that never lists the other
    partitions. The layout every 100 TB fact table uses (partition by
    date/status, low cardinality) so per-slice queries touch one
    directory, not the table. Hash-oracled since r9: the read-back
    aggregate must equal the same aggregate over the source table.
    """
    from opusdb_spark.sources import write_partitioned

    out = scratch_sink(f"sink_part_{os.path.basename(os.path.normpath(sf_dir))}")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    write_partitioned(orders, out, ["o_orderstatus"])
    back = spark.read.parquet(out).filter(F.col("o_orderstatus") == "F")
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


@register(
    "source_csv_roundtrip",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
    tags=("source",),
)
def source_csv_roundtrip(spark, sf_dir):
    """CSV sink + schema-enforced CSV source (no inference pass) —
    values survive the round trip exactly, checked against the parquet
    oracle."""
    from opusdb_spark.sources import read_csv

    out = scratch_sink(f"src_csv_{os.path.basename(os.path.normpath(sf_dir))}")
    nation = table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    nation.write.mode("overwrite").option("header", "true").csv(out)
    return read_csv(
        spark, out, "n_nationkey int, n_name string, n_regionkey int"
    )


@register(
    "source_json_roundtrip",
    oracle="SELECT r_regionkey, r_name FROM region",
    tags=("source",),
)
def source_json_roundtrip(spark, sf_dir):
    """JSON-lines sink + schema-enforced JSON source round trip."""
    from opusdb_spark.sources import read_json

    out = scratch_sink(f"src_json_{os.path.basename(os.path.normpath(sf_dir))}")
    region = table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    region.write.mode("overwrite").json(out)
    return read_json(spark, out, "r_regionkey int, r_name string")


@register(
    "scan_schema_evolution",
    oracle="""
        SELECT o_orderkey, o_custkey, o_totalprice,
               CAST(NULL AS VARCHAR) AS o_orderstatus
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderkey % 2 = 1
    """,
    tags=("scan", "schema-evolution"),
)
def scan_schema_evolution(spark, sf_dir):
    """Schema evolution across parquet file generations: generation 1
    lacks a column that generation 2 added; a mergeSchema read
    reconciles both into one table with NULLs where the old files have
    no column — the additive-evolution contract every long-lived
    lakehouse table relies on (the reference sidesteps this by being
    schemaless — typed columns make it this engine's concern). The
    merged footer union happens at planning; data files are read
    exactly once."""
    out = scratch_sink(f"evo_{os.path.basename(os.path.normpath(sf_dir))}")
    orders = table(spark, sf_dir, "orders")
    gen1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    gen2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    gen1.write.mode("append").parquet(out)
    gen2.write.mode("append").parquet(out)
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(out)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    )


@register(
    "sink_compact_small_files",
    oracle=None,  # rows-only: filesystem side-effect + file accounting
    tags=("sink", "maintenance"),
)
def sink_compact_small_files(spark, sf_dir):
    """Small-file compaction — the table-maintenance pass every
    streaming/append sink needs: a fragmented write (64 tiny files)
    is rewritten into size-targeted files and the row count proven
    conserved. The rewrite sizes itself from the fragmented layout's
    own on-disk bytes (driver-side listing — metadata, not a job):
    ceil(bytes / 32MB target) output files via coalesce (no shuffle;
    compaction is a read-and-rewrite, never a repartition). At 100 TB
    this is the job that keeps scan task counts O(data/128MB) instead
    of O(append count) and footers out of the driver's way."""
    base = os.path.basename(os.path.normpath(sf_dir))
    frag = scratch_sink(f"compact_in_{base}")
    compacted = scratch_sink(f"compact_out_{base}")
    events = table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    events.repartition(64).write.mode("overwrite").parquet(frag)

    def _layout(path):
        files = list_store_files(path, recursive=False)
        return len(files), sum(sz for _, sz in files)

    n_in, bytes_in = _layout(frag)
    target = 32 * 1024 * 1024
    n_out_target = max(1, -(-bytes_in // target))
    spark.read.parquet(frag).coalesce(n_out_target).write.mode(
        "overwrite"
    ).parquet(compacted)
    n_out, bytes_out = _layout(compacted)
    rows_in = spark.read.parquet(frag).count()
    rows_out = spark.read.parquet(compacted).count()
    return spark.createDataFrame(
        [
            (
                int(n_in),
                int(n_out),
                int(rows_in),
                int(rows_out),
                bool(rows_in == rows_out and n_out < n_in),
            )
        ],
        "n_files_before int, n_files_after int, rows_before long, "
        "rows_after long, compacted boolean",
    )


@register(
    "sink_clustered_write",
    oracle=None,  # rows-only: filesystem side-effect + stats accounting
    tags=("sink", "clustering"),
)
def sink_clustered_write(spark, sf_dir):
    """Range-clustered write + min/max-stat pruning proof. lineitem is
    written repartitionByRange(8, l_shipdate) + sortWithinPartitions —
    the sort-based clustering (a 1-D z-order) that gives every parquet
    file a tight, disjoint l_shipdate min/max band. The result reports,
    from FOOTER stats alone (driver metadata read, no job), how many
    files a one-month predicate may touch vs the unclustered layout
    where every file spans the full date range: files_skipped is the
    fraction of the table a clustered scan never opens. At 100 TB this
    ordering decides whether a date-bounded query reads 1/84th of the
    files or all of them."""
    base = os.path.basename(os.path.normpath(sf_dir))
    out = scratch_sink(f"clustered_{base}")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_quantity", "l_extendedprice"
    )
    li.repartitionByRange(8, "l_shipdate").sortWithinPartitions(
        "l_shipdate"
    ).write.mode("overwrite").parquet(out)

    from datetime import datetime

    lo, hi = datetime(1996, 6, 1), datetime(1996, 6, 30, 23, 59, 59)
    n_files, n_overlap = 0, 0
    for fpath, _ in list_store_files(out, recursive=False):
        n_files += 1
        f_lo, f_hi = column_range([fpath], "l_shipdate")
        if f_lo <= hi and f_hi >= lo:
            n_overlap += 1
    rows_back = (
        spark.read.parquet(out)
        .filter(F.col("l_shipdate").between(F.lit(lo), F.lit(hi)))
        .count()
    )
    return spark.createDataFrame(
        [
            (
                int(n_files),
                int(n_overlap),
                int(n_files - n_overlap),
                int(rows_back),
            )
        ],
        "n_files int, n_files_overlapping int, n_files_skipped int, "
        "rows_in_month long",
    )


@register(
    "source_text_roundtrip",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(COUNT(DISTINCT text) AS BIGINT) AS n_distinct,
               CAST(SUM(len(text)) AS BIGINT) AS total_chars
        FROM documents
    """,
    tags=("source",),
)
def source_text_roundtrip(spark, sf_dir):
    """Plain-text sink + line source: the corpus written one document
    per line and read back with spark.read.text — the rawest ingestion
    format a web-scale text pipeline starts from (documents carry no
    newlines, so line == document). Verified content-exactly: the
    read-back multiset must reproduce the parquet corpus's line count,
    distinct count, and total characters."""
    out = scratch_sink(f"src_text_{os.path.basename(os.path.normpath(sf_dir))}")
    docs = table(spark, sf_dir, "documents").select("text")
    docs.write.mode("overwrite").text(out)
    back = spark.read.text(out).withColumnRenamed("value", "text")
    return back.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.countDistinct("text").alias("n_distinct"),
        F.sum(F.length("text")).alias("total_chars"),
    )


@register(
    "source_binaryfile_ingest",
    oracle=None,  # rows-only: filesystem side-effect + binary ingestion
    tags=("source", "multimodal"),
)
def source_binaryfile_ingest(spark, sf_dir):
    """Raw-file multimodal ingestion: media blobs land as individual
    files (how image/audio corpora actually arrive), are ingested with
    the binaryFile source (path, modificationTime, length, content) and
    verified byte-exactly against the originals by content hash. At
    100 TB this is the bridge from an object-store dump of media files
    into parquet binary columns; pathGlobFilter prunes non-media files
    at listing time, before any bytes are read."""
    from opusdb_spark.operators import multimodal

    base = os.path.basename(os.path.normpath(sf_dir))
    blob_dir = scratch_sink(f"binfiles_{base}")
    media = multimodal.synthesize_media(spark, n=64).select(
        "media_id", "kind", F.col("content").alias("blob")
    )
    rows = media.collect()  # 64 small blobs — fixture materialization
    os.makedirs(blob_dir, exist_ok=True)
    for r in rows:
        with open(os.path.join(blob_dir, f"media_{r.media_id:04d}.bin"), "wb") as f:
            f.write(bytes(r.blob))
    with open(os.path.join(blob_dir, "README.txt"), "w") as f:
        f.write("not media; must be pruned by pathGlobFilter\n")
    ingested = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(blob_dir)
        .select(
            F.regexp_extract(F.col("path"), r"media_(\d+)\.bin", 1)
            .cast("long")
            .alias("media_id"),
            F.length("content").alias("n_bytes"),
            F.sha2("content", 256).alias("sha"),
        )
    )
    orig = media.select(
        "media_id",
        F.length("blob").alias("o_bytes"),
        F.sha2("blob", 256).alias("o_sha"),
    )
    # FULL OUTER join, not inner: an inner join would silently drop an
    # unexpectedly-ingested file (NULL media_id — e.g. the README.txt
    # canary if pathGlobFilter stopped pruning) or a missing blob, and
    # the counts would look clean. n_ingested/n_matched make both
    # failure modes visible.
    return ingested.join(orig, "media_id", "full_outer").agg(
        F.sum(F.when(F.col("sha").isNotNull(), 1).otherwise(0)).alias(
            "n_ingested"
        ),
        F.sum(
            F.when(F.col("sha").isNotNull() & F.col("o_sha").isNotNull(), 1)
            .otherwise(0)
        ).alias("n_matched"),
        F.sum(
            F.when(
                (F.col("sha") == F.col("o_sha"))
                & (F.col("n_bytes") == F.col("o_bytes")),
                1,
            ).otherwise(0)
        ).alias("n_byte_exact"),
    )


@register(
    "scan_cached_reuse",
    oracle="""
        SELECT 'returnflag' AS dim, l_returnflag AS key,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem GROUP BY 2
        UNION ALL
        SELECT 'linestatus' AS dim, l_linestatus AS key,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem GROUP BY 2
    """,
    tags=("scan", "cache"),
)
def scan_cached_reuse(spark, sf_dir):
    """Buffer-pool semantics as a query: one cached projection serves
    TWO readers (per-returnflag and per-linestatus counts) — the
    pin-once/read-many contract of the reference's buffer manager
    (buffer_mgr.clj pin/unpin; buffer.clj:12-15) mapped onto Spark's
    block-manager cache, where eviction is LRU exactly like the
    reference's LRU cache (lru.clj:5-17). The plan test pins
    InMemoryTableScan under BOTH aggregates: the parquet scan runs
    once, not twice. Cache entries key on the logical plan, so repeated
    calls reuse one entry per sf_dir (bounded: a 2-column projection)."""
    li = (
        table(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_linestatus")
        .cache()
    )
    a = li.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("returnflag").alias("dim"),
        F.col("l_returnflag").alias("key"),
        "n",
    )
    b = li.groupBy("l_linestatus").agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("linestatus").alias("dim"),
        F.col("l_linestatus").alias("key"),
        "n",
    )
    return a.unionByName(b)


@register(
    "source_csv_quoted",
    oracle="""
        SELECT n_nationkey,
               n_name || ', "' || n_name || '"
line2' AS tricky
        FROM nation
    """,
    tags=("source", "csv"),
)
def source_csv_quoted(spark, sf_dir):
    """CSV quoting/escaping conformance: values containing commas,
    embedded double quotes, AND newlines must survive the sink→source
    round trip byte-exactly (RFC-4180 quoting with doubled quotes,
    multiLine read). The oracle computes the same tricky strings
    directly from the parquet table, so any quoting defect — the
    classic silent corrupter of text corpora delivered as CSV — breaks
    the value hash."""
    out = scratch_sink(f"src_csvq_{os.path.basename(os.path.normpath(sf_dir))}")
    nation = table(spark, sf_dir, "nation").select(
        "n_nationkey",
        F.concat(
            F.col("n_name"),
            F.lit(', "'),
            F.col("n_name"),
            F.lit('"\nline2'),
        ).alias("tricky"),
    )
    (
        nation.write.mode("overwrite")
        .option("header", "true")
        .option("quoteAll", "true")
        .csv(out)
    )
    return (
        spark.read.schema("n_nationkey int, tricky string")
        .option("header", "true")
        .option("multiLine", "true")
        .csv(out)
    )


@register(
    "source_opusdb_log",
    oracle="""
        SELECT CAST(i + 1 AS BIGINT) AS seq,
               'txn-' || CAST(i AS VARCHAR) AS txn_id,
               CAST((i * 7) % 100 AS BIGINT) AS amount
        FROM range(300) t(i)
    """,
    tags=("source", "log", "format"),
)
def source_opusdb_log(spark, sf_dir):
    """Read the REFERENCE'S OWN on-disk log format as a DataFrame — a
    pyspark custom Python DataSource with one InputPartition per block
    (the backward-fill layout makes every block self-delimiting, so a
    recovery scan parallelizes block-wise; log_mgr.clj:15-66,
    page.clj:16-28). The fixture writes 300 deterministic records
    through a byte-exact replica of append!/flush! (spills across ~20
    blocks at the reference's 400-byte test block size), reads them
    back through the registered `opusdb_log` format, reconstructs
    append order from (block_index ASC, offset DESC), and parses the
    payloads. The oracle re-generates the same records from
    `range(300)` — value-hash parity proves the byte format round-trips
    exactly. The seq window runs over the fixture (300 rows,
    model-sized); at scale consumers keep (block_index, offset) as the
    order key instead of materializing a global row number."""
    from pyspark.sql import Window

    from opusdb_spark.sources import opusdb_log as olog

    base = os.path.basename(os.path.normpath(sf_dir))
    out = scratch_sink(f"opusdb_log_{base}")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, "txns.log")
    olog.write_log(
        path,
        [f"txn-{i}:{(i * 7) % 100}".encode() for i in range(300)],
        block_size=400,
    )
    olog.register(spark)
    df = (
        spark.read.format("opusdb_log")
        .option("path", path)
        .option("block_size", "400")
        .load()
    )
    w = Window.orderBy(
        F.asc("file"), F.asc("block_index"), F.desc("offset")
    )
    txt = F.decode("record", "UTF-8")
    return df.select(
        F.row_number().over(w).cast("bigint").alias("seq"),
        F.split(txt, ":")[0].alias("txn_id"),
        F.split(txt, ":")[1].cast("bigint").alias("amount"),
    )


@register(
    "sink_opusdb_log",
    oracle="""
        SELECT 'o-' || CAST(o_orderkey AS VARCHAR) AS rec
        FROM (SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 200)
    """,
    tags=("sink", "log", "format"),
)
def sink_opusdb_log(spark, sf_dir):
    """WRITE the reference's log format from Spark: 200 deterministic
    records fan out over 4 partitions, each partition appending its own
    log file through the byte-exact writer (one boundary int per file —
    the single-writer rule the reference enforces with a lock,
    log_mgr.clj:47, becomes file-per-partition parallelism), then the
    directory is read back through the same DataSource and every
    record must survive the round trip (hash parity vs the orders
    table the records came from)."""
    from opusdb_spark.sources import opusdb_log as olog

    base = os.path.basename(os.path.normpath(sf_dir))
    out = scratch_sink(f"opusdb_log_sink_{base}")
    recs = (
        table(spark, sf_dir, "orders")
        .orderBy("o_orderkey")
        .limit(200)
        .select(
            F.concat(F.lit("o-"), F.col("o_orderkey").cast("string"))
            .cast("binary")
            .alias("record")
        )
        .repartition(4)
    )
    olog.register(spark)
    recs.write.format("opusdb_log").option("path", out).option(
        "block_size", "400"
    ).mode("append").save()
    back = (
        spark.read.format("opusdb_log")
        .option("path", out)
        .option("block_size", "400")
        .load()
    )
    return back.select(F.decode("record", "UTF-8").alias("rec"))


@register(
    "stream_opusdb_log_tail",
    oracle=None,  # rows-only: streaming side-effects + read-back
    tags=("streaming", "log", "format"),
)
def stream_opusdb_log_tail(spark, sf_dir):
    """TAIL the reference's log as a Structured Streaming source: batch
    one consumes the initial 80 records; 40 more are appended through
    the reopen-and-continue path (make-log-mgr, log_mgr.clj:69-86);
    batch two — same checkpoint — picks up ONLY the 40 new ones. The
    stream offset is (n_blocks, boundary) per file: the backward-fill
    layout localizes 'what's new' to one int comparison per block,
    which is the incremental recovery/replication scan the reference's
    format enables. Returns per-batch record counts from the parquet
    sink (rows-only: side-effecting)."""
    from opusdb_spark.sources import opusdb_log as olog
    from opusdb_spark.sources.formats import scratch_sink as _sink
    from opusdb_spark.streaming.jobs import drain

    base = os.path.basename(os.path.normpath(sf_dir))
    src = _sink(f"opusdb_log_tail_src_{base}")
    out = _sink(f"opusdb_log_tail_out_{base}")
    ckpt = _sink(f"opusdb_log_tail_ckpt_{base}")
    os.makedirs(src, exist_ok=True)
    path = os.path.join(src, "tail.log")
    olog.write_log(
        path, [f"rec-{i}".encode() for i in range(80)], block_size=400
    )
    olog.register(spark)

    def run_batch():
        drain(
            spark.readStream.format("opusdb_log")
            .option("path", src)
            .option("block_size", "400")
            .load()
            .selectExpr("*", "current_timestamp() as _ignored")
            .drop("_ignored")
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append"),
            ckpt,
        )

    run_batch()
    olog.append_log(
        path, [f"rec-{i}".encode() for i in range(80, 120)], block_size=400
    )
    run_batch()
    back = spark.read.schema(
        "file string, block_index int, offset int, record binary"
    ).parquet(out)
    seq = F.regexp_extract(F.decode("record", "UTF-8"), r"rec-(\d+)", 1).cast(
        "int"
    )
    return back.select(seq.alias("i")).agg(
        F.count(F.lit(1)).alias("n_records"),
        F.count_distinct("i").alias("n_distinct"),
        F.min("i").alias("min_i"),
        F.max("i").alias("max_i"),
    )


@register(
    "scan_manifest_prune",
    oracle="""
        SELECT l_orderkey, l_shipdate, l_quantity
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-06-01'
          AND l_shipdate < TIMESTAMP '1996-07-01'
    """,
    tags=("scan", "pruning"),
)
def scan_manifest_prune(spark, sf_dir):
    """Manifest-based data skipping, END TO END: the clustered layout
    is materialized once at ingest (ensure_written — a 100 TB table is
    organized once, never inside a query) together with a per-file
    min/max MANIFEST harvested from the parquet footers; at query time
    the date predicate prunes the manifest (a metadata read, no Spark
    job), only the surviving files are scanned, and the residual
    filter still applies — so the result provably equals the plain
    filter over the raw table (the SQL oracle). This is the
    Iceberg/Delta data-skipping contract rebuilt from parts:
    sink_clustered_write proves the file-count accounting, this query
    proves the pruned scan returns the right ROWS. The manifest lives
    as an underscore-prefixed sidecar (readers ignore it, like
    _SUCCESS). tests/test_plans.py pins that the scan opens strictly
    fewer files than the layout holds."""
    import json
    from datetime import datetime

    from opusdb_spark.sources.formats import corpus_store

    def _write(path):
        li = table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_shipdate", "l_quantity"
        )
        li.repartitionByRange(8, "l_shipdate").sortWithinPartitions(
            "l_shipdate"
        ).write.mode("overwrite").parquet(path)
        entries = []
        for fpath, _ in list_store_files(path, recursive=False):
            f_lo, f_hi = column_range([fpath], "l_shipdate")
            entries.append(
                {
                    "file": os.path.basename(fpath),
                    "min": f_lo.isoformat(),
                    "max": f_hi.isoformat(),
                }
            )
        with open(os.path.join(path, "_manifest.json"), "w") as fh:
            json.dump(entries, fh)

    layout = corpus_store(
        "manifest_clustered", sf_dir, ("lineitem",), _write, v=1
    )

    lo, hi = datetime(1996, 6, 1), datetime(1996, 7, 1)
    with open(os.path.join(layout, "_manifest.json")) as fh:
        manifest = json.load(fh)
    keep = [
        os.path.join(layout, e["file"])
        for e in manifest
        if datetime.fromisoformat(e["min"]) < hi
        and datetime.fromisoformat(e["max"]) >= lo
    ]
    # an empty survivor set degrades to the full layout (residual
    # filter keeps the answer correct either way)
    reader = spark.read.parquet(*keep) if keep else spark.read.parquet(layout)
    return reader.filter(
        (F.col("l_shipdate") >= F.lit(lo)) & (F.col("l_shipdate") < F.lit(hi))
    ).select("l_orderkey", "l_shipdate", "l_quantity")


@register(
    "source_corrupt_records",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(CASE WHEN o_orderkey % 97 <> 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
               CAST(SUM(CASE WHEN o_orderkey % 97 = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
               CAST(SUM(CASE WHEN o_orderkey % 97 <> 0
                             THEN CAST(o_totalprice AS DECIMAL(27,6))
                             ELSE CAST(0 AS DECIMAL(27,6)) END) AS DOUBLE)
                   AS good_total,
               CAST(SUM(CASE WHEN o_orderkey % 97 <> 0
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS dropmalformed_rows
        FROM orders
    """,
    tags=("source", "robustness"),
)
def source_corrupt_records(spark, sf_dir):
    """Malformed-input robustness: a JSONL feed where every 97th
    record is truncated mid-object (the deterministic stand-in for
    upstream corruption) is read under PERMISSIVE mode — bad lines
    land in the _corrupt column instead of poisoning the stage — and
    again under DROPMALFORMED; the report proves good rows survive
    byte-exactly (decimal total) and corrupt counts match the plant
    rule. At 100 TB this is the difference between quarantining a few
    bad records and failing a 6-hour ingest; the ORACLE derives every
    number from the clean orders table, so the parse path itself is
    what's being verified."""
    from opusdb_spark.sources.formats import scratch_sink

    out = scratch_sink(
        f"corrupt_json_{os.path.basename(os.path.normpath(sf_dir))}"
    )
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    line = F.when(
        F.col("o_orderkey") % 97 == 0,
        F.concat(
            F.lit('{"o_orderkey":'),
            F.col("o_orderkey").cast("string"),
            F.lit(',"o_totalprice":'),  # truncated: no value, no brace
        ),
    ).otherwise(F.to_json(F.struct("o_orderkey", "o_totalprice")))
    o.select(line.alias("value")).write.mode("overwrite").text(out)

    schema = "o_orderkey long, o_totalprice double, _corrupt string"
    permissive = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(out)
    )
    report = permissive.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.count(F.when(F.col("_corrupt").isNull(), 1)).alias("n_good"),
        F.count(F.col("_corrupt")).alias("n_corrupt"),
        F.sum(
            F.coalesce(
                F.when(
                    F.col("_corrupt").isNull(), F.col("o_totalprice")
                ),
                F.lit(0.0),
            ).cast("decimal(27,6)")
        )
        .cast("double")
        .alias("good_total"),
    )
    dropped = (
        spark.read.schema("o_orderkey long, o_totalprice double")
        .option("mode", "DROPMALFORMED")
        .json(out)
        .agg(F.count(F.lit(1)).alias("dropmalformed_rows"))
    )
    return report.crossJoin(dropped)


@register(
    "sink_zorder_write",
    oracle=None,  # rows-only: filesystem side-effect + stats accounting
    tags=("sink", "clustering"),
)
def sink_zorder_write(spark, sf_dir):
    """TWO-dimensional z-order clustered write + dual pruning proof.
    sink_clustered_write shows 1-D range clustering (perfect skipping
    on the sort key, none on anything else); this interleaves the bits
    of 8-bit rank buckets of l_shipdate AND l_suppkey into a z-value,
    range-partitions + sorts on it, and reports — from footer stats
    alone — how many of the 16 files a narrow predicate on EACH
    dimension may touch. The z-curve's locality means BOTH dimensions
    skip a large fraction (a 1-D layout skips on one and reads all 16
    on the other), which is what makes multi-predicate scans at 100 TB
    viable without duplicate layouts. Bucket bounds come from one
    min/max aggregate (broadcast); rows are proven conserved."""
    from datetime import datetime

    base = os.path.basename(os.path.normpath(sf_dir))
    out = scratch_sink(f"zorder_{base}")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_suppkey", "l_quantity"
    )
    # one bounds+count pass, collected as a single model-sized row so
    # the z-expression embeds LITERAL bounds (no second stats scan,
    # no per-row bounds join) and rows_in needs no extra count scan
    b = li.agg(
        F.min("l_shipdate").alias("d_lo"),
        F.max("l_shipdate").alias("d_hi"),
        F.min("l_suppkey").alias("s_lo"),
        F.max("l_suppkey").alias("s_hi"),
        F.count(F.lit(1)).alias("n_rows"),
    ).collect()[0]
    d_span = max((b.d_hi - b.d_lo).days + 1, 1)
    s_span = max(int(b.s_hi - b.s_lo + 1), 1)
    day = F.datediff(F.col("l_shipdate"), F.lit(b.d_lo))
    db = F.least((day * 256 / F.lit(d_span)).cast("int"), F.lit(255))
    sb = F.least(
        ((F.col("l_suppkey") - F.lit(int(b.s_lo))) * 256 / F.lit(s_span))
        .cast("int"),
        F.lit(255),
    )
    z = F.lit(0)
    for i in range(8):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(db, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(sb, i).bitwiseAND(F.lit(1)), 2 * i)
        )
    li.select(
        "l_orderkey", "l_shipdate", "l_suppkey", "l_quantity",
        z.alias("_z"),
    ).repartitionByRange(16, "_z").sortWithinPartitions(
        "_z"
    ).drop("_z").write.mode("overwrite").parquet(out)

    def _overlap(col, lo, hi):
        n_files, n_hit = 0, 0
        for fpath, _ in list_store_files(out, recursive=False):
            n_files += 1
            f_lo, f_hi = column_range([fpath], col)
            if f_lo <= hi and f_hi >= lo:
                n_hit += 1
        return n_files, n_hit

    n_files, d_hit = _overlap(
        "l_shipdate", datetime(1996, 6, 1), datetime(1996, 6, 30)
    )
    _, s_hit = _overlap(
        "l_suppkey", int(b.s_lo), int(b.s_lo + max(s_span // 16, 1) - 1)
    )
    rows_in = int(b.n_rows)
    rows_out = spark.read.parquet(out).count()
    return spark.createDataFrame(
        [
            (
                int(n_files),
                int(d_hit),
                int(s_hit),
                int(rows_in),
                int(rows_out),
                bool(rows_in == rows_out and d_hit < n_files and s_hit < n_files),
            )
        ],
        "n_files int, files_hit_shipdate int, files_hit_suppkey int, "
        "rows_in long, rows_out long, both_dims_skip boolean",
    )


# ------------------------------------------------ table checksum
# Cross-engine anti-entropy: ONE order-independent checksum per table
# that any engine can recompute to verify a replica/migration without
# moving rows (the 100 TB answer to "are these two copies equal?" is
# one aggregation per side, not a diff). Order-independence comes from
# summing per-row hashes (mod 2^61 via two lanes) — commutative, so
# partitioning/file order can't change it; the row hash is the
# portable md5-bit construction, so DuckDB replays it bit-for-bit.
def _row_hash_sql() -> str:
    from opusdb_spark.operators.text import word_hash48_sql

    key = (
        "concat(CAST(o_orderkey AS STRING), '|', "
        "CAST(o_custkey AS STRING), '|', o_orderstatus, '|', "
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS STRING))"
    )
    return word_hash48_sql(key, salt="ck:")


_CHECKSUM_ORACLE = f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM({_row_hash_sql()} % 1000000007) % 2305843009213693951
               AS BIGINT) AS checksum_a,
           CAST(SUM({_row_hash_sql()} % 998244353) % 2305843009213693951
               AS BIGINT) AS checksum_b
    FROM orders
"""


@register(
    "scan_table_checksum",
    oracle=_CHECKSUM_ORACLE,
    tags=("scan", "integrity"),
)
def scan_table_checksum(spark, sf_dir):
    """Order-independent, engine-portable table checksum over orders:
    row count + two independent hash-sum lanes (different prime mods,
    so a collision must fool both). Map-side commutative sums — one
    aggregation, no shuffle beyond the single-row combine; two engines
    disagree on a replica iff the checksums differ. The decimal cast
    on o_totalprice pins the string form both engines hash."""
    h = F.expr(_row_hash_sql())
    m61 = F.lit((1 << 61) - 1).cast("long")
    return table(spark, sf_dir, "orders").agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.sum(F.pmod(h, F.lit(1000000007))) % m61)
        .cast("long")
        .alias("checksum_a"),
        (F.sum(F.pmod(h, F.lit(998244353))) % m61)
        .cast("long")
        .alias("checksum_b"),
    )


# ------------------------------------------------ deletion vectors
# Lakehouse merge-on-read DELETEs (the Delta/Iceberg deletion-vector
# mechanism): instead of rewriting data files to delete rows
# (copy-on-write — rewrites a whole file to drop one row), a tiny
# positional sidecar lists (file, row_index) pairs to suppress, and
# every read anti-joins it. At 100 TB a 0.1% delete costs a KB-scale
# sidecar write instead of a TB-scale rewrite; the read-path tax is a
# broadcast anti-join that AQE keeps off the shuffle path.
def _dv_delete_cond() -> str:
    from opusdb_spark.operators.text import word_hash48_sql

    return (
        word_hash48_sql("CAST(o_orderkey AS STRING)", salt="dv:")
        + " % 97 = 0"
    )


_DV_ORACLE = f"""
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_live,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
               AS total_price
    FROM orders WHERE NOT ({_dv_delete_cond()})
    GROUP BY 1 ORDER BY 1
"""


@register(
    "scan_delete_vectors",
    oracle=_DV_ORACLE,
    tags=("scan", "lakehouse", "write-path"),
)
def scan_delete_vectors(spark, sf_dir):
    """Merge-on-read positional deletes: an ingest-once orders store
    plus a (file_path, row_index) deletion-vector sidecar marking ~1%
    of rows (selected by the portable hash, so the oracle can name the
    SAME logical rows without knowing the physical layout); the read
    path scans the store with its `_metadata` position columns and
    drops deleted positions with a broadcast ANTI join before
    aggregating. The hash match proves the POSITIONAL delete path
    suppresses exactly the intended LOGICAL rows — the correctness
    contract deletion vectors must keep.

    Scale shape: the delete writes a sidecar proportional to deleted
    rows (never rewrites data files); every read pays one broadcast
    anti-join (plan-pinned) — the standard merge-on-read trade. The
    sidecar build happens once at ingest (fingerprint-guarded)."""
    from opusdb_spark.sources.formats import (
        corpus_store,
        read_store,
        store_layout_fingerprint,
    )

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    store = corpus_store(
        "dv_orders", sf_dir, ("orders",),
        lambda p: orders.write.parquet(p),
        layout="dv_store",
    )

    def build_sidecar(p):
        (
            read_store(spark, store)
            .select(
                F.col("_metadata.file_path").alias("file_path"),
                F.col("_metadata.row_index").alias("row_index"),
                "o_orderkey",
            )
            .filter(F.expr(_dv_delete_cond()))
            .select("file_path", "row_index")
            .write.parquet(p)
        )

    sidecar = corpus_store(
        "dv_sidecar", sf_dir, ("orders",), build_sidecar,
        layout="dv_sidecar",
        # the sidecar's (file_path, row_index) positions are only
        # meaningful against ONE physical layout of the store — fold
        # the store's data-file listing into the fingerprint so ANY
        # store rebuild (even with unchanged sources: lost marker,
        # scratch cleanup, split-changing session conf) invalidates
        # the sidecar instead of suppressing the wrong rows
        store_layout=store_layout_fingerprint(store),
    )
    dv = read_store(spark, sidecar)
    live = (
        read_store(spark, store)
        .select(
            F.col("_metadata.file_path").alias("file_path"),
            F.col("_metadata.row_index").alias("row_index"),
            "o_orderstatus",
            "o_totalprice",
        )
        .join(F.broadcast(dv), ["file_path", "row_index"], "left_anti")
    )
    return (
        live.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_live"),
            F.sum(F.col("o_totalprice").cast("decimal(27,6)"))
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )
