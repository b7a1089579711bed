"""Training-data pipeline operators beyond dedup/similarity: PII
scrubbing, repetition filtering, deterministic train/val/test splits,
stratified domain mixing, composed quality filtering, sequence packing,
deterministic shuffle-into-shards, time-series gap fill, histograms,
and an ORC source roundtrip.

Cross-engine determinism notes:
- Pseudo-randomness is md5-bucket based (`_hash_bucket_sql`): both
  engines compute the identical 0..255 bucket from the same key+salt,
  so sampling/splits are reproducible anywhere (never rand()).
- Double sums go through exactness.dsum / sql_dsum; DuckDB integer
  SUMs are cast to BIGINT (HUGEINT otherwise).
- Regexes stay in the Java∩RE2 common dialect (no lookaround, no \\b).
"""

from __future__ import annotations

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from opusdb_spark.exactness import DEC, davg, dsum, sql_davg, sql_dsum
from opusdb_spark.operators import packing
from opusdb_spark.operators import text as T
from opusdb_spark.operators.ranking import with_global_ntiles
from opusdb_spark.registry import register
from opusdb_spark.sources.formats import scratch_sink
from opusdb_spark.tables import table


def _hash_bucket_sql(key_sql: str, salt: str) -> str:
    """0..255 bucket: the top 8 of the 48 md5 bits of
    T.word_hash48_sql(salt || key), which Spark and DuckDB evaluate
    identically — a deterministic uniform hash both engines reproduce
    bit-for-bit. The quotient by 2^40 is exact in double. Used for
    splits and sampling instead of rand()."""
    h = T.word_hash48_sql(f"CAST({key_sql} AS STRING)", salt)
    return f"CAST(floor(CAST({h} AS DOUBLE) / 1099511627776.0) AS INT)"


# --------------------------------------------------------------- PII
# Documents are synthetic and PII-free, so the query plants one email
# and one phone per doc deterministically, then scrubs them — the
# operator under test is the scrub, and the oracle checks counts and
# the sha256 of the scrubbed text per doc.
_PII_TEXT = (
    "concat(text, ' contact user', CAST(doc_id AS STRING), "
    "'@mail.example.com or call 555-', "
    "lpad(CAST(doc_id % 10000 AS STRING), 4, '0'))"
)
_EMAIL_RE = "[A-Za-z0-9._]+@[A-Za-z0-9.]+"
_PHONE_RE = "555-[0-9]{4}"


@register(
    "llm_pii_scrub",
    oracle=f"""
        WITH seeded AS (SELECT doc_id, {_PII_TEXT} AS t FROM documents)
        SELECT doc_id,
               CAST(len(regexp_extract_all(t, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(t, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
               sha256(regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                                     '{_PHONE_RE}', '<PHONE>', 'g')) AS clean_hash
        FROM seeded
    """,
    tags=("llm", "pipeline"),
)
def llm_pii_scrub(spark, sf_dir):
    """Regex PII redaction (emails, phone numbers) with per-doc match
    counts — pure Catalyst regexp_replace/extract_all, zero Python in
    the hot path. The scrubbed text is returned as its sha256 so the
    oracle value-checks full content compactly."""
    docs = table(spark, sf_dir, "documents")
    t = F.expr(_PII_TEXT)
    clean = F.regexp_replace(
        F.regexp_replace(t, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(t, F.lit(_EMAIL_RE), 0)).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(_PHONE_RE), 0)).cast("long").alias("n_phones"),
        F.sha2(clean, 256).alias("clean_hash"),
    )


# -------------------------------------------------------- repetition
_DISTINCT_RATIO = (
    "CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)"
    " / len(string_split(text, ' '))"
)


@register(
    "llm_repetition_filter",
    oracle=f"""
        WITH r AS (SELECT lang, {_DISTINCT_RATIO} AS ratio FROM documents)
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN ratio < 0.6 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_repetitive,
               {sql_dsum("ratio", "sum_ratio")}
        FROM r GROUP BY lang
    """,
    tags=("llm", "pipeline"),
)
def llm_repetition_filter(spark, sf_dir):
    """Within-doc repetition screen: distinct-word ratio per doc (the
    cheap proxy for boilerplate/spam — near-1 means varied text, low
    means repeated phrases), flagged below 0.6, aggregated per lang.
    Ratio arithmetic is identical IEEE division in both engines."""
    docs = table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    ratio = F.size(F.array_distinct(w)).cast("double") / F.size(w)
    return (
        docs.select("lang", ratio.alias("ratio"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("ratio") < 0.6, 1).otherwise(0))
            .cast("long")
            .alias("n_repetitive"),
            dsum("ratio", "sum_ratio"),
        )
    )


# ------------------------------------------------------------- split
_SPLIT_BUCKET = _hash_bucket_sql("doc_id", "split:")
_SPLIT_CASE = (
    f"CASE WHEN {_SPLIT_BUCKET} < 205 THEN 'train' "
    f"WHEN {_SPLIT_BUCKET} < 231 THEN 'val' ELSE 'test' END"
)


@register(
    "llm_train_val_split",
    oracle=f"""
        SELECT {_SPLIT_CASE} AS split, lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents GROUP BY 1, 2
    """,
    tags=("llm", "pipeline"),
)
def llm_train_val_split(spark, sf_dir):
    """Deterministic ~80/10/10 train/val/test split by hash bucket of
    doc_id (never rand(): assignment must be stable across runs,
    engines, and partitionings so a doc can never leak between splits).
    Returns the split × lang composition."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(F.expr(_SPLIT_CASE).alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


# -------------------------------------------------------- domain mix
_MIX_WEIGHTS = {"en": 128, "de": 204, "es": 64, "fr": 25, "zh": 256}  # /256
_MIX_BUCKET = _hash_bucket_sql("doc_id", "mix:")
_MIX_KEEP = (
    "CASE lang "
    + " ".join(f"WHEN '{k}' THEN {v}" for k, v in sorted(_MIX_WEIGHTS.items()))
    + f" ELSE 0 END > {_MIX_BUCKET}"
)


@register(
    "llm_domain_mix",
    oracle=f"""
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_source,
               CAST(SUM(CASE WHEN {_MIX_KEEP} THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_kept,
               CAST(SUM(CASE WHEN {_MIX_KEEP} THEN n_chars ELSE 0 END) AS BIGINT)
                   AS kept_chars
        FROM documents GROUP BY lang
    """,
    tags=("llm", "pipeline"),
)
def llm_domain_mix(spark, sf_dir):
    """Stratified down-sampling to target domain proportions (the
    data-mixing step of corpus prep): per-language keep rates applied
    via the deterministic hash bucket — reproducible sampling, no
    rand(), no shuffle beyond the final aggregation."""
    docs = table(spark, sf_dir, "documents")
    keep = F.expr(_MIX_KEEP)
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_source"),
            F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("n_kept"),
            F.sum(F.when(keep, F.col("n_chars")).otherwise(0))
            .cast("long")
            .alias("kept_chars"),
        )
    )


# ---------------------------------------------------- quality filter
_PUNCT_RATIO_SQL = (
    "CAST(len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)"
    " / greatest(len(text), 1)"
)


@register(
    "llm_quality_filter_pipeline",
    oracle=f"""
        WITH scored AS (
            SELECT lang, source, n_chars,
                   len(string_split(text, ' ')) AS n_words,
                   {_PUNCT_RATIO_SQL} AS punct_ratio,
                   {_DISTINCT_RATIO} AS distinct_ratio
            FROM documents
        )
        SELECT lang, source,
               CAST(COUNT(*) AS BIGINT) AS n_kept,
               CAST(SUM(n_words) AS BIGINT) AS total_words,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM scored
        WHERE n_words >= 20 AND punct_ratio < 0.05 AND distinct_ratio > 0.55
        GROUP BY lang, source
    """,
    tags=("llm", "pipeline"),
)
def llm_quality_filter_pipeline(spark, sf_dir):
    """Composed quality gate — min length AND low punctuation noise AND
    non-repetitive — then the kept-corpus composition by (lang, source).
    The standard multi-signal document filter, all Catalyst expressions
    (filters evaluate inside the scan stage; only the final group-by
    shuffles)."""
    docs = table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    n_words = F.size(w)
    punct = F.length(F.regexp_replace("text", r"[A-Za-z0-9\s]", "")).cast(
        "double"
    ) / F.greatest(F.length("text"), F.lit(1))
    distinct_ratio = F.size(F.array_distinct(w)).cast("double") / F.size(w)
    return (
        docs.select(
            "lang",
            "source",
            "n_chars",
            n_words.alias("n_words"),
            punct.alias("punct_ratio"),
            distinct_ratio.alias("distinct_ratio"),
        )
        .filter(
            (F.col("n_words") >= 20)
            & (F.col("punct_ratio") < 0.05)
            & (F.col("distinct_ratio") > 0.55)
        )
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_words").cast("long").alias("total_words"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


# ------------------------------------------------------ seq packing
PACK_CAPACITY = 256


# DuckDB oracle for llm_seq_pack (upgraded from rows-only in r9): the
# greedy packing state is PURE INTEGER recurrence per language —
# (cur_seq, cur_fill) advanced one doc at a time in doc_id order — so
# a recursive CTE replays it with zero float risk (the same recursion
# technique as the EWMA/Holt oracles, here over integers). The "not
# SQL-expressible" claim was about windows; SQL recursion expresses it
# exactly.
_SEQ_PACK_ORACLE = f"""
    WITH RECURSIVE docs0 AS (
        SELECT lang, doc_id,
               -- MUST match T.n_words (empty tokens filtered): a bare
               -- len(string_split(...)) over-counts on consecutive/
               -- leading spaces and counts empty text as 1
               CAST(len(list_filter(string_split(text, ' '),
                                    w -> len(w) > 0)) AS BIGINT)
                   AS n_tokens,
               ROW_NUMBER() OVER (
                   PARTITION BY lang ORDER BY doc_id
               ) AS rn
        FROM documents
    ),
    rec AS (
        SELECT lang, rn, n_tokens,
               CAST(0 AS BIGINT) AS seq_id, n_tokens AS fill
        FROM docs0 WHERE rn = 1
        UNION ALL
        SELECT d.lang, d.rn, d.n_tokens,
               CASE WHEN r.fill > 0
                         AND r.fill + d.n_tokens > {PACK_CAPACITY}
                    THEN r.seq_id + 1 ELSE r.seq_id END,
               CASE WHEN r.fill > 0
                         AND r.fill + d.n_tokens > {PACK_CAPACITY}
                    THEN d.n_tokens ELSE r.fill + d.n_tokens END
        FROM rec r JOIN docs0 d ON d.lang = r.lang AND d.rn = r.rn + 1
    )
    SELECT lang, seq_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(n_tokens) AS DOUBLE) / {PACK_CAPACITY} AS fill
    FROM rec GROUP BY 1, 2 ORDER BY 1, 2
"""


@register("llm_seq_pack", oracle=_SEQ_PACK_ORACLE, tags=("llm", "pipeline"))
def llm_seq_pack(spark, sf_dir):
    """Greedy sequence packing: docs (in doc_id order, whitespace token
    counts) packed per language into ≤256-token training sequences;
    the greedy scan is inherently sequential per shard and runs as one
    applyInPandas group (reference packing pinned in tests). Returns
    per-sequence (lang, seq_id, n_docs, n_tokens, fill fraction).
    Hash-oracled since r9: the packing state is pure integer
    recurrence, replayed exactly by a recursive CTE
    (_SEQ_PACK_ORACLE)."""
    docs = table(spark, sf_dir, "documents").select(
        "lang", "doc_id", T.n_words(F.col("text")).alias("n_tokens")
    )
    packed = packing.pack_sequences(docs, PACK_CAPACITY)
    return (
        packed.groupBy("lang", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .select(
            "lang",
            "seq_id",
            "n_docs",
            "n_tokens",
            (F.col("n_tokens").cast("double") / PACK_CAPACITY).alias("fill"),
        )
        .orderBy("lang", "seq_id")
    )


# -------------------------------------------------- shuffle + shard
N_SHARDS = 8
_SHUF_KEY = "md5(concat('shuffle:', CAST(doc_id AS STRING)))"
_SHUF_BUCKET = _hash_bucket_sql("doc_id", "shuffle:")


@register(
    "llm_shuffle_shard",
    oracle=f"""
        SELECT doc_id,
               CAST({_SHUF_BUCKET} % {N_SHARDS} AS INT) AS shard,
               CAST(ROW_NUMBER() OVER (
                    PARTITION BY {_SHUF_BUCKET} % {N_SHARDS}
                    ORDER BY {_SHUF_KEY}, doc_id) AS BIGINT) AS pos
        FROM documents
    """,
    tags=("llm", "pipeline"),
)
def llm_shuffle_shard(spark, sf_dir):
    """Deterministic global shuffle into N shards: shard by hash bucket,
    order within shard by an independent md5 sort key — the exact
    write-shuffled-shards step before training. Distributed windows
    only (partitionBy shard — never a global single-partition
    ROW_NUMBER, which would serialize the corpus through one task)."""
    docs = table(spark, sf_dir, "documents")
    shard = (F.expr(_SHUF_BUCKET) % N_SHARDS).cast("int")
    w = Window.partitionBy("shard").orderBy(F.expr(_SHUF_KEY), F.col("doc_id"))
    return docs.select("doc_id", shard.alias("shard")).withColumn(
        "pos", F.row_number().over(w).cast("long")
    )


# ---------------------------------------------------- time series
@register(
    "ts_gapfill",
    oracle=f"""
        WITH pm AS (
            SELECT date_trunc('minute', ts) AS minute,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   {sql_dsum("value", "sum_value")}
            FROM events WHERE event_type = 'click' GROUP BY 1
        ),
        bounds AS (
            SELECT date_trunc('minute', MIN(ts)) AS lo,
                   date_trunc('minute', MAX(ts)) AS hi
            FROM events WHERE event_type = 'click'
        ),
        spine AS (
            SELECT UNNEST(generate_series(lo, hi, INTERVAL 1 MINUTE)) AS minute
            FROM bounds
        )
        SELECT s.minute,
               COALESCE(pm.n_events, 0) AS n_events,
               COALESCE(pm.sum_value, CAST(0 AS DOUBLE)) AS sum_value
        FROM spine s LEFT JOIN pm ON s.minute = pm.minute
    """,
    tags=("timeseries",),
)
def ts_gapfill(spark, sf_dir):
    """Per-minute resample of click events with gap fill: a generated
    minute spine (sequence + explode over the observed bounds — tiny,
    one row per minute of span) left-joins the aggregated series and
    fills missing minutes with zero. The standard densify step before
    windowed/FFT-style analysis; the spine side is broadcast-sized at
    any corpus scale (minutes of span, not rows of data)."""
    ev = table(spark, sf_dir, "events").filter(F.col("event_type") == "click")
    per_min = ev.groupBy(F.date_trunc("minute", "ts").alias("minute")).agg(
        F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value")
    )
    spine = (
        ev.agg(
            F.date_trunc("minute", F.min("ts")).alias("lo"),
            F.date_trunc("minute", F.max("ts")).alias("hi"),
        )
        .select(
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 MINUTE"))
            ).alias("minute")
        )
    )
    return spine.join(per_min, "minute", "left").select(
        "minute",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
    )


# ------------------------------------------------------- histogram
@register(
    "hist_values",
    oracle=f"""
        SELECT CAST(FLOOR(value / CAST(50 AS DOUBLE)) AS BIGINT) AS bin,
               CAST(COUNT(*) AS BIGINT) AS n,
               {sql_dsum("value", "sum_value")}
        FROM events GROUP BY 1
    """,
    tags=("agg", "histogram"),
)
def hist_values(spark, sf_dir):
    """Fixed-width histogram of events.value (bin = floor(value/50)) —
    one map-side bin projection + one aggregation shuffle; the
    distribution profile every pipeline computes before outlier
    clipping."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.select(
            F.floor(F.col("value") / F.lit(50.0)).cast("long").alias("bin"),
            "value",
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "sum_value"))
    )


# ------------------------------------------------------- ORC source
@register(
    "source_orc_roundtrip",
    oracle="""
        SELECT n_regionkey,
               CAST(COUNT(*) AS BIGINT) AS n_nations,
               MIN(n_name) AS first_nation
        FROM nation GROUP BY n_regionkey
    """,
    tags=("source",),
)
def source_orc_roundtrip(spark, sf_dir):
    """ORC write + read-back (Spark-native columnar format besides
    parquet): nation → ORC → aggregate. Values must survive the format
    roundtrip exactly; the oracle reads the original table."""
    out = scratch_sink(
        f"orc_nation_{os.path.basename(os.path.normpath(sf_dir))}"
    )
    table(spark, sf_dir, "nation").write.mode("overwrite").orc(out)
    return (
        spark.read.orc(out)
        .groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.min("n_name").alias("first_nation"),
        )
    )


# ----------------------------------------------- decontamination
_DECON_DF_CAP = 20


@register(
    "llm_decontaminate",
    oracle=f"""
        WITH grams AS (
            SELECT DISTINCT doc_id, g FROM (
                SELECT doc_id,
                       string_split(text, ' ')[i] || ' ' ||
                       string_split(text, ' ')[i+1] || ' ' ||
                       string_split(text, ' ')[i+2] AS g
                FROM documents,
                     LATERAL (SELECT UNNEST(range(1, GREATEST(len(string_split(text,' ')) - 2, 0) + 1)) AS i)
            )
        ),
        rare AS (
            SELECT g FROM grams GROUP BY g
            HAVING COUNT(*) <= {_DECON_DF_CAP}
        ),
        kept AS (SELECT grams.doc_id, grams.g FROM grams JOIN rare USING (g)),
        bench AS (SELECT doc_id, g FROM kept WHERE doc_id % 97 = 0),
        train AS (SELECT doc_id, g FROM kept WHERE doc_id % 97 <> 0)
        SELECT t.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_shared_grams,
               CAST(COUNT(DISTINCT b.doc_id) AS BIGINT) AS n_bench_docs
        FROM train t JOIN bench b ON t.g = b.g
        GROUP BY t.doc_id
    """,
    tags=("llm", "pipeline", "decontamination"),
)
def llm_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag training docs sharing any word
    3-gram with the held-out benchmark slice (doc_id % 97 = 0 — the
    deterministic stand-in for an eval set).

    Candidates come ONLY from a shared-gram equi-join — never an
    all-pairs text comparison. Two properties make the join key safe at
    100 TB (VERDICT r6: the old plan shuffled full gram text and had a
    zipfian hot-key fan-out):

    - **Fixed-width key**: the gram is hashed to an xxhash64 BIGINT at
      explode time, so every downstream shuffle/join moves 8-byte keys,
      never gram text (the llm_substring_dedup pattern). Collisions
      merge two grams' doc sets — at 64 bits, immaterial.
    - **Document-frequency cap (stop-grams)**: grams appearing in more
      than {_DECON_DF_CAP} documents are excluded before the join — the
      ubiquitous "the of and"-class keys whose fan-out is quadratic in
      DF. FALSE-NEGATIVE POLICY: a gram that common carries no
      contamination signal (it flags a constant fraction of the corpus);
      real pipelines additionally raise the window to 8–13 words, which
      this synthetic corpus cannot express (8-grams shared across the
      split: zero — the pass would be vacuous), so the cap is the
      honest skew control here and the gram length stays 3 for signal.

    The DF count itself is skew-free: distinct (doc_id, gh) pairs
    partition by BOTH columns (hot grams spread across doc_ids), then
    the per-gram count is map-side combinable. After the cap, every
    join key matches ≤ {_DECON_DF_CAP} rows per side by construction —
    no AQE skew-split needed. The kept corpus is train MINUS these
    doc_ids (an anti-join the caller composes, as llm_dedup_pipeline
    does for dedup keep-lists).

    Join order (how real decontamination runs at 100 TB): the
    BENCHMARK gram vocabulary is eval-sized — hash it first (a 1/97
    scan here, pushed down to the doc_id filter; a fixed eval set in
    production) and BROADCAST it, so the corpus gram stream is
    filtered map-side at explode time and only occurrences of eval
    grams ever reach the distinct shuffle. That candidate set is
    checkpointed once and shared by the DF count, the cap join, and
    both split sides — the unrestricted shape re-derived the full
    corpus-sized distinct per consumer (alternating A/B at sf1:
    7.2 s → 4.2 s warm, identical output). The corpus-wide DF cap is
    preserved exactly: a gram outside the bench vocabulary can never
    produce a contamination row, and for grams inside it the candidate
    set still holds every document's occurrence.
    """
    from opusdb_spark.operators.skew import spread

    # gram hashing explodes each row ~100×: widen a single-split scan
    # first (no-op at cluster scale — see skew.spread)
    docs = spread(table(spark, sf_dir, "documents"))
    # r13 (guide §4.1 "prefer codegen"): the gram stream is built with
    # posexplode + element_at lookups instead of a transform() lambda —
    # higher-order functions are CodegenFallback (interpreted per
    # element), and the interpreted hash/concat per gram dominated the
    # pass (sf1 gram stream via noop sink: 2.1 → 0.9 s; output rows and
    # hash values byte-identical — same concat_ws input, checked by
    # count + hash-sum). Generate(posexplode) and the projection both
    # run inside WholeStageCodegen; the trailing 2 word positions are
    # filtered before hashing.
    w = F.split(F.col("text"), " ")
    pe = docs.select("doc_id", w.alias("_w")).select(
        "doc_id", "_w", F.posexplode("_w").alias("_pos", "_w1")
    )
    stream = pe.filter(F.col("_pos") <= F.size("_w") - 3).select(
        "doc_id",
        F.xxhash64(
            F.concat_ws(
                " ",
                F.col("_w1"),
                F.element_at("_w", F.col("_pos") + 2),
                F.element_at("_w", F.col("_pos") + 3),
            )
        ).alias("gh"),
    )
    bench_vocab = (
        stream.filter(F.col("doc_id") % 97 == 0).select("gh").distinct()
    )
    # loop_cache, not localCheckpoint: the candidate set is read by 4
    # consumers (DF count, cap join, both split sides) so it must
    # materialize once, but lazy-localCheckpoint blocks are freed only
    # by ContextCleaner after a driver GC — on a large-heap driver the
    # orphaned corpus-sized blocks of REPEATED invocations pile up in
    # the block manager and evict live execution memory (measured: the
    # scale probe's 10x run of this query degraded 4 s → ~20 s,
    # persistently, once the 100x warmup's checkpoint blocks were
    # resident). loop_cache keeps exactly ONE live copy per
    # (query, corpus) and frees it deterministically.
    from opusdb_spark.operators.cache import loop_cache

    # r13 (guide §2.4): the candidate set is built partitioned by gh
    # alone — HashPartitioning(gh) satisfies the distinct's (doc_id,
    # gh) clustering (subset rule), persist() preserves the
    # partitioning through the cache, and every downstream gh-keyed
    # consumer (the DF count, the train⋈bench contamination join)
    # reads the cached layout without re-exchanging.
    cand = loop_cache(
        f"llm_decontaminate:cand:{sf_dir}",
        stream.join(F.broadcast(bench_vocab), "gh")
        .repartition("gh")
        .dropDuplicates(["doc_id", "gh"]),
    )
    rare = (
        cand.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= _DECON_DF_CAP)
        .select("gh")
    )
    kept = cand.join(F.broadcast(rare), "gh")
    bench = kept.filter(F.col("doc_id") % 97 == 0).withColumnRenamed(
        "doc_id", "bench_doc"
    )
    train = kept.filter(F.col("doc_id") % 97 != 0)
    return (
        train.join(bench, "gh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shared_grams"),
            F.countDistinct("bench_doc").alias("n_bench_docs"),
        )
    )


# ------------------------------------------- vocab / sampling / outliers
@register(
    "llm_vocab_topk",
    oracle="""
        WITH toks AS (
            SELECT doc_id, w
            FROM documents, LATERAL (SELECT UNNEST(string_split(text, ' ')) AS w)
            WHERE w <> ''
        )
        SELECT w, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM toks GROUP BY w
        ORDER BY n_occurrences DESC, w LIMIT 50
    """,
    tags=("llm", "vocab"),
)
def llm_vocab_topk(spark, sf_dir):
    """Corpus vocabulary heavy hitters: top-50 words by occurrence with
    document frequency — the seed step of vocab/tokenizer construction.
    Map-side partial aggregation over exploded tokens, then TakeOrdered
    for the global top-k (no full sort); deterministic (count, word)
    tie-break."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    return (
        toks.groupBy("w")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("w"))
        .limit(50)
    )


@register(
    "llm_sample_per_group",
    oracle="""
        SELECT lang, doc_id, n_chars FROM (
            SELECT lang, doc_id, n_chars,
                   ROW_NUMBER() OVER (
                       PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ) AS rn
            FROM documents
        ) WHERE rn <= 3
    """,
    tags=("llm", "sampling"),
)
def llm_sample_per_group(spark, sf_dir):
    """Deterministic uniform k=3 sample per language: rank docs inside
    each group by md5(doc_id) — a reproducible stand-in for random
    order that both engines (and any rerun) compute identically, so
    eval subsets are stable across runs and engines. The per-group
    row_number is a group-limit window (no global sort); at 100 TB this
    is the standard 'inspect k docs per slice' pass."""
    docs = table(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    w = W.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select("lang", "doc_id", "n_chars", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


# CCNet/C4-style boilerplate removal constants: documents are
# segmented into fixed 3-word windows (the synthetic corpus has no
# newlines, so fixed-width segments stand in for lines) and a segment
# appearing in more than _BOILER_DF_CAP distinct documents is dropped
# as boilerplate (headers, footers, nav text in a real crawl).
_BOILER_SEG_W = 3
_BOILER_DF_CAP = 3


@register(
    "llm_boilerplate_strip",
    oracle=f"""
        WITH segs AS (
            SELECT doc_id, i AS idx,
                   array_to_string(
                       list_slice(string_split(text, ' '),
                                  i * {_BOILER_SEG_W} + 1,
                                  (i + 1) * {_BOILER_SEG_W}),
                       ' ') AS seg
            FROM documents,
                 LATERAL (SELECT UNNEST(range(0, CAST(ceil(
                     len(string_split(text, ' ')) / {_BOILER_SEG_W}.0
                 ) AS BIGINT))) AS i)
        ),
        df AS (
            SELECT seg, COUNT(DISTINCT doc_id) AS seg_df
            FROM segs GROUP BY seg
        )
        SELECT s.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_segs,
               CAST(COUNT(*) FILTER (WHERE d.seg_df <= {_BOILER_DF_CAP})
                    AS BIGINT) AS n_kept,
               COALESCE(string_agg(
                   CASE WHEN d.seg_df <= {_BOILER_DF_CAP} THEN s.seg END,
                   ' ' ORDER BY s.idx), '') AS clean_text
        FROM segs s JOIN df d USING (seg)
        GROUP BY s.doc_id
    """,
    tags=("llm", "pipeline", "boilerplate"),
)
def llm_boilerplate_strip(spark, sf_dir):
    """CCNet-style boilerplate removal: drop document segments whose
    corpus document-frequency exceeds a cap, and re-assemble each
    document's surviving text in order (the line-hash dedup pass real
    crawl pipelines run before model-level dedup; segments stand in
    for lines on this newline-free corpus).

    Scale shape mirrors llm_decontaminate's gram pass: the segment
    stream is ONE tokenize+slice explode (~n_words/{_BOILER_SEG_W}
    rows per doc), the DF aggregate runs on xxhash64 segment keys
    (fixed-width shuffle rows; the distinct (doc_id, hash) pass
    partitions by both columns so hot boilerplate segments spread),
    and only the boolean verdict joins back — the reassembly groupBy
    carries each segment string exactly once. collect_list inside the
    per-doc group is bounded by document length (KBs), never
    corpus-sized."""
    from opusdb_spark.operators.skew import spread

    docs = spread(table(spark, sf_dir, "documents"))
    # r13 (guide §4.1, the llm_decontaminate finding): segment indices
    # come from an exploded integer sequence and the slice/join/hash
    # runs as a codegen projection, not inside a transform() lambda
    # (higher-order functions are CodegenFallback — interpreted per
    # element). sf1 seg stream via noop sink: 0.67 → 0.37 s; stream
    # bit-identical (count + bit_xor over all four columns match).
    w = F.split(F.col("text"), " ")
    pe = docs.select("doc_id", w.alias("_w")).select(
        "doc_id",
        "_w",
        F.explode(
            F.sequence(
                F.lit(0),
                F.ceil(F.size("_w") / F.lit(_BOILER_SEG_W)).cast("int")
                - 1,
            )
        ).alias("idx"),
    )
    segs = pe.select(
        "doc_id",
        "idx",
        F.array_join(
            F.slice(
                "_w", F.col("idx") * _BOILER_SEG_W + 1, _BOILER_SEG_W
            ),
            " ",
        ).alias("seg"),
    ).withColumn("segh", F.xxhash64("seg"))
    # r13 (guide §2.4): partition the narrow (doc_id, segh) stream by
    # segh alone — HashPartitioning(segh) satisfies both the distinct's
    # (doc_id, segh) clustering (subset rule) and the DF-count's, so
    # the two aggregations share ONE exchange instead of paying two.
    df_tbl = (
        segs.select("doc_id", "segh")
        .repartition("segh")
        .dropDuplicates(["doc_id", "segh"])
        .groupBy("segh")
        .agg(F.count(F.lit(1)).alias("seg_df"))
    )
    flagged = segs.join(df_tbl, "segh").withColumn(
        "kept", F.col("seg_df") <= _BOILER_DF_CAP
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segs"),
        F.count_if(F.col("kept")).alias("n_kept"),
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(
                        F.collect_list(F.struct("idx", "kept", "seg"))
                    ),
                    lambda x: x.kept,
                ),
                lambda x: x.seg,
            ),
            " ",
        ).alias("clean_text"),
    )


# ----------------------------- continuous-aggregate rollup (hypertable)


@register(
    "events_rollup_daily",
    oracle=f"""
        SELECT CAST(ts AS DATE) AS day, event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               {sql_dsum("value", "total_value")},
               MIN(value) AS min_value, MAX(value) AS max_value
        FROM events GROUP BY 1, 2
    """,
    tags=("events", "rollup"),
)
def events_rollup_daily(spark, sf_dir):
    """Daily continuous-aggregate over the event stream, served from a
    day-partitioned ROLLUP STORE built once at ingest
    (operators/rollup.py — the hypertable/materialized-view pattern;
    the reference's append-only event log, log_mgr.clj:16-33, is the
    ingest side of this shape). The query itself reads partial
    aggregates (days x event types — rollup-sized, not event-sized)
    and only finalizes the decimal sum to double: at 100 TB the raw
    scan is paid once per ingest batch, never per query."""
    from opusdb_spark.operators import rollup

    store = rollup.ensured_store(spark, sf_dir)
    r = rollup.read_rollup(spark, store)
    return r.select(
        "day",
        "event_type",
        "n_events",
        F.col("sum_value_dec").cast("double").alias("total_value"),
        "min_value",
        "max_value",
    )


@register(
    "events_rollup_distinct_users",
    oracle="""
        SELECT CAST(ts AS DATE) AS day, event_type,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events GROUP BY 1, 2
    """,
    tags=("events", "rollup", "sketch"),
)
def events_rollup_distinct_users(spark, sf_dir):
    """Distinct users per day x type served from the rollup store's
    SKETCH column: COUNT DISTINCT is not mergeable from counts, so the
    store carries a DataSketches HLL of user_id per cell
    (operators/rollup.py), unioned on refresh and finalized here with
    hll_sketch_estimate — the standard rollup answer to distincts over
    unbounded history. The oracle is the exact COUNT(DISTINCT) over
    raw events: below the sketch's coupon threshold (~hundreds of
    distinct users per cell — this corpus's regime at every verified
    sf) the HLL is exact, so the parity check is a hash match; at
    cells beyond coupon range the estimate is ~2% and a production
    consumer reads it as approximate by contract."""
    from opusdb_spark.operators import rollup

    store = rollup.ensured_store(spark, sf_dir)
    r = rollup.read_rollup(spark, store)
    return r.select(
        "day",
        "event_type",
        F.hll_sketch_estimate("users_hll").alias("n_users"),
    )


def _dd_rollup_quantiles_oracle() -> str:
    from opusdb_spark.operators.sketch import dd_sql_core, dd_sql_estimate

    return f"""
        WITH {dd_sql_core()}
        SELECT event_type, q,
               {dd_sql_estimate()} AS est_value
        FROM pick ORDER BY event_type, q
    """


@register(
    "events_rollup_quantiles",
    oracle=_dd_rollup_quantiles_oracle(),
    tags=("events", "rollup", "sketch"),
)
def events_rollup_quantiles(spark, sf_dir):
    """Percentiles served from the ROLLUP STORE: exact percentiles are
    not mergeable (you cannot merge two medians), so the store carries
    a DDSketch quantile column — a map<log-bucket, count> per
    (day, type) cell (operators/rollup.py; bucket algebra shared with
    agg_ddsketch_quantiles via operators/sketch.py). This query
    union-sums the day cells' maps per type and walks the cumulative
    bucket table for p50/p90/p99 — all over store-sized data, never a
    raw-event scan (plan-pinned with the other store-served queries).
    The oracle replays the identical bucket algebra from RAW events in
    DuckDB: a hash match proves the store's sketch merge is lossless
    end-to-end, estimate-for-estimate."""
    from opusdb_spark.operators import rollup
    from opusdb_spark.operators.sketch import DD_FLOOR_BUCKET, dd_estimate
    from opusdb_spark.queries.sketches import dd_quantile_walk

    store = rollup.ensured_store(spark, sf_dir)
    r = rollup.read_rollup(spark, store)
    sketch = (
        r.select("event_type", F.explode("value_ddsketch").alias("bkt", "cnt"))
        .filter(F.col("bkt") != DD_FLOOR_BUCKET)
        .groupBy("event_type", "bkt")
        .agg(F.sum("cnt").alias("cnt"))
    )
    return (
        dd_quantile_walk(sketch)
        .select(
            "event_type", "q", dd_estimate(F.col("bq")).alias("est_value")
        )
        .orderBy("event_type", "q")
    )


@register(
    "events_rollup_cascade",
    oracle=f"""
        SELECT CAST(ts AS DATE) AS day, event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               {sql_dsum("value", "total_value")},
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events GROUP BY 1, 2
    """,
    tags=("events", "rollup"),
)
def events_rollup_cascade(spark, sf_dir):
    """Rollup CASCADE: the daily aggregate answered from the HOURLY
    store by re-aggregating partials (operators/rollup.py
    merge_partials) — counts and decimal sums add, min/max fold, HLL
    sketches union (hll_union_agg) — without touching raw events. This
    is the algebra that lets one finest-grain store serve every
    coarser granularity at 100 TB: day/week/month queries all read
    hour-sized partials, and the oracle (a raw-event recompute,
    including exact COUNT DISTINCT in the sketch's exact coupon
    regime) pins that the cascade loses nothing."""
    from opusdb_spark.operators import rollup

    store = rollup.ensured_store(spark, sf_dir, grain="hour")
    hourly = rollup.read_rollup(spark, store, grain="hour").withColumn(
        "day", F.to_date("bucket_ts")
    )
    daily = rollup.merge_partials(hourly, ["day", "event_type"])
    return daily.select(
        "day",
        "event_type",
        "n_events",
        F.col("sum_value_dec").cast("double").alias("total_value"),
        F.hll_sketch_estimate("users_hll").alias("n_users"),
    )


@register(
    "events_rollup_backfill",
    oracle=f"""
        WITH corrected AS (
            SELECT ts, event_type, user_id,
                   CASE WHEN CAST(ts AS DATE) = DATE '2024-01-05'
                        THEN value * 2 ELSE value END AS value
            FROM events
        )
        SELECT CAST(ts AS DATE) AS day, event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               {sql_dsum("value", "total_value")}
        FROM corrected GROUP BY 1, 2
    """,
    tags=("events", "rollup"),
)
def events_rollup_backfill(spark, sf_dir):
    """Rollup BACKFILL: a restated day (2024-01-05's values doubled —
    a correction, not new events, so it cannot fold additively) is
    repaired by recomputing ONLY that day from corrected raw and
    dynamically replacing its partition (operators/rollup.py
    backfill_rollup). Every other day is served from the original
    build untouched; the oracle recomputes all days from the corrected
    stream and the store must hash-match it — the repair path every
    sealed-history rollup needs for late or restated data."""
    from datetime import date

    from opusdb_spark.operators import rollup
    from opusdb_spark.sources.formats import scratch_sink

    ev = table(spark, sf_dir, "events")
    store = scratch_sink(
        f"rollup_backfill_{os.path.basename(os.path.normpath(sf_dir))}"
    )
    rollup.build_rollup(ev, store)
    bad_day = date(2024, 1, 5)
    corrected = ev.withColumn(
        "value",
        F.when(
            F.to_date("ts") == F.lit(bad_day), F.col("value") * 2
        ).otherwise(F.col("value")),
    )
    rollup.backfill_rollup(spark, store, corrected, [bad_day])
    r = rollup.read_rollup(spark, store)
    return r.select(
        "day",
        "event_type",
        "n_events",
        F.col("sum_value_dec").cast("double").alias("total_value"),
    )


@register(
    "events_rollup_incremental",
    oracle=f"""
        WITH delta AS (
            SELECT ts + INTERVAL 10 DAY AS ts, event_type, value
            FROM events WHERE event_id % 7 = 3
        ),
        all_ev AS (
            SELECT ts, event_type, value FROM events
            UNION ALL SELECT ts, event_type, value FROM delta
        )
        SELECT CAST(ts AS DATE) AS day, event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               {sql_dsum("value", "total_value")},
               MIN(value) AS min_value, MAX(value) AS max_value
        FROM all_ev GROUP BY 1, 2
    """,
    tags=("events", "rollup"),
)
def events_rollup_incremental(spark, sf_dir):
    """INCREMENTAL rollup maintenance: an appended batch (a
    deterministic 1/7 slice of events shifted +10 days — half landing
    in existing day partitions, half opening new ones) folds into the
    store by merging mergeable partials and dynamically overwriting
    ONLY the affected day directories (operators/rollup.py
    refresh_rollup). The oracle recomputes the aggregate over
    original+delta from scratch — the merge must match it bit-for-bit
    (decimal sums merge exactly; double sums would not). The store is
    rebuilt in cleared scratch each run so the refresh is applied
    exactly once; in production the base build is ingest-once and each
    batch refreshes the persistent store under the log sink's
    exactly-once commit."""
    from opusdb_spark.operators import rollup
    from opusdb_spark.sources.formats import scratch_sink

    ev = table(spark, sf_dir, "events")
    store = scratch_sink(
        f"rollup_incr_{os.path.basename(os.path.normpath(sf_dir))}"
    )
    rollup.build_rollup(ev, store)
    delta = ev.filter(F.col("event_id") % 7 == 3).select(
        (F.col("ts") + F.expr("INTERVAL 10 DAY")).alias("ts"),
        "event_type",
        "value",
        "user_id",
    )
    rollup.refresh_rollup(spark, store, delta)
    r = rollup.read_rollup(spark, store)
    return r.select(
        "day",
        "event_type",
        "n_events",
        F.col("sum_value_dec").cast("double").alias("total_value"),
        "min_value",
        "max_value",
    )


@register(
    "events_zscore_outliers",
    oracle="""
        WITH s AS (
            SELECT event_type,
                   CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS s1,
                   CAST(SUM(CAST(value * value AS DECIMAL(27,12))) AS DOUBLE) AS s2,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY event_type
        ),
        st AS (
            SELECT event_type, s1 / n AS mu,
                   SQRT((s2 - s1 * s1 / n) / (n - 1)) AS sd
            FROM s
        )
        SELECT e.event_id, e.event_type, e.value,
               round((e.value - st.mu) / st.sd, 6) AS z
        FROM events e JOIN st USING (event_type)
        WHERE st.sd <> 0 AND ABS((e.value - st.mu) / st.sd) > 3
    """,
    tags=("quality", "outlier"),
)
def events_zscore_outliers(spark, sf_dir):
    """Per-type z-score outliers (|z| > 3): the quality-control pass
    that drops corrupt numeric records before training aggregation.

    Mean/std derive from ORDER-INDEPENDENT decimal sums (s1, s2), cast
    to double once — so mu/sd are bit-identical in both engines and the
    |z| > 3 boundary decides identically. The stats side is a tiny
    per-type aggregate that broadcasts; events stream through one scan.
    """
    ev = table(spark, sf_dir, "events")
    s = ev.groupBy("event_type").agg(
        F.sum(F.col("value").cast("decimal(27,6)")).cast("double").alias("s1"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(27,12)"))
        .cast("double")
        .alias("s2"),
        F.count(F.lit(1)).alias("n"),
    )
    st = s.select(
        "event_type",
        (F.col("s1") / F.col("n")).alias("mu"),
        F.sqrt(
            (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("sd"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sd")
    return (
        ev.join(F.broadcast(st), "event_type")
        # sd == 0 (constant-valued group): z is 0/0 = NaN, and Spark's
        # NaN-is-largest semantics would flag the WHOLE group as
        # outliers — filter the degenerate group first, like
        # events_anomaly_mad does for mad == 0
        .filter(F.col("sd") != 0)
        .filter(F.abs(z) > 3)
        .select("event_id", "event_type", "value", F.round(z, 6).alias("z"))
    )


@register(
    "llm_bigram_lm",
    oracle="""
        WITH toks AS (
            SELECT doc_id, i,
                   string_split(text, ' ')[i] AS w1,
                   string_split(text, ' ')[i+1] AS w2
            FROM documents,
                 LATERAL (SELECT UNNEST(range(1, GREATEST(len(string_split(text,' ')) - 1, 0) + 1)) AS i)
            WHERE string_split(text, ' ')[i] <> ''
              AND string_split(text, ' ')[i+1] <> ''
        ),
        big AS (
            SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
            FROM toks GROUP BY w1, w2
        ),
        uni AS (
            SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM big GROUP BY w1
        )
        SELECT b.w1, b.w2, b.c12,
               CAST(b.c12 AS DOUBLE) / u.c1 AS p_cond
        FROM big b JOIN uni u ON b.w1 = u.w1
        ORDER BY b.c12 DESC, b.w1, b.w2 LIMIT 20
    """,
    tags=("llm", "lm"),
)
def llm_bigram_lm(spark, sf_dir):
    """Corpus bigram statistics: top-20 bigrams with conditional
    probability P(w2|w1) = c(w1,w2)/c(w1) — the n-gram language-model
    table that powers perplexity-style quality filters. Bigram counts
    aggregate map-side off one exploded pass; the unigram denominator
    re-aggregates the (much smaller) bigram table rather than
    rescanning tokens. Integer-ratio doubles are bit-identical
    cross-engine; (count, w1, w2) tie-break pins the top-20. Pairs come
    from arrays_zip over two shifted slices (one array walk — the
    per-pair transform+element_at form costs ~3× more constructor work)
    and the scan is spread() first (token explosion is ~100× per-row
    fan-out; BENCH r7: 38 s → ~2 s at sf1)."""
    from opusdb_spark.operators.skew import spread

    docs = spread(table(spark, sf_dir, "documents")).select(
        F.split("text", " ").alias("t")
    )
    n = F.greatest(F.size("t") - 1, F.lit(0))
    prs = (
        docs.select(
            F.explode(
                F.arrays_zip(
                    F.slice("t", 1, n).alias("w1"),
                    F.slice(F.col("t"), 2, n).alias("w2"),
                )
            ).alias("pr")
        )
        .select("pr.w1", "pr.w2")
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
    )
    big = prs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    uni = big.groupBy("w1").agg(F.sum("c12").alias("c1"))
    return (
        big.join(uni, "w1")
        .select(
            "w1",
            "w2",
            "c12",
            (F.col("c12").cast("double") / F.col("c1")).alias("p_cond"),
        )
        .orderBy(F.col("c12").desc(), "w1", "w2")
        .limit(20)
    )


# ------------------------------------------------- data-quality gates
_PSI_ORACLE = """
    WITH bounds AS (
        SELECT (CAST(epoch_us(MIN(ts)) AS BIGINT)
                + CAST(epoch_us(MAX(ts)) AS BIGINT)) // 2 AS mid
        FROM events
    ),
    ev AS (
        SELECT event_type,
               CASE WHEN epoch_us(ts) < (SELECT mid FROM bounds)
                    THEN 1 ELSE 0 END AS is_a,
               LEAST(CAST(FLOOR(value / 50.0) AS BIGINT), 9) AS bin
        FROM events
    ),
    counts AS (
        SELECT event_type, bin,
               CAST(SUM(is_a) AS BIGINT) AS cnt_a,
               CAST(SUM(1 - is_a) AS BIGINT) AS cnt_b
        FROM ev GROUP BY 1, 2
    ),
    stats AS (
        SELECT event_type, bin, cnt_a, cnt_b,
               CAST(SUM(cnt_a) OVER (PARTITION BY event_type) AS BIGINT)
                   AS n_a,
               CAST(SUM(cnt_b) OVER (PARTITION BY event_type) AS BIGINT)
                   AS n_b,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
                   AS nbins
        FROM counts
    ),
    terms AS (
        SELECT event_type,
               ROUND((p - q) * ROUND(LN(p / q), 6), 12) AS term
        FROM (
            SELECT event_type,
                   (cnt_a + 0.5) / (n_a + 0.5 * nbins) AS p,
                   (cnt_b + 0.5) / (n_b + 0.5 * nbins) AS q
            FROM stats
        )
    )
    SELECT event_type,
           ROUND(CAST(SUM(CAST(term AS DECIMAL(27,12))) AS DOUBLE), 6)
               AS psi,
           CASE WHEN ROUND(CAST(SUM(CAST(term AS DECIMAL(27,12)))
                                AS DOUBLE), 6) < 0.1 THEN 'stable'
                WHEN ROUND(CAST(SUM(CAST(term AS DECIMAL(27,12)))
                                AS DOUBLE), 6) < 0.25 THEN 'moderate'
                ELSE 'shifted' END AS verdict
    FROM terms GROUP BY event_type ORDER BY event_type
"""


@register("dq_psi_drift", oracle=_PSI_ORACLE, tags=("quality", "drift"))
def dq_psi_drift(spark, sf_dir):
    """Distribution DRIFT detection via the Population Stability Index:
    PSI = Σ (p_i − q_i)·ln(p_i/q_i) between the first and second time
    half of each type's value distribution — the standard production
    monitor for 'did this feed silently change shape?' (the time-axis
    counterpart of the point-in-time dq_constraints gate). Scale
    shape: the midpoint is one column-pruned min/max pass; binning is
    a map-side projection; everything after the (type, bin) groupBy —
    the windows, smoothing, the verdict — runs on the ≤10-bins-per-type
    model-sized table. Laplace-smoothed (0.5/bin over the observed-bin
    domain, the convention both engines share) so a one-sided-empty
    bin cannot produce ln(0); terms are 6dp-rounded before the decimal
    sum per the repo's libm contract, so the PSI hash-matches DuckDB.
    """
    ev = table(spark, sf_dir, "events")
    epoch = F.unix_micros(F.col("ts").cast("timestamp"))
    mid = ev.agg(
        ((F.min(epoch) + F.max(epoch)) / 2).cast("long").alias("mid")
    )
    counts = (
        ev.crossJoin(F.broadcast(mid))
        .select(
            "event_type",
            F.when(epoch < F.col("mid"), 1).otherwise(0).alias("is_a"),
            F.least(
                F.floor(F.col("value") / 50.0).cast("long"), F.lit(9)
            ).alias("bin"),
        )
        .groupBy("event_type", "bin")
        .agg(
            F.sum("is_a").alias("cnt_a"),
            F.sum(1 - F.col("is_a")).alias("cnt_b"),
        )
    )
    w = Window.partitionBy("event_type")
    stats = counts.select(
        "event_type",
        "cnt_a",
        "cnt_b",
        F.sum("cnt_a").over(w).alias("n_a"),
        F.sum("cnt_b").over(w).alias("n_b"),
        F.count(F.lit(1)).over(w).alias("nbins"),
    )
    p = (F.col("cnt_a") + 0.5) / (F.col("n_a") + 0.5 * F.col("nbins"))
    q = (F.col("cnt_b") + 0.5) / (F.col("n_b") + 0.5 * F.col("nbins"))
    terms = stats.select(
        "event_type",
        F.round((p - q) * F.round(F.log(p / q), 6), 12).alias("term"),
    )
    psi = F.round(
        F.sum(F.col("term").cast("decimal(27,12)")).cast("double"), 6
    )
    return (
        terms.groupBy("event_type")
        .agg(
            psi.alias("psi"),
            F.when(psi < 0.1, "stable")
            .when(psi < 0.25, "moderate")
            .otherwise("shifted")
            .alias("verdict"),
        )
        .orderBy("event_type")
    )


@register(
    "dq_constraints",
    oracle="""
        SELECT 'orders_null_custkey' AS check_name,
               CAST(COUNT(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT)
                   AS n_violations
        FROM orders
        UNION ALL
        SELECT 'orders_orphan_custkey',
               CAST(COUNT(*) AS BIGINT)
        FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_custkey IS NULL
        UNION ALL
        SELECT 'orders_dup_orderkey',
               CAST(COUNT(*) AS BIGINT)
        FROM (SELECT o_orderkey FROM orders
              GROUP BY o_orderkey HAVING COUNT(*) > 1)
        UNION ALL
        SELECT 'lineitem_negative_qty',
               CAST(COUNT(*) FILTER (WHERE l_quantity < 0) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'lineitem_discount_range',
               CAST(COUNT(*) FILTER (WHERE l_discount < 0 OR l_discount > 1)
                    AS BIGINT)
        FROM lineitem
    """,
    tags=("quality", "constraints"),
)
def dq_constraints(spark, sf_dir):
    """Data-quality constraint sweep: null keys, referential orphans
    (orders→customer anti join), primary-key duplicates, domain checks
    (negative quantity, discount outside [0,1]) — one violation count
    per named check.

    Each check is a scan-local aggregate or one equi-join; the orphan
    check is the only shuffle and is exactly the anti-join shape. This
    is the admission gate a 100 TB ingest runs before data reaches
    training aggregation."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    lt = table(spark, sf_dir, "lineitem")

    def one(name, df):
        return df.select(
            F.lit(name).alias("check_name"),
            F.count(F.lit(1)).alias("n_violations"),
        )

    null_ck = o.agg(
        F.count(F.when(F.col("o_custkey").isNull(), 1)).alias("n_violations")
    ).select(F.lit("orders_null_custkey").alias("check_name"), "n_violations")
    orphan = one(
        "orders_orphan_custkey",
        o.join(c, o.o_custkey == c.c_custkey, "left_anti"),
    )
    dups = one(
        "orders_dup_orderkey",
        o.groupBy("o_orderkey").count().filter(F.col("count") > 1),
    )
    neg = lt.agg(
        F.count(F.when(F.col("l_quantity") < 0, 1)).alias("n_violations")
    ).select(F.lit("lineitem_negative_qty").alias("check_name"), "n_violations")
    disc = lt.agg(
        F.count(
            F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1)
        ).alias("n_violations")
    ).select(
        F.lit("lineitem_discount_range").alias("check_name"), "n_violations"
    )
    return (
        null_ck.unionByName(orphan)
        .unionByName(dups)
        .unionByName(neg)
        .unionByName(disc)
    )


@register(
    "profile_columns",
    oracle="""
        SELECT 'l_quantity' AS col, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(l_quantity) AS BIGINT) AS n_nonnull,
               CAST(COUNT(DISTINCT l_quantity) AS BIGINT) AS n_distinct,
               MIN(l_quantity) AS min_v, MAX(l_quantity) AS max_v
        FROM lineitem
        UNION ALL
        SELECT 'l_extendedprice', CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(l_extendedprice) AS BIGINT),
               CAST(COUNT(DISTINCT l_extendedprice) AS BIGINT),
               MIN(l_extendedprice), MAX(l_extendedprice)
        FROM lineitem
        UNION ALL
        SELECT 'l_discount', CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(l_discount) AS BIGINT),
               CAST(COUNT(DISTINCT l_discount) AS BIGINT),
               MIN(l_discount), MAX(l_discount)
        FROM lineitem
    """,
    tags=("quality", "profiling"),
)
def profile_columns(spark, sf_dir):
    """Column profiling: rows / non-null / exact distinct / min / max
    per numeric column as one row per column — the table-stats pass
    behind ingestion monitoring and CBO-style planning. Each column's
    profile is an independent aggregate over the same scan; Catalyst
    shares the scan across the union branches, and distinct counts are
    exact (the approximate path is agg_approx_distinct)."""
    lt = table(spark, sf_dir, "lineitem")

    def prof(colname):
        return lt.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count(colname).alias("n_nonnull"),
            F.countDistinct(colname).alias("n_distinct"),
            F.min(colname).alias("min_v"),
            F.max(colname).alias("max_v"),
        ).select(
            F.lit(colname).alias("col"),
            "n_rows",
            "n_nonnull",
            "n_distinct",
            "min_v",
            "max_v",
        )

    return (
        prof("l_quantity")
        .unionByName(prof("l_extendedprice"))
        .unionByName(prof("l_discount"))
    )


# -------------------------------------------------- schema/profile drift
_SCHEMA_DRIFT_ORACLE = """
    WITH ev AS (
        SELECT event_type, user_id, value,
               CASE WHEN datediff('day', DATE '2024-01-01',
                                  CAST(ts AS DATE)) < 14
                    THEN 0 ELSE 1 END AS half
        FROM events
        WHERE CAST(ts AS DATE) >= DATE '2024-01-01'
          AND datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) < 28
    ),
    agg AS (
        SELECT
            COUNT(*) FILTER (WHERE half = 0) AS rows_a,
            COUNT(*) FILTER (WHERE half = 1) AS rows_b,
            COUNT(DISTINCT CASE WHEN half = 0 THEN event_type END)
                AS dtype_a,
            COUNT(DISTINCT CASE WHEN half = 1 THEN event_type END)
                AS dtype_b,
            COUNT(DISTINCT CASE WHEN half = 0 THEN user_id END) AS duser_a,
            COUNT(DISTINCT CASE WHEN half = 1 THEN user_id END) AS duser_b,
            COUNT(DISTINCT CASE WHEN half = 0 THEN value END) AS dval_a,
            COUNT(DISTINCT CASE WHEN half = 1 THEN value END) AS dval_b,
            MIN(CASE WHEN half = 0 THEN user_id END) AS minu_a,
            MIN(CASE WHEN half = 1 THEN user_id END) AS minu_b,
            MAX(CASE WHEN half = 0 THEN user_id END) AS maxu_a,
            MAX(CASE WHEN half = 1 THEN user_id END) AS maxu_b,
            MIN(CASE WHEN half = 0 THEN value END) AS minv_a,
            MIN(CASE WHEN half = 1 THEN value END) AS minv_b,
            MAX(CASE WHEN half = 0 THEN value END) AS maxv_a,
            MAX(CASE WHEN half = 1 THEN value END) AS maxv_b,
            COUNT(value) FILTER (WHERE half = 0) AS nnv_a,
            COUNT(value) FILTER (WHERE half = 1) AS nnv_b
        FROM ev
    ),
    longf AS (
        SELECT '_table' AS col, 'rows' AS metric,
               CAST(rows_a AS DOUBLE) AS batch_a,
               CAST(rows_b AS DOUBLE) AS batch_b FROM agg
        UNION ALL SELECT 'event_type', 'n_distinct',
               CAST(dtype_a AS DOUBLE), CAST(dtype_b AS DOUBLE) FROM agg
        UNION ALL SELECT 'user_id', 'n_distinct',
               CAST(duser_a AS DOUBLE), CAST(duser_b AS DOUBLE) FROM agg
        UNION ALL SELECT 'value', 'n_distinct',
               CAST(dval_a AS DOUBLE), CAST(dval_b AS DOUBLE) FROM agg
        UNION ALL SELECT 'user_id', 'min',
               CAST(minu_a AS DOUBLE), CAST(minu_b AS DOUBLE) FROM agg
        UNION ALL SELECT 'user_id', 'max',
               CAST(maxu_a AS DOUBLE), CAST(maxu_b AS DOUBLE) FROM agg
        UNION ALL SELECT 'value', 'min', minv_a, minv_b FROM agg
        UNION ALL SELECT 'value', 'max', maxv_a, maxv_b FROM agg
        UNION ALL SELECT 'value', 'null_frac',
               1.0 - CAST(nnv_a AS DOUBLE) / rows_a,
               1.0 - CAST(nnv_b AS DOUBLE) / rows_b FROM agg
    )
    SELECT col, metric, batch_a, batch_b,
           ROUND(batch_b - batch_a, 6) AS delta
    FROM longf ORDER BY col, metric
"""


@register(
    "dq_schema_drift",
    oracle=_SCHEMA_DRIFT_ORACLE,
    tags=("quality", "profiling", "drift"),
)
def dq_schema_drift(spark, sf_dir):
    """Per-column PROFILE drift between two table generations (first
    vs second fortnight of the events window): row volume, exact
    distinct counts, min/max range shift, and null fraction per
    column, long-format (col, metric, batch_a, batch_b, delta). The
    structural companion to dq_psi_drift — PSI reads the value
    DISTRIBUTION, this reads the column PROFILE, which is what catches
    an upstream schema change (a column gone all-NULL, an id range
    reset, a categorical losing values) before it poisons training
    data.

    Scale shape: ONE scan with conditional aggregation — both halves'
    profiles come out of a single pass (never a per-batch rescan);
    the three exact count(distinct)s run as NARROW-KEY two-level
    aggregations (r13; see below). The long-format explode happens on
    the 1-row aggregate, so everything after the scan is literally 9
    rows.

    r13 plan change (guide §2.3/§6): (a) the window filter is plain ts
    RANGE predicates, not to_date(ts) — a function of the column is
    opaque to parquet min/max stats, a range on ts reaches the scan as
    PushedFilters and prunes row groups outside the 28-day window
    (sf1: 2.1 → 1.85 s); (b) the three exact count(distinct)s no
    longer share one Expand — Spark's multi-distinct plan expands
    every filtered row ×7 into a partial hash aggregate keyed on all
    seven CASE-projections at once, and hashing 7× corpus-sized wide
    rows dominated the wall. Each distinct now runs as its own
    two-level aggregation (groupBy(half, col) partial-collapses
    map-side to the column's distinct cardinality, then a zero-key
    count), and the three 1-row results crossJoin the base stats —
    column-pruned scans per distinct in place of the ×7 row expansion
    (sf1: 1.85 → 1.6 s; values bit-identical, DuckDB oracle
    unchanged). At cluster scale the trade is ~2× column-pruned scan
    bytes against 7× expanded shuffle-input rows — the narrow-key form
    also removes the 7-column hash key whose per-row cost the local
    profile charged."""
    ts_t = dict(table(spark, sf_dir, "events").dtypes)["ts"]
    lo = F.lit("2024-01-01 00:00:00").cast(ts_t)
    mid = F.lit("2024-01-15 00:00:00").cast(ts_t)
    hi = F.lit("2024-01-29 00:00:00").cast(ts_t)
    ev = (
        table(spark, sf_dir, "events")
        .filter((F.col("ts") >= lo) & (F.col("ts") < hi))
        .select(
            "event_type",
            "user_id",
            "value",
            F.when(F.col("ts") < mid, 0).otherwise(1).alias("half"),
        )
    )

    def _h(h, col, fn):
        return fn(F.when(F.col("half") == h, F.col(col)))

    base = ev.agg(
        F.count(F.when(F.col("half") == 0, F.lit(1))).alias("rows_a"),
        F.count(F.when(F.col("half") == 1, F.lit(1))).alias("rows_b"),
        _h(0, "user_id", F.min).alias("minu_a"),
        _h(1, "user_id", F.min).alias("minu_b"),
        _h(0, "user_id", F.max).alias("maxu_a"),
        _h(1, "user_id", F.max).alias("maxu_b"),
        _h(0, "value", F.min).alias("minv_a"),
        _h(1, "value", F.min).alias("minv_b"),
        _h(0, "value", F.max).alias("maxv_a"),
        _h(1, "value", F.max).alias("maxv_b"),
        F.count(F.when(F.col("half") == 0, F.col("value"))).alias("nnv_a"),
        F.count(F.when(F.col("half") == 1, F.col("value"))).alias("nnv_b"),
    )

    def _dcount(col, a_name, b_name):
        # exact distinct per half without Expand: the inner groupBy
        # partial-aggregates map-side (shuffle rows = distinct
        # cardinality, not corpus rows), the outer zero-key count is
        # 1-row work. NULLs drop out of the distinct exactly as
        # countDistinct drops them: a NULL col groups with half only,
        # and count(WHEN col IS NOT NULL) below excludes it.
        return (
            ev.select("half", col)
            .groupBy("half", col)
            .agg(F.lit(1))
            .groupBy()
            .agg(
                F.count(
                    F.when(
                        (F.col("half") == 0) & F.col(col).isNotNull(),
                        F.lit(1),
                    )
                ).alias(a_name),
                F.count(
                    F.when(
                        (F.col("half") == 1) & F.col(col).isNotNull(),
                        F.lit(1),
                    )
                ).alias(b_name),
            )
        )

    a = (
        base.crossJoin(_dcount("event_type", "dtype_a", "dtype_b"))
        .crossJoin(_dcount("user_id", "duser_a", "duser_b"))
        .crossJoin(_dcount("value", "dval_a", "dval_b"))
    )

    def row(col, metric, va, vb):
        return F.struct(
            F.lit(col).alias("col"),
            F.lit(metric).alias("metric"),
            va.cast("double").alias("batch_a"),
            vb.cast("double").alias("batch_b"),
        )

    rows = a.select(
        F.explode(
            F.array(
                row("_table", "rows", F.col("rows_a"), F.col("rows_b")),
                row(
                    "event_type",
                    "n_distinct",
                    F.col("dtype_a"),
                    F.col("dtype_b"),
                ),
                row(
                    "user_id",
                    "n_distinct",
                    F.col("duser_a"),
                    F.col("duser_b"),
                ),
                row("value", "n_distinct", F.col("dval_a"), F.col("dval_b")),
                row("user_id", "min", F.col("minu_a"), F.col("minu_b")),
                row("user_id", "max", F.col("maxu_a"), F.col("maxu_b")),
                row("value", "min", F.col("minv_a"), F.col("minv_b")),
                row("value", "max", F.col("maxv_a"), F.col("maxv_b")),
                row(
                    "value",
                    "null_frac",
                    F.lit(1.0)
                    - F.col("nnv_a").cast("double") / F.col("rows_a"),
                    F.lit(1.0)
                    - F.col("nnv_b").cast("double") / F.col("rows_b"),
                ),
            )
        ).alias("r")
    ).select("r.*")
    return rows.select(
        "col",
        "metric",
        "batch_a",
        "batch_b",
        F.round(F.col("batch_b") - F.col("batch_a"), 6).alias("delta"),
    ).orderBy("col", "metric")


@register(
    "ts_ohlc",
    oracle="""
        WITH ranked AS (
            SELECT event_type, date_trunc('hour', ts) AS hour_start, value,
                   ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                      ORDER BY ts, event_id) AS rn_open,
                   ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                      ORDER BY ts DESC, event_id DESC) AS rn_close
            FROM events
        )
        SELECT event_type, hour_start,
               MIN(CASE WHEN rn_open = 1 THEN value END) AS open,
               MAX(value) AS high, MIN(value) AS low,
               MIN(CASE WHEN rn_close = 1 THEN value END) AS close,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM ranked GROUP BY event_type, hour_start
    """,
    tags=("timeseries", "ohlc"),
)
def ts_ohlc(spark, sf_dir):
    """Hourly OHLC (open/high/low/close) bars per event type — the
    canonical time-series downsample. Open/close are picked by a TOTAL
    ordering (ts, event_id), so ties cannot make the result depend on
    partitioning; high/low/count are plain decomposable aggregates.
    One window + one groupBy on the same (type, hour) key: the window's
    shuffle partitioning is reused by the aggregation."""
    ev = table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    hour = F.date_trunc("hour", F.col("ts"))
    wo = W.partitionBy("event_type", hour).orderBy("ts", "event_id")
    wc = W.partitionBy("event_type", hour).orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    ranked = ev.select(
        "event_type",
        hour.alias("hour_start"),
        "value",
        F.row_number().over(wo).alias("rn_open"),
        F.row_number().over(wc).alias("rn_close"),
    )
    return ranked.groupBy("event_type", "hour_start").agg(
        F.min(F.when(F.col("rn_open") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.min(F.when(F.col("rn_close") == 1, F.col("value"))).alias("close"),
        F.count(F.lit(1)).alias("n_events"),
    )


# -------------------------------------------------- chunking
CHUNK_SIZE = 64
CHUNK_STRIDE = 48  # 16-token overlap between consecutive chunks


@register(
    "llm_chunk_split",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        st AS (
            SELECT doc_id, t,
                   UNNEST(generate_series(1, GREATEST(len(t), 1),
                                          {CHUNK_STRIDE})) AS s
            FROM toks
        )
        SELECT doc_id,
               CAST((s - 1) // {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
               CAST(LEAST(s + {CHUNK_SIZE - 1}, len(t)) - s + 1
                    AS BIGINT) AS n_tokens,
               array_to_string(
                   t[s:LEAST(s + {CHUNK_SIZE - 1}, len(t))], ' '
               ) AS chunk_text
        FROM st
    """,
    tags=("llm", "chunking"),
)
def llm_chunk_split(spark, sf_dir):
    """Fixed-size overlapping token chunks — the context-window split
    every pretraining pipeline runs before packing: documents become
    64-token chunks on a 48-token stride (16-token overlap), each
    tagged (doc_id, chunk_id, n_tokens). Pure array algebra on the
    token vector (split → sequence of starts → explode → slice): one
    narrow projection, no shuffle, no UDF — at 100 TB this pipelines
    inside the scan stage and parallelizes per input split."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("t")
    )
    starts = F.sequence(
        F.lit(1), F.greatest(F.size("t"), F.lit(1)), F.lit(CHUNK_STRIDE)
    )
    ex = docs.select("doc_id", "t", F.explode(starts).alias("s"))
    chunk = F.slice("t", F.col("s"), CHUNK_SIZE)
    return ex.select(
        "doc_id",
        F.expr(f"(s - 1) div {CHUNK_STRIDE}").cast("long").alias("chunk_id"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


# -------------------------------------------------- LM quality scoring
# Shared CTE body: per-document bigram cross-entropy (also the base of
# llm_perplexity_buckets below).
_XENT_SQL = """
        WITH pairs AS (
            SELECT doc_id,
                   string_split(text, ' ')[i] AS w1,
                   string_split(text, ' ')[i+1] AS w2
            FROM documents,
                 LATERAL (SELECT UNNEST(range(1,
                     GREATEST(len(string_split(text, ' ')) - 1, 0) + 1)) AS i)
            WHERE string_split(text, ' ')[i] <> ''
              AND string_split(text, ' ')[i+1] <> ''
        ),
        big AS (
            SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
            FROM pairs GROUP BY w1, w2
        ),
        uni AS (
            SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM big GROUP BY w1
        ),
        lm AS (
            SELECT b.w1, b.w2,
                   log2(CAST(b.c12 AS DOUBLE) / u.c1) AS lp
            FROM big b JOIN uni u ON b.w1 = u.w1
        ),
        docbi AS (
            SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS n
            FROM pairs GROUP BY doc_id, w1, w2
        )
        SELECT d.doc_id,
               CAST(SUM(d.n) AS BIGINT) AS n_bigrams,
               ROUND(-CAST(SUM(CAST(d.n * l.lp AS DECIMAL(27,6)))
                           AS DOUBLE) / SUM(d.n), 6) AS xent_bits
        FROM docbi d JOIN lm l ON d.w1 = l.w1 AND d.w2 = l.w2
        GROUP BY d.doc_id
"""


@register(
    "llm_perplexity_score",
    oracle=_XENT_SQL,
    tags=("llm", "lm", "quality"),
)
def llm_perplexity_score(spark, sf_dir):
    """Per-document bigram cross-entropy under a corpus-trained bigram
    LM — the CCNet-style perplexity quality signal: low bits ≈ fluent /
    repetitive, high bits ≈ unusual text. The LM is the same
    conditional-probability table llm_bigram_lm exposes; scoring is a
    doc-bigram × LM equi-join (no windows, no UDF), with each term
    quantized to decimal(27,6) before the sum so the engine-side total
    is order-independent and hash-matches the oracle (log2's 1-ulp
    engine drift collapses under the quantization — the same contract
    fn_math pins for ln, scalar_functions.py:143-145). At 100 TB the
    LM table is corpus-vocabulary-shaped (≪ corpus) and the join
    shuffles on (w1, w2) — or broadcasts, for a capped vocabulary.
    The bigram text never leaves the explode projection: keys shuffle
    as xxhash64 BIGINTs (h1 for the unigram rollup, h12 for the bigram
    join — the decontaminate/substring-dedup pattern; counts agree
    with the text-keyed oracle barring a 64-bit collision)."""
    from opusdb_spark.operators.skew import spread

    docs = spread(table(spark, sf_dir, "documents")).select(
        "doc_id", F.split("text", " ").alias("t")
    )
    n = F.greatest(F.size("t") - 1, F.lit(0))
    pairs = (
        docs.select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice("t", 1, n).alias("w1"),
                    F.slice(F.col("t"), 2, n).alias("w2"),
                )
            ).alias("pr"),
        )
        .filter((F.col("pr.w1") != "") & (F.col("pr.w2") != ""))
        .select(
            "doc_id",
            F.xxhash64("pr.w1").alias("h1"),
            F.xxhash64("pr.w1", "pr.w2").alias("h12"),
        )
    )
    # h12 determines h1 (no-collision assumption), so grouping by both
    # costs nothing extra and keeps the unigram key on the row
    big = pairs.groupBy("h1", "h12").agg(F.count(F.lit(1)).alias("c12"))
    uni = big.groupBy("h1").agg(F.sum("c12").alias("c1"))
    lm = big.join(uni, "h1").select(
        "h12", F.log2(F.col("c12").cast("double") / F.col("c1")).alias("lp")
    )
    docbi = pairs.groupBy("doc_id", "h12").agg(F.count(F.lit(1)).alias("n"))
    return (
        docbi.join(lm, "h12")
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_bigrams"),
            F.round(
                -F.sum((F.col("n") * F.col("lp")).cast("decimal(27,6)"))
                .cast("double")
                / F.sum("n"),
                6,
            ).alias("xent_bits"),
        )
    )


_PPL_BUCKETS_ORACLE = f"""
    WITH scored AS ({_XENT_SQL}),
    b AS (
        SELECT quantile_cont(xent_bits, 1.0/3) AS b1,
               quantile_cont(xent_bits, 2.0/3) AS b2
        FROM scored
    ),
    bucketed AS (
        SELECT CASE WHEN xent_bits <= b1 THEN 'head'
                    WHEN xent_bits <= b2 THEN 'middle'
                    ELSE 'tail' END AS bucket,
               n_bigrams, xent_bits
        FROM scored CROSS JOIN b
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_bigrams) AS BIGINT) AS n_bigrams,
           ROUND(CAST(SUM(CAST(xent_bits AS DECIMAL(27,6))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_xent_bits
    FROM bucketed
    GROUP BY bucket
    ORDER BY bucket
"""


@register(
    "llm_perplexity_buckets",
    oracle=_PPL_BUCKETS_ORACLE,
    tags=("llm", "lm", "quality"),
)
def llm_perplexity_buckets(spark, sf_dir):
    """CCNet's head/middle/tail split: documents are bucketed by
    perplexity terciles of the corpus distribution, the filter used to
    keep only the most-fluent third (or temperature-mix the tiers) of
    a web crawl. The tercile boundaries are ONE exact-percentile
    aggregate (model-sized result, broadcast back) and bucket
    assignment is a CASE — the scale-safe broadcast-boundary pattern
    from operators/ranking.py, never a global-sort ntile. Exact
    percentile ↔ quantile_cont agree bit-for-bit (agg_percentile_exact
    contract), and per-bucket means are decimal-summed."""
    scores = llm_perplexity_score(spark, sf_dir)
    third = 1.0 / 3
    b = scores.agg(
        F.percentile("xent_bits", third).alias("b1"),
        F.percentile("xent_bits", 2 * third).alias("b2"),
    )
    bucket = (
        F.when(F.col("xent_bits") <= F.col("b1"), "head")
        .when(F.col("xent_bits") <= F.col("b2"), "middle")
        .otherwise("tail")
    )
    return (
        scores.crossJoin(F.broadcast(b))
        .select(bucket.alias("bucket"), "n_bigrams", "xent_bits")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bigrams").alias("n_bigrams"),
            F.round(
                F.sum(F.col("xent_bits").cast("decimal(27,6)"))
                .cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_xent_bits"),
        )
        .orderBy("bucket")
    )


# -------------------------------------------------- event-sequence analytics
@register(
    "events_funnel",
    oracle="""
        WITH s1 AS (
            SELECT user_id, MIN(ts) AS t1 FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ),
        s2 AS (
            SELECT e.user_id, MIN(e.ts) AS t2
            FROM events e JOIN s1 ON e.user_id = s1.user_id
            WHERE e.event_type = 'click' AND e.ts > s1.t1
              AND e.ts <= s1.t1 + INTERVAL 24 HOUR
            GROUP BY e.user_id
        ),
        s3 AS (
            SELECT e.user_id, MIN(e.ts) AS t3
            FROM events e JOIN s2 ON e.user_id = s2.user_id
            WHERE e.event_type = 'purchase' AND e.ts > s2.t2
              AND e.ts <= s2.t2 + INTERVAL 24 HOUR
            GROUP BY e.user_id
        ),
        depth AS (
            SELECT u.user_id,
                   CASE WHEN s3.user_id IS NOT NULL THEN 3
                        WHEN s2.user_id IS NOT NULL THEN 2
                        WHEN s1.user_id IS NOT NULL THEN 1
                        ELSE 0 END AS funnel_depth
            FROM (SELECT DISTINCT user_id FROM events) u
            LEFT JOIN s1 ON u.user_id = s1.user_id
            LEFT JOIN s2 ON u.user_id = s2.user_id
            LEFT JOIN s3 ON u.user_id = s3.user_id
        )
        SELECT funnel_depth, COUNT(*) AS n_users
        FROM depth GROUP BY funnel_depth
    """,
    tags=("events", "funnel"),
)
def events_funnel(spark, sf_dir):
    """Ordered-sequence funnel (view → click → purchase, each next
    stage within 24 h of the previous): per user the earliest view, the
    earliest qualifying click after it, the earliest qualifying
    purchase after that — funnel depth is how many stages completed in
    order within the window, histogrammed over all users (the
    windowFunnel shape of event-analytics engines). Each stage is one
    filtered-aggregate plus an equi-join on user_id — N stages = N
    hash-partitioned passes, no per-user sorting, no UDF, and every
    stage's input shrinks to users still in the funnel."""
    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(
            (F.col("ts") > F.col("t1"))
            & (F.col("ts") <= F.col("t1") + F.expr("INTERVAL 24 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(
            (F.col("ts") > F.col("t2"))
            & (F.col("ts") <= F.col("t2") + F.expr("INTERVAL 24 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    users = ev.select("user_id").distinct()
    depth = (
        users.join(s1.select("user_id", F.lit(1).alias("_d1")), "user_id", "left")
        .join(s2.select("user_id", F.lit(1).alias("_d2")), "user_id", "left")
        .join(s3.select("user_id", F.lit(1).alias("_d3")), "user_id", "left")
        .select(
            "user_id",
            F.when(F.col("_d3").isNotNull(), 3)
            .when(F.col("_d2").isNotNull(), 2)
            .when(F.col("_d1").isNotNull(), 1)
            .otherwise(0)
            .alias("funnel_depth"),
        )
    )
    return depth.groupBy("funnel_depth").agg(F.count(F.lit(1)).alias("n_users"))


@register(
    "events_retention",
    oracle="""
        WITH first_day AS (
            SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
            FROM events GROUP BY user_id
        ),
        activity AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        ),
        cohort_size AS (
            SELECT cohort_day, COUNT(*) AS n_cohort
            FROM first_day GROUP BY cohort_day
        )
        SELECT f.cohort_day,
               CAST(date_diff('day', f.cohort_day, a.day) AS BIGINT)
                   AS day_offset,
               COUNT(DISTINCT a.user_id) AS n_active,
               ANY_VALUE(c.n_cohort) AS n_cohort,
               ROUND(CAST(COUNT(DISTINCT a.user_id) AS DOUBLE)
                     / ANY_VALUE(c.n_cohort), 4) AS retention
        FROM first_day f
        JOIN activity a ON f.user_id = a.user_id
        JOIN cohort_size c ON f.cohort_day = c.cohort_day
        WHERE date_diff('day', f.cohort_day, a.day) BETWEEN 0 AND 7
        GROUP BY f.cohort_day, date_diff('day', f.cohort_day, a.day)
    """,
    tags=("events", "retention"),
)
def events_retention(spark, sf_dir):
    """Cohort retention: users cohorted by first-activity day; for day
    offsets 0-7, the fraction of each cohort active that day — the
    standard retention triangle. Two aggregates (first day per user,
    distinct active days) plus one equi-join on user_id; cohort sizes
    broadcast back. All shuffles are on user_id or the model-sized
    (cohort_day, offset) key."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    first_day = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    activity = ev.distinct()
    cohort_size = first_day.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("n_cohort")
    )
    off = F.datediff(F.col("day"), F.col("cohort_day"))
    return (
        first_day.join(activity, "user_id")
        .filter((off >= 0) & (off <= 7))
        .select("cohort_day", off.cast("long").alias("day_offset"), "user_id")
        .groupBy("cohort_day", "day_offset")
        .agg(F.count_distinct("user_id").alias("n_active"))
        .join(F.broadcast(cohort_size), "cohort_day")
        .select(
            "cohort_day",
            "day_offset",
            "n_active",
            "n_cohort",
            F.round(
                F.col("n_active").cast("double") / F.col("n_cohort"), 4
            ).alias("retention"),
        )
    )


# -------------------------------------------------- web-corpus cleaning
# Documents are synthetic plain text, so the query plants deterministic
# markup around each doc (tags + entities keyed on doc_id), then strips
# it — the operator under test is the strip, and the oracle checks the
# sha256 of the cleaned text plus the removed-tag count. Regexes stay
# in the Java∩RE2 common dialect ('<[^>]+>' — no lookaround).
_HTML_TEXT = (
    "concat('<html><body data-id=\"', CAST(doc_id AS STRING), "
    "'\"><p>', text, '</p><br/>&amp;&nbsp;<a href=\"/d/', "
    "CAST(doc_id AS STRING), '\">next</a></body></html>')"
)
_TAG_RE = "<[^>]+>"


@register(
    "llm_html_strip",
    oracle=f"""
        WITH seeded AS (SELECT doc_id, {_HTML_TEXT} AS h FROM documents)
        SELECT doc_id,
               CAST(len(regexp_extract_all(h, '{_TAG_RE}')) AS BIGINT)
                   AS n_tags,
               sha256(replace(replace(
                   regexp_replace(h, '{_TAG_RE}', '', 'g'),
                   '&nbsp;', ' '), '&amp;', '&')) AS clean_sha
        FROM seeded
    """,
    tags=("llm", "cleaning"),
)
def llm_html_strip(spark, sf_dir):
    """Web-corpus markup removal: strip every HTML tag and decode the
    common entities — the first cleaning pass over scraped training
    text. Pure regexp_replace/replace projection (whole-stage codegen,
    no UDF, no shuffle); the oracle re-derives the identical cleaned
    text and hashes it, so the check is content-exact. The tag regex
    is the Java∩RE2 subset both engines parse identically."""
    docs = table(spark, sf_dir, "documents")
    seeded = docs.select("doc_id", F.expr(_HTML_TEXT).alias("h"))
    # &amp; decodes LAST: decoding it first would turn an escaped
    # '&amp;nbsp;' (visible text '&nbsp;') into a live entity the next
    # replace wrongly consumes — the classic double-decoding bug
    cleaned = F.replace(
        F.replace(
            F.regexp_replace("h", _TAG_RE, ""), F.lit("&nbsp;"), F.lit(" ")
        ),
        F.lit("&amp;"),
        F.lit("&"),
    )
    return seeded.select(
        "doc_id",
        F.size(F.regexp_extract_all("h", F.lit(_TAG_RE), F.lit(0)))
        .cast("long")
        .alias("n_tags"),
        F.sha2(cleaned, 256).alias("clean_sha"),
    )


# ------------------------------------------- quality rule filters
@register(
    "llm_gopher_rules",
    oracle="""
        WITH d AS (
            SELECT lang,
                   len(list_filter(string_split(text, ' '),
                       w -> len(w) > 0)) AS wc,
                   list_aggregate(list_transform(
                       list_filter(string_split(text, ' '), w -> len(w) > 0),
                       w -> len(w)), 'sum') AS total_wlen,
                   len(list_filter(string_split(text, ' '),
                       w -> regexp_matches(w, '[A-Za-z]'))) AS alpha_wc
            FROM documents
        ),
        r AS (
            SELECT lang,
                   (wc < 50 OR wc > 100000) AS fail_wc,
                   (CAST(total_wlen AS DOUBLE) / greatest(wc, 1) < 3.0
                    OR CAST(total_wlen AS DOUBLE) / greatest(wc, 1) > 10.0)
                       AS fail_wlen,
                   (CAST(alpha_wc AS DOUBLE) / greatest(wc, 1) < 0.8)
                       AS fail_alpha
            FROM d
        )
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN fail_wc THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_fail_wc,
               CAST(SUM(CASE WHEN fail_wlen THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_fail_wlen,
               CAST(SUM(CASE WHEN fail_alpha THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_fail_alpha,
               CAST(SUM(CASE WHEN NOT (fail_wc OR fail_wlen OR fail_alpha)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
        FROM r GROUP BY lang
    """,
    tags=("llm", "quality"),
)
def llm_gopher_rules(spark, sf_dir):
    """Gopher-style quality RULESET with per-rule fail accounting: word
    count in [50, 100000], mean word length in [3, 10], >=80% of words
    containing a letter (Rae et al. 2021, table A1 — the public rule
    set every web-corpus pipeline starts from). All three signals are
    array expressions over one split (whole-stage codegen, zero UDF,
    one agg shuffle); per-lang counts show which rule bites, which is
    what you tune before burning a 100 TB filter pass."""
    docs = table(spark, sf_dir, "documents")
    words = F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
    d = docs.select(
        "lang",
        F.size(words).alias("wc"),
        F.aggregate(
            F.transform(words, F.length), F.lit(0), lambda acc, v: acc + v
        ).alias("total_wlen"),
        # [A-Za-z], not [a-z]: all-caps words (acronyms, shouting) are
        # still alphabetic — the cited rule is "contains a letter"
        F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]"))).alias(
            "alpha_wc"
        ),
    )
    r = d.select(
        "lang",
        ((F.col("wc") < 50) | (F.col("wc") > 100000)).alias("fail_wc"),
        (
            # greatest(wc, 1): a word-free document (the exact junk this
            # filter exists to gate) must fail the rules, not abort the
            # query with an ANSI divide-by-zero
            (F.col("total_wlen").cast("double") / F.greatest(F.col("wc"), F.lit(1)) < 3.0)
            | (F.col("total_wlen").cast("double") / F.greatest(F.col("wc"), F.lit(1)) > 10.0)
        ).alias("fail_wlen"),
        (F.col("alpha_wc").cast("double") / F.greatest(F.col("wc"), F.lit(1)) < 0.8).alias(
            "fail_alpha"
        ),
    )
    return r.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("fail_wc"), 1).otherwise(0)).alias("n_fail_wc"),
        F.sum(F.when(F.col("fail_wlen"), 1).otherwise(0)).alias("n_fail_wlen"),
        F.sum(F.when(F.col("fail_alpha"), 1).otherwise(0)).alias(
            "n_fail_alpha"
        ),
        F.sum(
            F.when(
                ~(F.col("fail_wc") | F.col("fail_wlen") | F.col("fail_alpha")),
                1,
            ).otherwise(0)
        ).alias("n_pass"),
    )


# ---------------------------------------- time-series interpolation
@register(
    "ts_interpolate",
    oracle=f"""
        WITH pm AS (
            SELECT date_trunc('minute', ts) AS minute,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   {sql_davg("value", "v")}
            FROM events WHERE event_type = 'error' GROUP BY 1
        ),
        bounds AS (
            SELECT date_trunc('minute', MIN(ts)) AS lo,
                   date_trunc('minute', MAX(ts)) AS hi
            FROM events WHERE event_type = 'error'
        ),
        spine AS (
            SELECT UNNEST(generate_series(lo, hi, INTERVAL 1 MINUTE)) AS minute
            FROM bounds
        ),
        j AS (
            SELECT s.minute, pm.n_events, pm.v
            FROM spine s LEFT JOIN pm ON s.minute = pm.minute
        ),
        f AS (
            SELECT minute, n_events, v,
                   last_value(v IGNORE NULLS) OVER (
                       ORDER BY minute
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
                   last_value(CASE WHEN v IS NOT NULL THEN minute END
                              IGNORE NULLS) OVER (
                       ORDER BY minute
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
                   first_value(v IGNORE NULLS) OVER (
                       ORDER BY minute
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
                   first_value(CASE WHEN v IS NOT NULL THEN minute END
                               IGNORE NULLS) OVER (
                       ORDER BY minute
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
            FROM j
        )
        SELECT minute,
               COALESCE(n_events, 0) AS n_events,
               (n_events IS NOT NULL) AS observed,
               CASE WHEN v IS NOT NULL THEN v
                    WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                        pv + (nv - pv)
                        * (CAST(CAST(epoch(minute) AS BIGINT)
                                - CAST(epoch(pt) AS BIGINT) AS DOUBLE)
                           / CAST(CAST(epoch(nt) AS BIGINT)
                                  - CAST(epoch(pt) AS BIGINT) AS DOUBLE))
                    WHEN pv IS NOT NULL THEN pv
                    ELSE nv END AS v_interp
        FROM f
    """,
    tags=("timeseries",),
)
def ts_interpolate(spark, sf_dir):
    """Linear interpolation over the gap-filled per-minute 'error'
    series: minutes with no observation get prev + (next-prev) *
    elapsed-fraction; flat extrapolation at the edges. The neighbor
    lookups are IGNORE-NULLS running first/last over the spine — the
    spine is minutes-of-span sized (metadata-scale: one row per minute
    of history, NOT one per event), so the unpartitioned ordered window
    is a deliberate model-sized sort, the same trade ts_gapfill's spine
    join makes. Avg rides through decimal so both engines interpolate
    bit-identical doubles."""
    ev = table(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    per_min = ev.groupBy(F.date_trunc("minute", "ts").alias("minute")).agg(
        F.count(F.lit(1)).alias("n_events"), davg("value", "v")
    )
    spine = ev.agg(
        F.date_trunc("minute", F.min("ts")).alias("lo"),
        F.date_trunc("minute", F.max("ts")).alias("hi"),
    ).select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 MINUTE"))).alias(
            "minute"
        )
    )
    j = spine.join(per_min, "minute", "left")
    # Both neighbor lookups run as UNBOUNDED PRECEDING .. CURRENT ROW
    # frames — Spark's only *incremental* (O(n)) unbounded frame. The
    # "next" neighbor uses the same running-last over DESCENDING minute
    # order: `first ... CURRENT ROW AND UNBOUNDED FOLLOWING` is
    # semantically identical but executes O(n²) (the frame re-scans the
    # suffix per row; 55s vs <2s on the sf0.01 spine).
    w_prev = Window.orderBy("minute").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_next = Window.orderBy(F.desc("minute")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    known_min = F.when(F.col("v").isNotNull(), F.col("minute"))
    f = j.select(
        "minute",
        "n_events",
        "v",
        F.last("v", ignorenulls=True).over(w_prev).alias("pv"),
        F.last(known_min, ignorenulls=True).over(w_prev).alias("pt"),
        F.last("v", ignorenulls=True).over(w_next).alias("nv"),
        F.last(known_min, ignorenulls=True).over(w_next).alias("nt"),
    )
    frac = (
        (F.unix_timestamp("minute") - F.unix_timestamp("pt")).cast("double")
        / (F.unix_timestamp("nt") - F.unix_timestamp("pt")).cast("double")
    )
    return f.select(
        "minute",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.col("n_events").isNotNull().alias("observed"),
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(),
            F.col("pv") + (F.col("nv") - F.col("pv")) * frac,
        )
        .when(F.col("pv").isNotNull(), F.col("pv"))
        .otherwise(F.col("nv"))
        .alias("v_interp"),
    )


# --------------------------------------------- touch attribution
@register(
    "events_attribution",
    oracle=f"""
        WITH t AS (
            SELECT event_type, value,
                   last_value(CASE WHEN event_type IN ('view', 'click')
                                   THEN event_type END IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS touch_type
            FROM events
        )
        SELECT COALESCE(touch_type, 'none') AS touch_type,
               CAST(COUNT(*) AS BIGINT) AS n_purchases,
               {sql_dsum("value", "revenue")}
        FROM t WHERE event_type = 'purchase'
        GROUP BY 1
    """,
    tags=("events", "analytics"),
)
def events_attribution(spark, sf_dir):
    """Last-touch marketing attribution: each purchase is credited to
    the user's most recent prior view/click (or 'none' for cold
    conversions). One per-user ordered window (partitioned shuffle —
    scales with users, no global sort), IGNORE-NULLS last over a
    1-PRECEDING frame, then a 5-row aggregate. (ts, event_id) ordering
    makes the credited touch deterministic under timestamp ties."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    touch = F.last(
        F.when(F.col("event_type").isin("view", "click"), F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        ev.select("event_type", "value", touch.alias("touch_type"))
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("touch_type", F.lit("none")).alias("touch_type"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            dsum("value", "revenue"),
        )
    )


# ------------------------------------------------ BPE tokenizer train
def _bpe_rounds_cte(n_merges: int = 8) -> str:
    """Shared CTE chain replaying `n_merges` BPE training rounds in
    DuckDB: word-frequency table v0, then per round i — pair counts
    pc{i}, arg-max m{i} (count DESC, left, right), and the greedy
    left-to-right merge application as a recursive CTE rec{i}
    stepping every vocabulary word's symbol list (the same
    recursive-replay treatment llm_seq_pack's packing recurrence got
    in r9), yielding v{i}. No floats anywhere: exact integer/string
    algebra end-to-end. Reused by the train oracle (reads m1..mN) and
    the apply oracle (reads the final vocabulary vN)."""
    parts = [
        """
        WITH RECURSIVE words AS (
            SELECT w AS word
            FROM documents, UNNEST(string_split(text, ' ')) AS t(w)
            WHERE len(w) > 0
        ),
        v0 AS MATERIALIZED (
            SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
                   string_split(word, '') AS syms
            FROM words GROUP BY word
        )"""
    ]
    for i in range(1, n_merges + 1):
        parts.append(
            f""",
        pc{i} AS MATERIALIZED (
            SELECT syms[t.i] AS l, syms[t.i + 1] AS r, SUM(freq) AS w
            FROM v{i - 1}, UNNEST(range(1, len(syms))) AS t(i)
            GROUP BY 1, 2
        ),
        m{i} AS MATERIALIZED (
            SELECT l, r, l || r AS merged, CAST(w AS BIGINT) AS w
            FROM pc{i} ORDER BY w DESC, l, r LIMIT 1
        ),
        rec{i} AS (
            SELECT word, freq, syms, 1 AS pos,
                   CAST([] AS VARCHAR[]) AS out
            FROM v{i - 1}
            UNION ALL
            SELECT v.word, v.freq, v.syms,
                   CASE WHEN v.pos + 1 <= len(v.syms)
                             AND v.syms[v.pos] = m.l
                             AND v.syms[v.pos + 1] = m.r
                        THEN v.pos + 2 ELSE v.pos + 1 END,
                   CASE WHEN v.pos + 1 <= len(v.syms)
                             AND v.syms[v.pos] = m.l
                             AND v.syms[v.pos + 1] = m.r
                        THEN list_append(v.out, m.merged)
                        ELSE list_append(v.out, v.syms[v.pos]) END
            FROM rec{i} v, m{i} m WHERE v.pos <= len(v.syms)
        ),
        v{i} AS MATERIALIZED (
            SELECT word, freq, out AS syms
            FROM rec{i} WHERE pos > len(syms)
        )"""
        )
    return "".join(parts)


def _bpe_train_oracle(n_merges: int = 8) -> str:
    """DuckDB oracle for llm_bpe_train (upgraded from rows-only in
    r10): the merge loop is DETERMINISTIC, so the n_merges rounds
    unroll into the shared CTE chain (_bpe_rounds_cte) and the oracle
    reads the per-round arg-max rows m1..mN."""
    finals = "\n            UNION ALL ".join(
        f'SELECT {i - 1} AS rank, l AS "left", r AS "right", merged, '
        f"w AS pair_freq FROM m{i}"
        for i in range(1, n_merges + 1)
    )
    return (
        _bpe_rounds_cte(n_merges)
        + f"""
        SELECT * FROM (
            {finals}
        ) ORDER BY rank"""
    )


def _bpe_apply_oracle(n_merges: int = 8) -> str:
    """DuckDB oracle for llm_bpe_apply (upgraded from rows-only in
    r10): replays training via the shared CTE chain, takes each
    vocabulary word's final token count from the last round's state
    v{n_merges} (len(syms) — the encode of a word IS its training-time
    final segmentation, since both apply the same merges in rank
    order), rebuilds per-doc word/token totals by exploding the
    corpus against that token table, and aggregates per lang with the
    same decimal/round lowering as the Spark side."""
    n = n_merges
    return (
        _bpe_rounds_cte(n)
        + f""",
        tok AS MATERIALIZED (
            SELECT word, len(syms) AS tlen FROM v{n}
        ),
        docw AS (
            SELECT d.doc_id, w.w AS word
            FROM documents d,
                 UNNEST(string_split(d.text, ' ')) AS w(w)
            WHERE len(w.w) > 0
        ),
        per_doc AS MATERIALIZED (
            SELECT dw.doc_id, COUNT(*) AS n_words,
                   SUM(t.tlen) AS n_tokens
            FROM docw dw JOIN tok t ON t.word = dw.word
            GROUP BY dw.doc_id
        )
        SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(COALESCE(p.n_words, 0)) AS BIGINT) AS total_words,
               CAST(SUM(COALESCE(p.n_tokens, 0)) AS BIGINT)
                   AS total_tokens,
               ROUND(CAST(SUM(CAST(d.n_chars AS DECIMAL(27,6)))
                          AS DOUBLE)
                     / SUM(p.n_tokens), 6) AS chars_per_token
        FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
        GROUP BY d.lang"""
    )


@register(
    "llm_bpe_train", oracle=_bpe_train_oracle(), tags=("llm", "tokenizer")
)
def llm_bpe_train(spark, sf_dir):
    """BPE tokenizer training (8 merges) over the document corpus —
    Sennrich et al. 2016, the public subword algorithm production
    tokenizers descend from. One corpus pass builds the word-frequency
    table; every merge iteration then runs on the vocabulary-sized
    distinct-word table with only the arg-max pair (ONE row) crossing
    the driver (operators/bpe.py). Hash-oracled since r10: the merge
    loop is deterministic integer/string algebra, so DuckDB replays
    all 8 rounds — pair counts, arg-max tie-breaks, and the greedy
    left-to-right merge application via recursive CTEs
    (_bpe_train_oracle); the sequence is ALSO pinned against a
    pure-Python reference implementation in tests."""
    from opusdb_spark.operators import bpe

    merges = bpe.bpe_train(table(spark, sf_dir, "documents"), n_merges=8)
    return spark.createDataFrame(
        merges,
        "rank int, left string, right string, merged string, pair_freq long",
    )


def _bpe_batched_oracle(n_merges: int = 32, per_pass: int = 8,
                        max_passes: int = 10) -> str:
    """DuckDB oracle for llm_bpe_train_batched (upgraded from
    rows-only in r10): each pass replays as (a) pair counts, (b) the
    ranked 4k-candidate head (k DYNAMIC per pass — min(per_pass,
    merges remaining), exactly bpe_train's loop arithmetic, via a
    scalar-subquery rank bound), (c) the GREEDY DISJOINT-PREFIX
    selection as a recursive CTE walking the ranked list with a
    used-symbol accumulator (bpe._disjoint_prefix's exact contract:
    skip any pair touching a used left/right/merged symbol, stop at k
    picks), and (d) the in-order application of the picked pairs as
    ONE recursive CTE chaining per-word sweeps (pair i's sweep starts
    from pair i-1's output — the same sequential semantics as
    bpe._merge_udf). Integer/string algebra only. `max_passes` passes
    are unrolled; passes replay as no-ops once n_merges merges are
    committed (k = 0), mirroring the trainer's while-loop, so
    underfull batches (a real occurrence: pass 1 commits 7 on the
    sf0.01 corpus — the 32-candidate head yields only 7 disjoint
    picks) shift pass boundaries identically in both engines."""
    ok = (
        "NOT (list_contains(s.used, b.l) OR list_contains(s.used, b.r)"
        " OR list_contains(s.used, b.l || b.r))"
    )
    parts = [
        """
        WITH RECURSIVE words AS (
            SELECT w AS word
            FROM documents, UNNEST(string_split(text, ' ')) AS t(w)
            WHERE len(w) > 0
        ),
        u0 AS MATERIALIZED (
            SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
                   string_split(word, '') AS syms
            FROM words GROUP BY word
        )"""
    ]
    done = "0"
    for p in range(1, max_passes + 1):
        parts.append(
            f""",
        kk{p} AS MATERIALIZED (
            SELECT LEAST({per_pass}, {n_merges} - ({done})) AS k
        ),
        bpc{p} AS MATERIALIZED (
            SELECT syms[t.i] AS l, syms[t.i + 1] AS r, SUM(freq) AS w
            FROM u{p - 1}, UNNEST(range(1, len(syms))) AS t(i)
            GROUP BY 1, 2
        ),
        brk{p} AS MATERIALIZED (
            SELECT * FROM (
                SELECT l, r, CAST(w AS BIGINT) AS w,
                       ROW_NUMBER() OVER (ORDER BY w DESC, l, r) AS rn
                FROM bpc{p}
            ) WHERE rn <= 4 * (SELECT k FROM kk{p})
        ),
        bsel{p} AS (
            SELECT 0 AS rn, 0 AS n,
                   CAST([] AS VARCHAR[]) AS used,
                   CAST([] AS VARCHAR[]) AS pl,
                   CAST([] AS VARCHAR[]) AS pr,
                   CAST([] AS BIGINT[]) AS pw
            UNION ALL
            SELECT b.rn,
                   CASE WHEN {ok} THEN s.n + 1 ELSE s.n END,
                   CASE WHEN {ok}
                        THEN s.used || [b.l, b.r, b.l || b.r]
                        ELSE s.used END,
                   CASE WHEN {ok} THEN s.pl || [b.l] ELSE s.pl END,
                   CASE WHEN {ok} THEN s.pr || [b.r] ELSE s.pr END,
                   CASE WHEN {ok} THEN s.pw || [b.w] ELSE s.pw END
            FROM bsel{p} s JOIN brk{p} b ON b.rn = s.rn + 1
            WHERE s.n < (SELECT k FROM kk{p})
        ),
        bfin{p} AS MATERIALIZED (
            SELECT n, pl, pr, pw FROM bsel{p}
            ORDER BY rn DESC LIMIT 1
        ),
        brec{p} AS (
            SELECT word, freq, syms, 1 AS pi, 1 AS pos,
                   CAST([] AS VARCHAR[]) AS out
            FROM u{p - 1}
            UNION ALL
            SELECT v.word, v.freq,
                   CASE WHEN v.pos <= len(v.syms) THEN v.syms
                        ELSE v.out END,
                   CASE WHEN v.pos <= len(v.syms) THEN v.pi
                        ELSE v.pi + 1 END,
                   CASE WHEN v.pos > len(v.syms) THEN 1
                        WHEN v.pos + 1 <= len(v.syms)
                             AND v.syms[v.pos] = m.pl[v.pi]
                             AND v.syms[v.pos + 1] = m.pr[v.pi]
                        THEN v.pos + 2 ELSE v.pos + 1 END,
                   CASE WHEN v.pos > len(v.syms)
                        THEN CAST([] AS VARCHAR[])
                        WHEN v.pos + 1 <= len(v.syms)
                             AND v.syms[v.pos] = m.pl[v.pi]
                             AND v.syms[v.pos + 1] = m.pr[v.pi]
                        THEN list_append(v.out, m.pl[v.pi] || m.pr[v.pi])
                        ELSE list_append(v.out, v.syms[v.pos]) END
            FROM brec{p} v, bfin{p} m WHERE v.pi <= m.n
        ),
        u{p} AS MATERIALIZED (
            SELECT word, freq, syms FROM brec{p}
            WHERE pi > (SELECT n FROM bfin{p})
        )"""
        )
        done += f" + (SELECT n FROM bfin{p})"
    offs = "0"
    finals = []
    for p in range(1, max_passes + 1):
        finals.append(
            f"""SELECT {offs} + u.i - 1 AS rank,
                   f.pl[u.i] AS "left", f.pr[u.i] AS "right",
                   f.pl[u.i] || f.pr[u.i] AS merged,
                   f.pw[u.i] AS pair_freq
            FROM bfin{p} f, UNNEST(range(1, f.n + 1)) AS u(i)"""
        )
        offs += f" + (SELECT n FROM bfin{p})"
    parts.append(
        "\n        SELECT * FROM (\n            "
        + "\n            UNION ALL ".join(finals)
        + "\n        ) ORDER BY rank"
    )
    return "".join(parts)


@register(
    "llm_bpe_train_batched",
    oracle=_bpe_batched_oracle(),
    tags=("llm", "tokenizer"),
)
def llm_bpe_train_batched(spark, sf_dir):
    """BATCHED BPE training — the 100 TB variant of llm_bpe_train
    (operators/bpe.py module docstring #2): each pair-count job commits
    up to 8 symbol-disjoint merges (their counts are invariant under
    each other, so the batch is exact w.r.t. the pre-batch statistics),
    cutting driver round-trips ~8× — the difference between 32k jobs
    and 4k jobs at a real tokenizer vocabulary. 32 merges in ~4 passes
    here; rows-only (iterative), batch-equivalence and disjointness
    pinned in tests."""
    from opusdb_spark.operators import bpe

    merges = bpe.bpe_train(
        table(spark, sf_dir, "documents"), n_merges=32, merges_per_pass=8
    )
    return spark.createDataFrame(
        merges,
        "rank int, left string, right string, merged string, pair_freq long",
    )


# ------------------------------------------ robust (MAD) outliers
@register(
    "events_anomaly_mad",
    oracle="""
        WITH med AS (
            SELECT event_type, quantile_cont(value, 0.5) AS med
            FROM events GROUP BY event_type
        ),
        mad AS (
            SELECT e.event_type,
                   quantile_cont(ABS(e.value - m.med), 0.5) AS mad
            FROM events e JOIN med m USING (event_type)
            GROUP BY e.event_type
        )
        SELECT e.event_id, e.event_type, e.value,
               round(0.6745 * (e.value - m.med) / d.mad, 6)
                   AS robust_z
        FROM events e
        JOIN med m USING (event_type)
        JOIN mad d USING (event_type)
        WHERE d.mad <> 0
          AND ABS(0.6745 * (e.value - m.med) / d.mad) > 3.5
    """,
    tags=("quality", "outlier"),
)
def events_anomaly_mad(spark, sf_dir):
    """Robust outlier detection via median absolute deviation (the
    Iglewicz-Hoaglin modified z-score, |0.6745·(x−med)/MAD| > 3.5) —
    the detector events_zscore_outliers' mean/stddev version breaks on:
    heavy-tailed value distributions drag the mean toward the outliers
    they hide. Two exact-percentile aggregations (per-type medians are
    bounded-group exact percentiles, same contract as
    agg_percentile_exact) and the per-type stats broadcast back onto
    the event scan — at 100 TB the scan dominates, the medians are
    per-group model-sized."""
    ev = table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("med")
    )
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.percentile(F.abs(F.col("value") - F.col("med")), 0.5).alias(
                "mad"
            )
        )
    )
    z = 0.6745 * (F.col("value") - F.col("med")) / F.col("mad")
    return (
        ev.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        # mad == 0 (at least half the group equals the median — e.g. a
        # constant-valued metric) is filtered BEFORE the division: no
        # robust z is defined there, and under ANSI mode the bare
        # division would abort the whole query
        .filter(F.col("mad") != 0)
        .select(
            "event_id",
            "event_type",
            "value",
            F.round(z, 6).alias("robust_z"),
        )
        .filter(F.abs(z) > 3.5)
    )


# ------------------------------------- temperature-weighted mixing
@register(
    "llm_temperature_mix",
    oracle="""
        WITH s AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n
            FROM documents GROUP BY source
        ),
        g AS (
            SELECT CAST(SUM(sqrt(CAST(n AS DOUBLE))) AS DOUBLE) AS tot_sw,
                   CAST(SUM(n) AS BIGINT) AS total
            FROM s
        ),
        t AS (
            SELECT s.source, s.n,
                   LEAST(CAST(FLOOR((g.total // 2)
                         * (sqrt(CAST(s.n AS DOUBLE)) / g.tot_sw))
                         AS BIGINT), s.n) AS target
            FROM s CROSS JOIN g
        ),
        r AS (
            SELECT source, doc_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY md5(concat('tmix', CAST(doc_id AS STRING))))
                       AS rn
            FROM documents
        )
        SELECT t.source, t.n AS n_source, t.target,
               CAST(SUM(CASE WHEN r.rn <= t.target THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_kept,
               MIN(CASE WHEN r.rn <= t.target THEN r.doc_id END)
                   AS first_kept
        FROM r JOIN t ON r.source = t.source
        GROUP BY t.source, t.n, t.target
    """,
    tags=("llm", "pipeline", "mixing"),
)
def llm_temperature_mix(spark, sf_dir):
    """Temperature-weighted source mixing (α=0.5): sampling weights
    n_i^α / Σ n_j^α up-weight small sources relative to proportional
    sampling — the standard multilingual/multi-source rebalance (e.g.
    the mixing rule in multilingual pretraining corpora). Per-source
    targets come from ONE 2-value broadcast (Σ√n, Σn); selection is a
    deterministic md5-ranked top-target per source, so both engines and
    any partitioning pick the IDENTICAL documents (first_kept pins
    membership, not just counts). α=0.5 → sqrt: bit-identical across
    engines."""
    docs = table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    g = s.agg(
        F.sum(F.sqrt(F.col("n").cast("double"))).alias("tot_sw"),
        F.sum("n").cast("bigint").alias("total"),
    )
    t = s.crossJoin(F.broadcast(g)).select(
        "source",
        "n",
        F.least(
            F.floor(
                F.expr("total div 2")
                * (F.sqrt(F.col("n").cast("double")) / F.col("tot_sw"))
            ).cast("bigint"),
            F.col("n"),
        ).alias("target"),
    )
    w = Window.partitionBy("source").orderBy(
        F.md5(F.concat(F.lit("tmix"), F.col("doc_id").cast("string")))
    )
    r = docs.select("source", "doc_id", F.row_number().over(w).alias("rn"))
    kept = F.col("rn") <= F.col("target")
    return (
        r.join(t, "source")
        .groupBy("source", F.col("n").alias("n_source"), "target")
        .agg(
            F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("n_kept"),
            F.min(F.when(kept, F.col("doc_id"))).alias("first_kept"),
        )
    )


# --------------------------------------------- co-purchase analysis
@register(
    "basket_copurchase_lift",
    oracle="""
        WITH items AS (
            SELECT DISTINCT l_orderkey AS okey, l_partkey AS part
            FROM lineitem
        ),
        n_orders AS (
            SELECT CAST(COUNT(DISTINCT okey) AS BIGINT) AS n FROM items
        ),
        freq AS (
            SELECT part, CAST(COUNT(*) AS BIGINT) AS n_part
            FROM items GROUP BY part
        ),
        pairs AS (
            SELECT a.part AS part_a, b.part AS part_b,
                   CAST(COUNT(*) AS BIGINT) AS n_both
            FROM items a JOIN items b
              ON a.okey = b.okey AND a.part < b.part
            GROUP BY a.part, b.part
        )
        SELECT part_a, part_b, n_both,
               round((CAST(n_both AS DOUBLE) * n.n)
                     / (fa.n_part * fb.n_part), 6) AS lift
        FROM pairs
        JOIN freq fa ON fa.part = part_a
        JOIN freq fb ON fb.part = part_b
        CROSS JOIN n_orders n
        WHERE n_both >= 2
    """,
    tags=("analytics", "basket"),
)
def basket_copurchase_lift(spark, sf_dir):
    """Market-basket co-purchase analysis: part pairs bought in the
    same order, scored by lift = P(a,b)/(P(a)·P(b)). The pair join is
    keyed on the ORDER (baskets are small — TPC-H ~4 items/order — so
    the per-order pair fan-out is bounded ~n²≈16, never corpus
    quadratic); item frequencies broadcast back onto the pair counts.
    The n_both >= 2 support floor is what keeps the result
    recommendation-grade instead of noise."""
    li = table(spark, sf_dir, "lineitem")
    items = li.select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("part")
    ).distinct()
    n_orders = items.agg(
        F.countDistinct("okey").cast("bigint").alias("n")
    )
    freq = items.groupBy("part").agg(F.count(F.lit(1)).alias("n_part"))
    a = items.select("okey", F.col("part").alias("part_a"))
    b = items.select("okey", F.col("part").alias("part_b"))
    pairs = (
        a.join(b, "okey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= 2)
    )
    fa = freq.select(F.col("part").alias("part_a"), F.col("n_part").alias("na"))
    fb = freq.select(F.col("part").alias("part_b"), F.col("n_part").alias("nb"))
    lift = (F.col("n_both").cast("double") * F.col("n")) / (
        F.col("na") * F.col("nb")
    )
    return (
        pairs.join(F.broadcast(fa), "part_a")
        .join(F.broadcast(fb), "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a", "part_b", "n_both", F.round(lift, 6).alias("lift")
        )
    )


@register(
    "llm_bpe_apply", oracle=_bpe_apply_oracle(), tags=("llm", "tokenizer")
)
def llm_bpe_apply(spark, sf_dir):
    """BPE ENCODE: apply the corpus-trained merge sequence back to the
    corpus and report per-lang token statistics — the train→apply loop
    every tokenizer pipeline runs. The merge table (model-sized) rides
    in the UDF closure; one Arrow pass, one agg shuffle. Compression =
    chars per BPE token, the number a tokenizer is judged by.
    Hash-oracled since r10: DuckDB replays training via the shared
    recursive-CTE chain and re-derives every word's token count from
    the final vocabulary state (encode ≡ training-time segmentation,
    both applying the same merges in rank order — _bpe_apply_oracle);
    the encode is also pinned against a pure-Python reference in
    tests."""
    from opusdb_spark.operators import bpe

    docs = table(spark, sf_dir, "documents")
    merges = bpe.bpe_train(docs, n_merges=8)
    toks = bpe.bpe_apply(docs, merges)
    return toks.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("total_words"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.round(
            F.sum(F.col("n_chars").cast("decimal(27,6)")).cast("double")
            / F.sum("n_tokens"),
            6,
        ).alias("chars_per_token"),
    )


# ------------------------------------------------ RFM segmentation
@register(
    "events_rfm_segments",
    oracle="""
        WITH p AS (
            SELECT user_id,
                   MAX(ts) AS last_ts,
                   CAST(COUNT(*) AS BIGINT) AS freq,
                   CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE)
                       AS monetary
            FROM events WHERE event_type = 'purchase'
            GROUP BY user_id
        ),
        seg AS (
            SELECT user_id, freq, monetary,
                   NTILE(4) OVER (ORDER BY last_ts DESC, user_id) AS r_seg,
                   NTILE(4) OVER (ORDER BY freq DESC, user_id) AS f_seg,
                   NTILE(4) OVER (ORDER BY monetary DESC, user_id) AS m_seg
            FROM p
        )
        SELECT r_seg, f_seg, m_seg,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(CAST(monetary AS DECIMAL(27,6))) AS DOUBLE)
                   AS segment_revenue
        FROM seg GROUP BY 1, 2, 3
    """,
    tags=("analytics", "rfm"),
)
def events_rfm_segments(spark, sf_dir):
    """RFM customer segmentation: per-user recency/frequency/monetary
    quartiles (exact NTILE(4) with (metric, user_id) total order so
    quartile boundaries are deterministic), rolled up to segment sizes
    + revenue. The per-user aggregate shuffles once on user_id; the
    three quartile assignments run through the distributed exact-NTILE
    operator (operators/ranking.py) — unlike a bare
    `ntile(4).over(Window.orderBy(...))`, which would serialize the
    whole purchasers table (10⁸-10⁹ rows at 100 TB) through ONE task,
    this buckets each metric by literal approx-percentile split points
    (one model-sized probe aggregate for all three metrics), ranks in
    parallel inside buckets, and corrects with a ≤32-row broadcast
    offset join. Bit-identical to the oracle's NTILE, no
    single-partition whole-data exchange (pinned in test_plans.py)."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    p = ev.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).alias("freq"),
        dsum("value", "monetary"),
    )
    seg = with_global_ntiles(
        p,
        [
            # split cols are monotone numeric coarsenings of the
            # leading key (seconds for the timestamp; double for the
            # decimal) — ties share a bucket, the in-bucket window's
            # (metric, user_id) tie-break keeps the rank exact.
            (
                "r_seg",
                [F.desc("last_ts"), F.asc("user_id")],
                F.unix_timestamp("last_ts"),
                True,
            ),
            ("f_seg", [F.desc("freq"), F.asc("user_id")], F.col("freq"), True),
            (
                "m_seg",
                [F.desc("monetary"), F.asc("user_id")],
                F.col("monetary").cast("double"),
                True,
            ),
        ],
        n=4,
    )
    return seg.groupBy("r_seg", "f_seg", "m_seg").agg(
        F.count(F.lit(1)).alias("n_users"),
        dsum("monetary", "segment_revenue"),
    )


# --------------------------------------------- behavior transitions
@register(
    "events_markov_transitions",
    oracle="""
        WITH seq AS (
            SELECT event_type AS src,
                   LEAD(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS dst
            FROM events
        ),
        c AS (
            SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
            FROM seq WHERE dst IS NOT NULL GROUP BY src, dst
        ),
        tot AS (
            SELECT src, CAST(SUM(n) AS BIGINT) AS n_src FROM c GROUP BY src
        )
        SELECT c.src, c.dst, c.n,
               round(CAST(c.n AS DOUBLE) / t.n_src, 6) AS p
        FROM c JOIN tot t ON c.src = t.src
    """,
    tags=("analytics", "markov"),
)
def events_markov_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences: P(next=dst | current=src), estimated from every adjacent
    pair in (ts, event_id) order. One per-user window shuffle + two
    5×5-sized aggregations (the matrix is |event_types|² — model-sized
    at any corpus scale); row-normalized so each src row sums to 1.
    The behavioral model funnel/retention queries implicitly assume,
    made explicit."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    c = seq.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    tot = c.groupBy("src").agg(F.sum("n").cast("bigint").alias("n_src"))
    return c.join(F.broadcast(tot), "src").select(
        "src",
        "dst",
        "n",
        F.round(F.col("n").cast("double") / F.col("n_src"), 6).alias("p"),
    )


# ------------------------------------------------ DAU/WAU engagement
@register(
    "events_dau_wau",
    oracle="""
        WITH ud AS (
            SELECT DISTINCT user_id,
                   CAST(date_trunc('day', ts) AS DATE) AS d
            FROM events
        ),
        spine AS (SELECT DISTINCT d FROM ud),
        wau_j AS (
            SELECT s.d, ud.user_id
            FROM spine s JOIN ud
              ON ud.d BETWEEN s.d - INTERVAL 6 DAY AND s.d
        ),
        m AS (
            SELECT d, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
            FROM wau_j GROUP BY d
        ),
        dau_m AS (
            SELECT d, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY d
        )
        SELECT m.d, dau_m.dau, m.wau,
               round(CAST(dau_m.dau AS DOUBLE) / m.wau, 6) AS stickiness
        FROM m JOIN dau_m ON m.d = dau_m.d
    """,
    tags=("analytics", "engagement"),
)
def events_dau_wau(spark, sf_dir):
    """DAU / trailing-7-day WAU / stickiness (DAU÷WAU) per day — the
    engagement triple every product warehouse reports. Built from the
    DISTINCT (user, day) table (one dedup shuffle, |users|×|days|
    bounded), with the WAU window as a broadcast day-spine range join
    (≤7× fan-out of user-days, never a count-distinct-over-range
    window, which Spark cannot express and a 100 TB engine shouldn't
    want). WAU is never below DAU by construction."""
    ev = table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("d")
    ).distinct()
    spine = ud.select("d").distinct()
    wau = (
        F.broadcast(spine.withColumnRenamed("d", "sd"))
        .join(
            ud,
            (F.col("d") >= F.date_sub(F.col("sd"), 6))
            & (F.col("d") <= F.col("sd")),
        )
        .groupBy("sd")
        .agg(F.countDistinct("user_id").cast("bigint").alias("wau"))
    )
    dau = ud.groupBy("d").agg(F.count(F.lit(1)).cast("bigint").alias("dau"))
    return (
        dau.join(wau, dau["d"] == wau["sd"])
        .select(
            "d",
            "dau",
            "wau",
            F.round(F.col("dau").cast("double") / F.col("wau"), 6).alias(
                "stickiness"
            ),
        )
    )


# ------------------------------------------------- path analysis
@register(
    "events_path_analysis",
    oracle="""
        WITH seq AS (
            SELECT event_type AS e1,
                   LEAD(event_type, 1) OVER w AS e2,
                   LEAD(event_type, 2) OVER w AS e3
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT e1, e2, e3, CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE e3 IS NOT NULL
        GROUP BY e1, e2, e3
        ORDER BY n DESC, e1, e2, e3 LIMIT 20
    """,
    tags=("analytics", "paths"),
)
def events_path_analysis(spark, sf_dir):
    """Top-20 most-travelled 3-step event paths across all users — the
    path-analysis query behind funnel DISCOVERY (events_funnel checks a
    known path; this finds which paths exist). One per-user ordered
    window emitting both leads, a |event_types|³-bounded aggregation,
    TakeOrdered for the top-k. Deterministic tie-break on the path
    itself."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    return (
        seq.groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "e1", "e2", "e3")
        .limit(20)
    )


# ------------------------------------------ Holt linear-trend backtest
# The next rung above the seasonal-naive baseline: double exponential
# smoothing (level + trend recurrences) trained on days 0-20, forecast
# days 21-27. Smoothing constants are EXACT binary fractions (α=0.5,
# β=0.25 → 1−α=0.5, 1−β=0.75), so every recurrence step is the same
# IEEE double arithmetic in any engine — the same replay property the
# EWMA oracle proved — and a recursive CTE steps the identical state.
# The recurrences run over the complete day spine (gap days are 0.0 in
# both engines), so the sequence index is dense and the recursion's
# t+1 join is exact.
_HOLT_ORACLE = """
    WITH RECURSIVE daily AS (
        SELECT event_type,
               datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
                   AS day_idx,
               CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS s
        FROM events
        WHERE CAST(ts AS DATE) >= DATE '2024-01-01'
        GROUP BY 1, 2
    ),
    spine AS (
        SELECT t.event_type, CAST(d.d AS INT) AS day_idx
        FROM (SELECT DISTINCT event_type FROM daily) t
        CROSS JOIN (SELECT UNNEST(range(0, 28)) AS d) d
    ),
    filled AS (
        SELECT sp.event_type, sp.day_idx, COALESCE(da.s, 0.0) AS y
        FROM spine sp
        LEFT JOIN daily da
          ON da.event_type = sp.event_type
         AND da.day_idx = sp.day_idx
    ),
    rec AS (
        SELECT f0.event_type, 0 AS t, f0.y AS l, f1.y - f0.y AS b
        FROM filled f0
        JOIN filled f1 ON f1.event_type = f0.event_type
                    AND f1.day_idx = 1
        WHERE f0.day_idx = 0
        UNION ALL
        SELECT r.event_type, r.t + 1,
               0.5 * f.y + 0.5 * (r.l + r.b),
               0.25 * ((0.5 * f.y + 0.5 * (r.l + r.b)) - r.l)
                   + 0.75 * r.b
        FROM rec r
        JOIN filled f ON f.event_type = r.event_type
                   AND f.day_idx = r.t + 1
        WHERE r.t < 20
    ),
    state AS (
        SELECT rec.event_type, rec.l AS level, rec.b AS trend,
               f20.y AS y_last
        FROM rec
        JOIN filled f20 ON f20.event_type = rec.event_type
                     AND f20.day_idx = 20
        WHERE rec.t = 20
    ),
    test AS (
        SELECT event_type, day_idx, y AS actual
        FROM filled WHERE day_idx BETWEEN 21 AND 27
    )
    SELECT t.event_type,
           ROUND(s.level, 6) AS level,
           ROUND(s.trend, 6) AS trend,
           ROUND(CAST(SUM(CAST(ROUND(ABS(
                     (s.level + CAST(t.day_idx - 20 AS DOUBLE) * s.trend)
                     - t.actual), 9) AS DECIMAL(27,12))) AS DOUBLE)
                 / COUNT(*), 6) AS holt_mae,
           ROUND(CAST(SUM(CAST(ROUND(ABS(s.y_last - t.actual), 9)
                 AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*), 6)
               AS naive_mae
    FROM test t
    JOIN state s ON s.event_type = t.event_type
    GROUP BY 1, s.level, s.trend
    ORDER BY 1
"""


@register(
    "events_forecast_holt", oracle=_HOLT_ORACLE, tags=("events", "timeseries")
)
def events_forecast_holt(spark, sf_dir):
    """Holt linear-trend (double exponential smoothing) backtest per
    event type: level/trend recurrences trained on daily revenue days
    0-20, forecast days 21-27, MAE next to the last-value persistence
    baseline — the first real forecaster above events_forecast_snaive,
    and like it a hash-exact cross-engine query.

    Scale shape: the fact table collapses to the model-sized daily
    series (one decimal-fold groupBy — the only corpus-scale work);
    the inherently-sequential recurrence runs per type over 21 points
    inside applyInPandas (same grouped-recurrence shape as udaf_ewma),
    and the error rollup is decimal-fold SQL over the 7-day holdout.
    Exact-binary smoothing constants (α=1/2, β=1/4) make every
    recurrence step identical IEEE arithmetic in any engine, so the
    DuckDB recursive CTE replays the state bit-for-bit."""
    import pandas as pd

    ev = (
        table(spark, sf_dir, "events")
        .filter(F.to_date("ts") >= F.lit("2024-01-01").cast("date"))
        .select(
            "event_type",
            F.datediff(
                F.to_date("ts"), F.lit("2024-01-01").cast("date")
            ).alias("day_idx"),
            "value",
        )
    )
    daily = ev.groupBy("event_type", "day_idx").agg(
        F.sum(F.col("value").cast("decimal(27,6)")).cast("double").alias("s")
    )
    types = daily.select("event_type").distinct()
    spine = types.crossJoin(
        F.broadcast(
            spark.range(0, 28).select(F.col("id").cast("int").alias("day_idx"))
        )
    )
    full = spine.join(daily, ["event_type", "day_idx"], "left").select(
        "event_type", "day_idx", F.coalesce("s", F.lit(0.0)).alias("y")
    )

    def holt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day_idx")
        y = pdf["y"].to_list()  # python floats == the column's doubles
        l, b = y[0], y[1] - y[0]
        for t in range(1, 21):
            l_new = 0.5 * y[t] + 0.5 * (l + b)
            b = 0.25 * (l_new - l) + 0.75 * b
            l = l_new
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "level": [l],
                "trend": [b],
                "y_last": [y[20]],
            }
        )

    state = (
        full.filter(F.col("day_idx") <= 20)
        .groupBy("event_type")
        .applyInPandas(
            holt,
            "event_type string, level double, trend double, y_last double",
        )
    )
    test = full.filter(F.col("day_idx").between(21, 27)).select(
        "event_type", "day_idx", F.col("y").alias("actual")
    )
    yhat = F.col("level") + (F.col("day_idx") - 20).cast("double") * F.col(
        "trend"
    )
    return (
        test.join(F.broadcast(state), "event_type")
        .groupBy("event_type", "level", "trend")
        .agg(
            F.round(
                F.sum(
                    F.round(F.abs(yhat - F.col("actual")), 9).cast(
                        "decimal(27,12)"
                    )
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("holt_mae"),
            F.round(
                F.sum(
                    F.round(
                        F.abs(F.col("y_last") - F.col("actual")), 9
                    ).cast("decimal(27,12)")
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("naive_mae"),
        )
        .select(
            "event_type",
            F.round("level", 6).alias("level"),
            F.round("trend", 6).alias("trend"),
            "holt_mae",
            "naive_mae",
        )
        .orderBy("event_type")
    )


# --------------------------------------------- period-over-period
_SNAIVE_ORACLE = """
    WITH ev AS (
        SELECT event_type,
               datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
                   AS day_idx,
               CAST(EXTRACT(hour FROM ts) AS BIGINT) AS h,
               value
        FROM events
        WHERE CAST(ts AS DATE) >= DATE '2024-01-01'
    ),
    hourly AS (
        SELECT event_type, day_idx, day_idx % 7 AS dow, h,
               CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS s
        FROM ev GROUP BY 1, 2, 3, 4
    ),
    fc AS (  -- seasonal-naive: 3-week mean per (type, dow, hour)
        SELECT event_type, dow, h,
               CAST(SUM(CAST(s AS DECIMAL(27,6))) AS DOUBLE) / 3.0
                   AS forecast
        FROM hourly WHERE day_idx BETWEEN 0 AND 20
        GROUP BY 1, 2, 3
    ),
    test AS (
        SELECT event_type, dow, h, s AS actual
        FROM hourly WHERE day_idx BETWEEN 21 AND 27
    )
    SELECT t.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           ROUND(CAST(SUM(CAST(ROUND(ABS(
                     COALESCE(f.forecast, 0.0) - t.actual), 9)
                 AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*), 6) AS mae,
           ROUND(CAST(SUM(CAST(t.actual AS DECIMAL(27,6))) AS DOUBLE),
                 6) AS total_actual,
           ROUND(CAST(SUM(CAST(ROUND(COALESCE(f.forecast, 0.0), 9)
                 AS DECIMAL(27,12))) AS DOUBLE), 6) AS total_forecast
    FROM test t
    LEFT JOIN fc f ON t.event_type = f.event_type
                  AND t.dow = f.dow AND t.h = f.h
    GROUP BY t.event_type ORDER BY t.event_type
"""


@register("events_forecast_snaive", oracle=_SNAIVE_ORACLE, tags=("events",))
def events_forecast_snaive(spark, sf_dir):
    """Seasonal-naive forecast BACKTEST: forecast week 4's hourly
    revenue per type as the 3-week mean of the same (day-of-week,
    hour) cell — the baseline every real forecasting model must beat,
    and the query shape of any backtest (train window aggregate →
    join onto the holdout → error rollup). Day-of-week comes from
    datediff % 7 (pure arithmetic — Spark's dayofweek() and DuckDB's
    disagree on week start). Two keyed aggregations over events + one
    join on the 7x24-per-type model-sized cell table; decimal sums and
    9dp-rounded absolute errors keep the MAE hash-exact."""
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.to_date("ts") >= F.lit("2024-01-01").cast("date"))
        .select(
            "event_type",
            F.datediff(
                F.to_date("ts"), F.lit("2024-01-01").cast("date")
            ).alias("day_idx"),
            F.hour("ts").cast("long").alias("h"),
            "value",
        )
    )
    hourly = (
        ev.groupBy(
            "event_type",
            "day_idx",
            (F.col("day_idx") % 7).alias("dow"),
            "h",
        )
        .agg(
            F.sum(F.col("value").cast("decimal(27,6)"))
            .cast("double")
            .alias("s")
        )
    )
    fc = (
        hourly.filter(F.col("day_idx").between(0, 20))
        .groupBy("event_type", "dow", "h")
        .agg(
            (
                F.sum(F.col("s").cast("decimal(27,6)")).cast("double")
                / F.lit(3.0)
            ).alias("forecast")
        )
    )
    test = hourly.filter(F.col("day_idx").between(21, 27)).select(
        "event_type", "dow", "h", F.col("s").alias("actual")
    )
    j = test.join(fc, ["event_type", "dow", "h"], "left").select(
        "event_type",
        "actual",
        F.coalesce(F.col("forecast"), F.lit(0.0)).alias("forecast"),
    )
    return (
        j.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.round(
                F.sum(
                    F.round(
                        F.abs(F.col("forecast") - F.col("actual")), 9
                    ).cast("decimal(27,12)")
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mae"),
            F.round(
                F.sum(F.col("actual").cast("decimal(27,6)")).cast("double"),
                6,
            ).alias("total_actual"),
            F.round(
                F.sum(
                    F.round(F.col("forecast"), 9).cast("decimal(27,12)")
                ).cast("double"),
                6,
            ).alias("total_forecast"),
        )
        .orderBy("event_type")
    )


@register(
    "events_mom_growth",
    oracle="""
        WITH m AS (
            SELECT event_type,
                   CAST(date_trunc('month', ts) AS DATE) AS month,
                   CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE)
                       AS revenue
            FROM events WHERE event_type = 'purchase'
            GROUP BY 1, 2
        )
        SELECT event_type, month, revenue,
               round(
                   (revenue - LAG(revenue) OVER (PARTITION BY event_type
                                                 ORDER BY month))
                   / LAG(revenue) OVER (PARTITION BY event_type
                                        ORDER BY month), 6) AS mom_growth
        FROM m
    """,
    tags=("analytics", "growth"),
)
def events_mom_growth(spark, sf_dir):
    """Month-over-month revenue growth per type — the period-over-period
    BI staple: monthly decimal-exact sums (months-of-history rows, i.e.
    model-sized after the one aggregation shuffle), then a lag window
    over the TINY monthly table. First month's growth is NULL (no prior
    period), matching the oracle; revenue is always positive here so
    the division needs no zero guard."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    m = ev.groupBy(
        "event_type",
        F.date_trunc("month", "ts").cast("date").alias("month"),
    ).agg(dsum("value", "revenue"))
    w = Window.partitionBy("event_type").orderBy("month")
    prev = F.lag("revenue").over(w)
    return m.select(
        "event_type",
        "month",
        "revenue",
        F.round((F.col("revenue") - prev) / prev, 6).alias("mom_growth"),
    )


# --------------------------------------------- inter-arrival times
@register(
    "events_inter_arrival",
    oracle="""
        WITH gaps AS (
            SELECT event_type,
                   epoch_us(ts)
                   - epoch_us(LAG(ts) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)) AS gap_us
            FROM events
        )
        SELECT event_type,
               CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
               quantile_cont(gap_us, 0.5) AS median_gap_us,
               quantile_cont(gap_us, 0.9) AS p90_gap_us,
               CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
        FROM gaps WHERE gap_us IS NOT NULL
        GROUP BY event_type
    """,
    tags=("analytics", "timeseries"),
)
def events_inter_arrival(spark, sf_dir):
    """Inter-arrival time distribution per event type: each event's gap
    to the same user's previous event (one keyed window), then exact
    median/p90/max of the integer-second gaps (same exact-percentile
    contract as agg_percentile_exact — bounded group count). The
    latency profile that sizes session-gap thresholds and stream
    watermarks from the data instead of folklore."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond-exact epochs: unix_timestamp truncates to seconds
    # BEFORE subtracting while the oracle's epoch rounds — integer
    # microseconds are exact on both engines, no boundary drift
    gaps = ev.select(
        "event_type",
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
        ).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    return gaps.groupBy("event_type").agg(
        F.count("gap_us").alias("n_gaps"),
        F.percentile("gap_us", 0.5).alias("median_gap_us"),
        F.percentile("gap_us", 0.9).alias("p90_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
    )


# ------------------------------------------ funnel time-to-convert
@register(
    "events_time_to_convert",
    oracle="""
        WITH v AS (
            SELECT user_id, MIN(ts) AS first_view
            FROM events WHERE event_type = 'view' GROUP BY user_id
        ),
        p AS (
            SELECT e.user_id, MIN(e.ts) AS first_purchase
            FROM events e JOIN v ON e.user_id = v.user_id
            WHERE e.event_type = 'purchase' AND e.ts >= v.first_view
            GROUP BY e.user_id
        ),
        g AS (
            SELECT p.user_id,
                   epoch_us(p.first_purchase) - epoch_us(v.first_view)
                       AS gap_us
            FROM p JOIN v ON p.user_id = v.user_id
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_converters,
               quantile_cont(gap_us, 0.5) AS median_us,
               quantile_cont(gap_us, 0.9) AS p90_us,
               CAST(MIN(gap_us) AS BIGINT) AS min_us
        FROM g
    """,
    tags=("analytics", "funnel"),
)
def events_time_to_convert(spark, sf_dir):
    """Time-to-convert distribution: first view → first subsequent
    purchase per user, exact median/p90/min of the microsecond gaps —
    the latency half of the funnel story (events_funnel counts WHO
    converts; this measures HOW LONG conversion takes). Two keyed
    min-aggregations + one join; the percentile runs over one row per
    converter."""
    ev = table(spark, sf_dir, "events")
    mic = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("first_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    g = p.join(v, "user_id").select(
        (mic("first_purchase") - mic("first_view")).alias("gap_us")
    )
    return g.agg(
        F.count(F.lit(1)).alias("n_converters"),
        F.percentile("gap_us", 0.5).alias("median_us"),
        F.percentile("gap_us", 0.9).alias("p90_us"),
        F.min("gap_us").alias("min_us"),
    )


# ------------------------------------------------- cohort LTV matrix
@register(
    "events_cohort_ltv",
    oracle=f"""
        WITH p AS (
            SELECT user_id, CAST(value AS DECIMAL(27,6)) AS v,
                   CAST(date_diff('day', DATE '1970-01-05',
                                  CAST(ts AS DATE)) // 7 AS BIGINT) AS yw
            FROM events WHERE event_type = 'purchase'
        ),
        cohort AS (
            SELECT user_id, MIN(yw) AS cohort_yw FROM p GROUP BY user_id
        ),
        sizes AS (
            SELECT cohort_yw, CAST(COUNT(*) AS BIGINT) AS n_cohort
            FROM cohort GROUP BY cohort_yw
        ),
        cell AS (
            SELECT c.cohort_yw, p.yw - c.cohort_yw AS age_weeks,
                   COUNT(DISTINCT p.user_id) AS n_active,
                   CAST(SUM(p.v) AS DOUBLE) AS revenue
            FROM p JOIN cohort c ON p.user_id = c.user_id
            GROUP BY c.cohort_yw, p.yw - c.cohort_yw
        )
        SELECT cell.cohort_yw, cell.age_weeks, cell.n_active,
               s.n_cohort, cell.revenue,
               ROUND(cell.revenue / s.n_cohort, 6) AS ltv_per_user
        FROM cell JOIN sizes s ON cell.cohort_yw = s.cohort_yw
    """,
    tags=("events", "cohort"),
)
def events_cohort_ltv(spark, sf_dir):
    """Cohort lifetime-value matrix: users cohorted by first-purchase
    WEEK (ISO-Monday-anchored integer week index — days since
    1970-01-05 div 7, identical integer arithmetic in both engines);
    each (cohort, weeks-since-first) cell reports active purchasers,
    decimal-exact revenue, and per-cohort-user LTV — the revenue
    counterpart of the retention triangle (`events_retention`).
    Shuffle profile: one user_id aggregate, one user_id join, one
    model-sized (cohort, age) aggregate; cohort sizes broadcast."""
    p = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("value").cast("decimal(27,6)").alias("v"),
            F.floor(
                F.datediff(F.to_date("ts"), F.lit("1970-01-05").cast("date"))
                / 7
            ).alias("yw"),
        )
    )
    cohort = p.groupBy("user_id").agg(F.min("yw").alias("cohort_yw"))
    sizes = cohort.groupBy("cohort_yw").agg(
        F.count(F.lit(1)).alias("n_cohort")
    )
    cell = (
        p.join(cohort, "user_id")
        .groupBy(
            "cohort_yw", (F.col("yw") - F.col("cohort_yw")).alias("age_weeks")
        )
        .agg(
            F.count_distinct("user_id").alias("n_active"),
            F.sum("v").cast("double").alias("revenue"),
        )
    )
    return cell.join(F.broadcast(sizes), "cohort_yw").select(
        "cohort_yw",
        "age_weeks",
        "n_active",
        "n_cohort",
        "revenue",
        F.round(F.col("revenue") / F.col("n_cohort"), 6).alias("ltv_per_user"),
    )


# --------------------------------------- sequential pattern matching
@register(
    "events_pattern_match",
    oracle="""
        WITH seq AS (
            SELECT user_id, ts, event_type,
                   LEAD(event_type, 1) OVER w AS e2,
                   LEAD(event_type, 2) OVER w AS e3,
                   LEAD(ts, 2) OVER w AS ts3
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        hits AS (
            SELECT user_id, ts, ts3
            FROM seq
            WHERE event_type = 'view' AND e2 = 'click' AND e3 = 'purchase'
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_matches,
               CAST(MIN(epoch_us(ts3) - epoch_us(ts)) AS BIGINT)
                   AS fastest_us
        FROM hits GROUP BY user_id
    """,
    tags=("events", "pattern"),
)
def events_pattern_match(spark, sf_dir):
    """MATCH_RECOGNIZE-style sequential pattern detection without the
    SQL extension (Spark has none): find every STRICTLY CONSECUTIVE
    view→click→purchase triple in each user's event-time sequence via
    double LEAD over one keyed window, then count matches and the
    fastest completion per user. The window is partitioned by user_id
    — one shuffle, no self-joins, no cross-row explosion; exactly how
    Flink CEP's NEXT semantics lower onto a batch engine. Microsecond
    epoch difference keeps the latency integer-exact."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
        F.lead("ts", 2).over(w).alias("ts3"),
    )
    hits = seq.filter(
        (F.col("event_type") == "view")
        & (F.col("e2") == "click")
        & (F.col("e3") == "purchase")
    )
    # ts is TIMESTAMP_NTZ (the nanos-parquet adaptation); unix_micros
    # needs TIMESTAMP — the cast is exact under the session's UTC tz
    us = F.unix_micros(F.col("ts3").cast("timestamp")) - F.unix_micros(
        F.col("ts").cast("timestamp")
    )
    return hits.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.min(us).alias("fastest_us"),
    )


@register(
    "events_sessionize",
    oracle="""
        WITH o AS (
            SELECT user_id, event_id, ts,
                   epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS gap_us
            FROM events
        ),
        marked AS (
            SELECT *, CASE WHEN gap_us IS NULL
                             OR gap_us > 21600000000 THEN 1
                           ELSE 0 END AS is_new
            FROM o
        ),
        sess AS (
            SELECT user_id, event_id, ts,
                   CAST(SUM(is_new) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING
                   ) AS BIGINT) AS session_seq
            FROM marked
        )
        SELECT user_id, session_seq,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               MIN(ts) AS session_start,
               MAX(ts) AS session_end,
               epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us
        FROM sess
        GROUP BY user_id, session_seq
        ORDER BY user_id, session_seq
    """,
    tags=("events", "sessionize"),
)
def events_sessionize(spark, sf_dir):
    """Gap-based batch sessionization — the lag/cumsum composition
    (a new session starts after >6h of user inactivity), complementing
    stream_session's session_window: this form also yields the
    per-user session SEQUENCE NUMBER that funnel/LTV analyses key on.
    One shuffle on user_id serves both windows and the final
    aggregation (same partitioning, no re-exchange); gaps compare in
    exact integer microseconds so the session boundaries are
    engine-independent."""
    ev = table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lag_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # same microsecond-exact idiom as events_inter_arrival: NTZ ts
    # casts to timestamp first (differences are tz-offset free)
    ep = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = ep - F.lag(ep).over(lag_w)
    is_new = F.when(
        gap.isNull() | (gap > 21600 * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    sess = ev.withColumn(
        "session_seq", F.sum(is_new).over(w).cast("long")
    )
    return (
        sess.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            (
                F.unix_micros(F.max("ts").cast("timestamp"))
                - F.unix_micros(F.min("ts").cast("timestamp"))
            ).alias("duration_us"),
        )
        .orderBy("user_id", "session_seq")
    )


# ------------------------------------------------------ DSIR selection
_DSIR_TARGET = "('src0', 'src1', 'src2')"
_DSIR_BUCKET = _hash_bucket_sql("w", "dsir:")

_DSIR_ORACLE = f"""
    WITH words AS (
        SELECT doc_id, source, {_DSIR_BUCKET} AS b FROM (
            SELECT doc_id, source,
                   UNNEST(string_split(text, ' ')) AS w
            FROM documents
        ) t WHERE w <> ''
    ),
    src AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cs
            FROM words GROUP BY b),
    tgt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS ct
            FROM words WHERE source IN {_DSIR_TARGET} GROUP BY b),
    tot AS (SELECT CAST((SELECT COUNT(*) FROM words) AS BIGINT) AS ns,
                   CAST((SELECT COUNT(*) FROM words
                         WHERE source IN {_DSIR_TARGET}) AS BIGINT) AS nt),
    llr AS (
        SELECT s.b,
               ROUND(ln(CAST(COALESCE(t.ct, 0) + 1 AS DOUBLE) / (tot.nt + 256))
                   - ln(CAST(s.cs + 1 AS DOUBLE) / (tot.ns + 256)),
                   12) AS lr
        FROM src s LEFT JOIN tgt t USING (b) CROSS JOIN tot
    ),
    docb AS (SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS n
             FROM words GROUP BY doc_id, b)
    SELECT d.doc_id,
           CAST(SUM(d.n) AS BIGINT) AS n_words,
           ROUND(CAST(SUM(CAST(d.n * l.lr AS DECIMAL(27,12))) AS DOUBLE),
                 6) AS dsir_logw
    FROM docb d JOIN llr l USING (b)
    GROUP BY d.doc_id
    ORDER BY d.doc_id
"""


@register("llm_dsir_weights", oracle=_DSIR_ORACLE, tags=("llm", "selection"))
def llm_dsir_weights(spark, sf_dir):
    """DSIR (Data Selection via Importance Resampling, Xie et al.
    2023, arXiv:2302.03169): per-document importance log-weight =
    sum over hashed word features of the target-vs-corpus
    log-likelihood ratio, the standard way to select web data that
    looks like a high-quality target corpus. Features hash into 256
    md5 buckets (the engine-identical _hash_bucket_sql, never
    Python's salted hash), both feature LMs are Laplace-smoothed
    bucket histograms — MODEL-SIZED (256 rows, broadcast) no matter
    the corpus — and the per-doc weight is one broadcast join plus a
    decimal-quantized sum, so the whole pass costs one explode
    shuffle at 100 TB. ln outputs round to 12dp before the decimal
    sum (libm 1-ulp contract, as fn_math pins)."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.explode(F.split("text", " ")).alias("w"),
    ).filter(F.col("w") != "")
    target = ["src0", "src1", "src2"]
    words = docs.select(
        "doc_id", "source", F.expr(_DSIR_BUCKET).alias("b")
    )
    src = words.groupBy("b").agg(F.count(F.lit(1)).alias("cs"))
    tgt = (
        words.filter(F.col("source").isin(target))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    tot = words.agg(
        F.count(F.lit(1)).alias("ns"),
        F.count(F.when(F.col("source").isin(target), 1)).alias("nt"),
    )
    llr = (
        src.join(tgt, "b", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            F.round(
                F.log(
                    (F.coalesce("ct", F.lit(0)) + 1).cast("double")
                    / (F.col("nt") + 256)
                )
                - F.log(
                    (F.col("cs") + 1).cast("double") / (F.col("ns") + 256)
                ),
                12,
            ).alias("lr"),
        )
    )
    docb = words.groupBy("doc_id", "b").agg(F.count(F.lit(1)).alias("n"))
    return (
        docb.join(F.broadcast(llr), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_words"),
            F.round(
                F.sum((F.col("n") * F.col("lr")).cast("decimal(27,12)"))
                .cast("double"),
                6,
            ).alias("dsir_logw"),
        )
        .orderBy("doc_id")
    )


# ------------------------------------------------------ n-gram novelty
_NOVELTY_ORACLE = """
    WITH grams AS (
        SELECT DISTINCT doc_id, g FROM (
            SELECT doc_id,
                   string_split(text, ' ')[i] || ' ' ||
                   string_split(text, ' ')[i+1] || ' ' ||
                   string_split(text, ' ')[i+2] AS g
            FROM documents,
                 LATERAL (SELECT UNNEST(range(1,
                     GREATEST(len(string_split(text, ' ')) - 2, 0) + 1)) AS i)
        )
    ),
    df AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS df FROM grams GROUP BY g)
    SELECT grams.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unique,
           ROUND(CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS novelty
    FROM grams JOIN df ON grams.g = df.g
    GROUP BY grams.doc_id
    ORDER BY grams.doc_id
"""


@register("llm_ngram_novelty", oracle=_NOVELTY_ORACLE, tags=("llm", "quality"))
def llm_ngram_novelty(spark, sf_dir):
    """Per-document n-gram novelty: the fraction of a document's
    distinct word 3-grams that appear NOWHERE else in the corpus — the
    memorization/templating profile (low novelty = boilerplate or
    near-duplicate content that dedup should have caught; dataset
    audits report exactly this distribution). Gram document-frequency
    is one hash aggregation and the doc join shuffles on the gram key
    — the same candidates-by-equi-join scale shape as
    llm_decontaminate, never pairwise text comparison. Like
    llm_decontaminate, the gram is collapsed to an xxhash64 BIGINT at
    explode time, so every shuffle moves 8-byte keys instead of gram
    text (the oracle keeps the text key — counts agree barring a
    64-bit collision), and the scan is spread() first because gram
    hashing multiplies per-row work ~100× (BENCH r7: the old
    full-text-shuffle shape took 66 s at sf1; this shape ~3 s)."""
    from opusdb_spark.operators.skew import spread

    docs = spread(table(spark, sf_dir, "documents"))
    # r13 (guide §4.1): posexplode + element_at projection instead of
    # a transform() lambda — same codegen rewrite (and the same
    # bit-identical gram values) as llm_decontaminate/_word3grams.
    w = F.split(F.col("text"), " ")
    pe = docs.select("doc_id", w.alias("_w")).select(
        "doc_id", "_w", F.posexplode("_w").alias("_pos", "_w1")
    )
    grams = (
        pe.filter(F.col("_pos") <= F.size("_w") - 3)
        .select(
            "doc_id",
            F.xxhash64(
                F.concat_ws(
                    " ",
                    F.col("_w1"),
                    F.element_at("_w", F.col("_pos") + 2),
                    F.element_at("_w", F.col("_pos") + 3),
                )
            ).alias("gh"),
        )
        .dropDuplicates(["doc_id", "gh"])
    )
    df = grams.groupBy("gh").agg(F.count(F.lit(1)).alias("df"))
    uniq = F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
    return (
        grams.join(df, "gh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            uniq.cast("long").alias("n_unique"),
            F.round(
                uniq.cast("double") / F.count(F.lit(1)), 6
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


# ------------------------------------------- referential integrity audit
_RI_ORACLE = """
    SELECT fk_edge, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_orphans AS BIGINT) AS n_orphans,
           n_orphans = 0 AS intact
    FROM (
        SELECT 'lineitem.l_orderkey -> orders' AS fk_edge,
               (SELECT COUNT(*) FROM lineitem) AS n_rows,
               (SELECT COUNT(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_orderkey = l.l_orderkey))
                   AS n_orphans
        UNION ALL
        SELECT 'lineitem.l_partkey -> part',
               (SELECT COUNT(*) FROM lineitem),
               (SELECT COUNT(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM part p
                                  WHERE p.p_partkey = l.l_partkey))
        UNION ALL
        SELECT 'lineitem.l_suppkey -> supplier',
               (SELECT COUNT(*) FROM lineitem),
               (SELECT COUNT(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM supplier s
                                  WHERE s.s_suppkey = l.l_suppkey))
        UNION ALL
        SELECT 'orders.o_custkey -> customer',
               (SELECT COUNT(*) FROM orders),
               (SELECT COUNT(*) FROM orders o
                WHERE NOT EXISTS (SELECT 1 FROM customer c
                                  WHERE c.c_custkey = o.o_custkey))
        UNION ALL
        SELECT 'customer.c_nationkey -> nation',
               (SELECT COUNT(*) FROM customer),
               (SELECT COUNT(*) FROM customer c
                WHERE NOT EXISTS (SELECT 1 FROM nation n
                                  WHERE n.n_nationkey = c.c_nationkey))
        UNION ALL
        SELECT 'events.user_id -> customer',
               (SELECT COUNT(*) FROM events),
               (SELECT COUNT(*) FROM events e
                WHERE NOT EXISTS (SELECT 1 FROM customer c
                                  WHERE c.c_custkey = e.user_id))
    )
    ORDER BY fk_edge
"""


@register("dq_referential_integrity", oracle=_RI_ORACLE, tags=("dq",))
def dq_referential_integrity(spark, sf_dir):
    """Referential-integrity audit across every FK edge of the schema:
    orphan counts via LEFT ANTI joins (each edge = one anti-join whose
    dim side broadcasts; the fact side streams — at 100 TB this is a
    handful of map-side-filtered passes, and Catalyst can share the
    fact scan). The per-edge report row is what a data-quality
    dashboard stores per snapshot; dq_constraints covers column-level
    rules, this covers the cross-table ones."""
    # ONE scan per fact table (not per edge, and not a second count
    # scan): all of a fact's dims broadcast-left-join onto the same
    # pass, a single aggregate counts rows + per-edge null-PK orphans,
    # and the per-edge report rows explode out of that one-row result.
    by_fact = {
        "lineitem": [
            ("lineitem.l_orderkey -> orders", "l_orderkey",
             "orders", "o_orderkey"),
            ("lineitem.l_partkey -> part", "l_partkey",
             "part", "p_partkey"),
            ("lineitem.l_suppkey -> supplier", "l_suppkey",
             "supplier", "s_suppkey"),
        ],
        "orders": [
            ("orders.o_custkey -> customer", "o_custkey",
             "customer", "c_custkey"),
        ],
        "customer": [
            ("customer.c_nationkey -> nation", "c_nationkey",
             "nation", "n_nationkey"),
        ],
        "events": [
            ("events.user_id -> customer", "user_id",
             "customer", "c_custkey"),
        ],
    }
    out = None
    for fact, eds in by_fact.items():
        j = table(spark, sf_dir, fact).select(*[e[1] for e in eds])
        for _, fk, dim, pk in eds:
            d = table(spark, sf_dir, dim).select(pk)
            j = j.join(F.broadcast(d), F.col(fk) == F.col(pk), "left")
        agg = j.agg(
            F.count(F.lit(1)).alias("n_rows"),
            *[
                F.count(F.when(F.col(pk).isNull(), 1)).alias(f"_o{i}")
                for i, (_, _, _, pk) in enumerate(eds)
            ],
        )
        rows = agg.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(label).alias("fk_edge"),
                            F.col("n_rows").alias("n_rows"),
                            F.col(f"_o{i}").alias("n_orphans"),
                        )
                        for i, (label, _, _, _) in enumerate(eds)
                    ]
                )
            ).alias("e")
        ).select(
            "e.fk_edge",
            "e.n_rows",
            "e.n_orphans",
            (F.col("e.n_orphans") == 0).alias("intact"),
        )
        out = rows if out is None else out.unionByName(rows)
    return out.orderBy("fk_edge")


# ------------------------------------------------- weighted sampling
def _hash_unit_sql(key_sql: str, salt: str) -> str:
    """Uniform u in (0,1) from the 48 md5 bits of
    T.word_hash48_sql(salt || key): (h + 0.5) / 2^48, exact in double,
    identical in both engines."""
    h = T.word_hash48_sql(f"CAST({key_sql} AS STRING)", salt)
    return f"((CAST({h} AS DOUBLE) + 0.5) / 281474976710656.0)"


_WSAMPLE_U = _hash_unit_sql("doc_id", "wsample:")

_WSAMPLE_ORACLE = f"""
    SELECT doc_id, n_chars,
           ROUND(pow({_WSAMPLE_U}, 1.0 / n_chars), 12) AS sample_key
    FROM documents
    WHERE n_chars > 0
    ORDER BY sample_key DESC, doc_id
    LIMIT 100
"""


@register(
    "llm_weighted_sample", oracle=_WSAMPLE_ORACLE, tags=("llm", "sampling")
)
def llm_weighted_sample(spark, sf_dir):
    """Weighted sampling without replacement via the
    Efraimidis-Spirakis A-ES key (key = u^(1/w), take the k largest):
    the ONE-PASS distributed way to draw a weighted sample at 100 TB —
    no prefix sums, no rejection loop, and a plain top-k
    (TakeOrderedAndProject: partition-local heads, never a global
    sort). u comes from 48 md5 bits (_hash_unit_sql — never rand(),
    so the sample is reproducible and engine-identical); keys round
    to 12dp for the libm pow contract, ties break on doc_id. Weight
    here is document length; any positive weight column (quality,
    1/n_copies from llm_soft_dedup_weights) slots in."""
    docs = table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    key = F.round(
        F.pow(F.expr(_WSAMPLE_U), F.lit(1.0) / F.col("n_chars")), 12
    )
    return (
        docs.select("doc_id", "n_chars", key.alias("sample_key"))
        .orderBy(F.desc("sample_key"), "doc_id")
        .limit(100)
    )


# ---------------------------------------------------- cluster labeling
_TOPICS_ORACLE = """
    WITH words AS (
        SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS tf FROM (
            SELECT lang, UNNEST(string_split(text, ' ')) AS w
            FROM documents
        ) t WHERE w <> '' GROUP BY lang, w
    ),
    nc AS (SELECT CAST(COUNT(DISTINCT lang) AS BIGINT) AS n
           FROM documents),
    df AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS dfc
           FROM words GROUP BY w),
    scored AS (
        SELECT words.lang, words.w, words.tf,
               ROUND(words.tf * ROUND(ln(CAST(nc.n AS DOUBLE) / df.dfc),
                                      12), 6) AS tfidf
        FROM words JOIN df ON words.w = df.w CROSS JOIN nc
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY lang ORDER BY tfidf DESC, w) AS rn
        FROM scored
    )
    SELECT lang, CAST(rn AS INT) AS rank, w AS term, tf, tfidf
    FROM ranked WHERE rn <= 5
    ORDER BY lang, rn
"""


@register("llm_cluster_topics", oracle=_TOPICS_ORACLE, tags=("llm", "text"))
def llm_cluster_topics(spark, sf_dir):
    """Cluster labeling: the top-5 tf-idf terms per language cluster —
    how a pipeline names the clusters its quantizer/langid produced
    (terms present in every cluster get idf ln(1)=0 and vanish, so the
    labels are the DISCRIMINATIVE vocabulary). Term frequencies and
    cluster document-frequencies are two map-side-combined aggregates;
    ranking is a group-limit window over the vocabulary-sized scored
    table, never the corpus. idf rounds to 12dp before the integer
    multiply (libm ln contract)."""
    docs = table(spark, sf_dir, "documents")
    words = (
        docs.select("lang", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    nc = docs.agg(F.count_distinct("lang").alias("n"))
    df = words.groupBy("w").agg(F.count(F.lit(1)).alias("dfc"))
    scored = (
        words.join(df, "w")
        .crossJoin(F.broadcast(nc))
        .select(
            "lang",
            "w",
            "tf",
            F.round(
                F.col("tf")
                * F.round(
                    F.log(F.col("n").cast("double") / F.col("dfc")), 12
                ),
                6,
            ).alias("tfidf"),
        )
    )
    win = Window.partitionBy("lang").orderBy(F.desc("tfidf"), "w")
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= 5)
        .select("lang", "rank", F.col("w").alias("term"), "tf", "tfidf")
        .orderBy("lang", "rank")
    )


# ------------------------------------------------------- seasonality
@register(
    "events_seasonality",
    oracle="""
        SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow,
               CAST(hour(ts) AS INT) AS hour_of_day,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               {total_value},
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events
        GROUP BY 1, 2
        ORDER BY 1, 2
    """.format(total_value=sql_dsum("value", "total_value")),
    tags=("events", "timeseries"),
)
def events_seasonality(spark, sf_dir):
    """Traffic seasonality profile: events, decimal-exact value, and
    distinct users per (day-of-week, hour-of-day) cell — the 7×24
    heatmap behind capacity planning and anomaly baselines. One
    map-side-combined aggregation into a bounded 168-cell result
    (day-of-week conventions differ across engines: Spark is 1=Sunday,
    DuckDB is 0=Sunday — the oracle aligns with +1)."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.dayofweek("ts").alias("dow"),
            F.hour("ts").alias("hour_of_day"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "total_value"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .orderBy("dow", "hour_of_day")
    )


# ------------------------------------------- quality classifier (logreg)
_CLF_BUCKET = _hash_bucket_sql("w", "clf:")


def _clf_train_oracle() -> str:
    """DuckDB oracle for llm_quality_classifier (upgraded from
    rows-only in r12, the last rows-only key with a replay path —
    VERDICT r11 ask #5): the full 5-iteration batch-GD recurrence
    replays with the emb_kmeans unrolled-CTE treatment. Per iteration:
    the logit is the same decimal(27,15)-quantized fold the Spark pass
    computes over bit-identical weights; the per-doc probability snaps
    to the 6-dp grid on BOTH sides (classifier.py docstring — the one
    transcendental in the loop, so the snap is what stops JVM-vs-libm
    exp ulps compounding through later iterations); gradients/means
    are exact decimal sums over identical doubles; the weight/bias
    updates are plain IEEE ops on identical doubles. The loss readout's
    ln() 1-ulp class perturbs the decimal(27,15) element quantization
    by ≤1e-15 per doc and is absorbed by the final 6-dp ROUND (the
    accepted ln/corr convention); accuracy compares grid-identical
    p against 0.5. Lazy (resolved at oracle access)."""
    from opusdb_spark.operators.classifier import N_BUCKETS

    bucket = _hash_bucket_sql("w", "clf:")
    iters, eta = 5, 1.0
    parts = [
        f"""
        WITH nz AS MATERIALIZED (
            SELECT doc_id, y, w FROM (
                SELECT doc_id,
                       CASE WHEN source IN ('src0', 'src1', 'src2')
                            THEN 1 ELSE 0 END AS y,
                       UNNEST(string_split(text, ' ')) AS w
                FROM documents
            ) WHERE w <> ''
        ),
        labels AS MATERIALIZED (
            SELECT doc_id, ANY_VALUE(y) AS y,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM nz GROUP BY doc_id
        ),
        feats AS MATERIALIZED (
            SELECT f.doc_id, f.b, CAST(f.c AS DOUBLE) / l.n AS x, l.y
            FROM (SELECT doc_id, {bucket} AS b,
                         CAST(COUNT(*) AS BIGINT) AS c
                  FROM nz GROUP BY doc_id, {bucket}) f
            JOIN labels l USING (doc_id)
        ),
        nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM labels),
        w0 AS MATERIALIZED (
            SELECT CAST(UNNEST(range(0, {N_BUCKETS})) AS INT) AS b,
                   0.0 AS wt
        ),
        bias0 AS (SELECT 0.0 AS bias)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""",
        p{i} AS MATERIALIZED (
            SELECT s.doc_id, s.y,
                   ROUND(1.0 / (1.0 + exp(-(s.s +
                         (SELECT bias FROM bias{i - 1})))), 6) AS p
            FROM (
                SELECT f.doc_id, f.y,
                       CAST(SUM(CAST(f.x * w.wt AS DECIMAL(27,15)))
                            AS DOUBLE) AS s
                FROM feats f JOIN w{i - 1} w USING (b)
                GROUP BY f.doc_id, f.y
            ) s
        ),
        g{i} AS MATERIALIZED (
            SELECT f.b,
                   CAST(SUM(CAST((p.p - p.y) * f.x AS DECIMAL(27,15)))
                        AS DOUBLE) AS g
            FROM feats f JOIN p{i} p USING (doc_id)
            GROUP BY f.b
        ),
        w{i} AS MATERIALIZED (
            SELECT w.b, w.wt - {eta} * COALESCE(g.g, 0.0) / nd.n AS wt
            FROM w{i - 1} w LEFT JOIN g{i} g USING (b), nd
        ),
        bias{i} AS (
            SELECT (SELECT bias FROM bias{i - 1})
                   - {eta} * (SELECT CAST(SUM(CAST(p - y
                              AS DECIMAL(27,15))) AS DOUBLE)
                              FROM p{i}) / nd.n AS bias
            FROM nd
        ),
        t{i} AS (
            SELECT {i} AS iteration,
                   ROUND((SELECT CAST(SUM(CAST(
                         -(y * ln(GREATEST(p, 1e-12))
                           + (1 - y) * ln(GREATEST(1.0 - p, 1e-12)))
                         AS DECIMAL(27,15))) AS DOUBLE)
                         FROM p{i}) / nd.n, 6) AS loss,
                   ROUND(CAST((SELECT SUM(CASE WHEN (p >= 0.5) = (y = 1)
                              THEN 1 ELSE 0 END) FROM p{i}) AS DOUBLE)
                         / nd.n, 6) AS accuracy
            FROM nd
        )"""
        )
    finals = "\n        UNION ALL ".join(
        f"SELECT CAST(iteration AS INT) AS iteration, loss, accuracy"
        f" FROM t{i}"
        for i in range(1, iters + 1)
    )
    parts.append(f"\n        {finals} ORDER BY iteration")
    return "".join(parts)


@register(
    "llm_quality_classifier",
    oracle=_clf_train_oracle,
    tags=("llm", "selection"),
)
def llm_quality_classifier(spark, sf_dir):
    """Train the fastText-style quality classifier: logistic
    regression on 256 hashed-word features separating target-corpus
    documents (the DSIR target sources) from the rest — the
    learned complement to llm_dsir_weights' likelihood ratios. Five
    batch-GD iterations; each is one distributed scoring pass plus a
    model-sized gradient collect (operators/classifier.py — the
    iterate-on-model-rows shape of emb_kmeans). Returns the
    convergence trace. Hash-oracled since r12: probabilities snap to
    the 6-dp grid inside the loop (classifier.py docstring), so the
    whole recurrence — weights, bias, loss, accuracy — replays in
    DuckDB (_clf_train_oracle); weights are additionally pinned
    against a numpy reference in tests/test_operators.py, and
    gradient sums are decimal-quantized so training is
    partitioning-invariant."""
    from opusdb_spark.operators import classifier

    docs = table(spark, sf_dir, "documents")
    y = F.when(
        F.col("source").isin("src0", "src1", "src2"), 1
    ).otherwise(0)
    feats, labels = classifier.doc_features(docs, _CLF_BUCKET, y)
    _, trace = classifier.train_logreg(spark, feats, labels)
    return spark.createDataFrame(
        [(t["iteration"], t["loss"], t["accuracy"]) for t in trace],
        "iteration int, loss double, accuracy double",
    )


# ------------------------------------------------------------ A/B test
_AB_ORACLE = """
    WITH assign AS (
        SELECT CAST(user_id % 2 AS INT) AS cohort,
               CAST(value AS DECIMAL(27,6)) AS v
        FROM events WHERE event_type = 'purchase'
    ),
    s AS (
        SELECT cohort,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v) AS DOUBLE) AS s1,
               CAST(SUM(CAST(v * v AS DECIMAL(27,6))) AS DOUBLE) AS s2
        FROM assign GROUP BY cohort
    ),
    m AS (
        SELECT cohort, n, ROUND(s1 / n, 6) AS mean,
               ROUND((s2 - s1 * s1 / n) / (n - 1), 6) AS var
        FROM s
    ),
    t AS (
        SELECT a.n AS n_a, a.mean AS mean_a, a.var AS var_a,
               b.n AS n_b, b.mean AS mean_b, b.var AS var_b
        FROM m a JOIN m b ON a.cohort = 0 AND b.cohort = 1
    )
    SELECT n_a, mean_a, n_b, mean_b,
           ROUND((mean_a - mean_b)
                 / sqrt(var_a / n_a + var_b / n_b), 6) AS z_score,
           ABS((mean_a - mean_b)
               / sqrt(var_a / n_a + var_b / n_b)) > 1.96 AS significant
    FROM t
"""


@register("events_ab_ztest", oracle=_AB_ORACLE, tags=("events", "stats"))
def events_ab_ztest(spark, sf_dir):
    """A/B experiment readout: Welch z-test on mean purchase value
    between two deterministic user cohorts (user_id % 2 — the stand-in
    for an assignment column). Everything reduces to one
    map-side-combined pass producing per-cohort (n, Σv, Σv²) in exact
    decimals; means/variances/z round to 6dp so both engines emit the
    identical verdict. |z| > 1.96 ≈ p < 0.05 two-sided — the
    erf-free significance readout."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    v = F.col("value").cast("decimal(27,6)")
    s = ev.groupBy(
        (F.col("user_id") % 2).cast("int").alias("cohort")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).cast("double").alias("s1"),
        F.sum((v * v).cast("decimal(27,6)")).cast("double").alias("s2"),
    )
    m = s.select(
        "cohort",
        "n",
        F.round(F.col("s1") / F.col("n"), 6).alias("mean"),
        F.round(
            (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
            / (F.col("n") - 1),
            6,
        ).alias("var"),
    )
    a = m.filter(F.col("cohort") == 0).select(
        F.col("n").alias("n_a"),
        F.col("mean").alias("mean_a"),
        F.col("var").alias("var_a"),
    )
    b = m.filter(F.col("cohort") == 1).select(
        F.col("n").alias("n_b"),
        F.col("mean").alias("mean_b"),
        F.col("var").alias("var_b"),
    )
    z = (F.col("mean_a") - F.col("mean_b")) / F.sqrt(
        F.col("var_a") / F.col("n_a") + F.col("var_b") / F.col("n_b")
    )
    return a.crossJoin(F.broadcast(b)).select(
        "n_a",
        "mean_a",
        "n_b",
        "mean_b",
        F.round(z, 6).alias("z_score"),
        (F.abs(z) > 1.96).alias("significant"),
    )


def _clf_score_oracle() -> str:
    """DuckDB oracle for llm_quality_classifier_score (upgraded from
    rows-only in r11): TRAINING stays numpy/Spark-iterative and
    PERSISTED (the maha-model/PQ-codebook convention), but inference
    replays end-to-end — the portable md5 feature buckets, the c/n
    feature ratio (exact int÷int double division), the DECIMAL(27,15)
    logit fold, the weights/bias parsed back from the model JSON
    (shortest-repr doubles round-trip exactly through strtod), the
    sigmoid (libm exp; 1-ulp class absorbed by the 6-dp round, the
    same accepted convention as every ln/corr oracle — see
    exactness.py), and the keep decision on the SIGN OF THE LOGIT,
    which is exp-free and therefore exact. Lazy (resolved at oracle
    access)."""
    import os

    from opusdb_spark.operators.classifier import N_BUCKETS
    from opusdb_spark.queries.llm import _oracle_scratch

    model = os.path.join(_oracle_scratch("clf_model"), "model.json")
    bucket = _hash_bucket_sql("w", "clf:")
    return f"""
        WITH model AS (
            SELECT json AS j FROM read_json('{model}',
                format='unstructured', records=false)
        ),
        weights AS (
            SELECT CAST(i - 1 AS INT) AS b,
                   CAST(j.weights[CAST(i AS INT)] AS DOUBLE) AS wt
            FROM model, UNNEST(range(1, {N_BUCKETS} + 1)) AS u(i)
        ),
        bias AS (SELECT CAST(j.bias AS DOUBLE) AS bias FROM model),
        words AS (
            SELECT doc_id,
                   CASE WHEN source IN ('src0', 'src1', 'src2')
                        THEN 1 ELSE 0 END AS y,
                   UNNEST(string_split(text, ' ')) AS w
            FROM documents
        ),
        nz AS (SELECT * FROM words WHERE w <> ''),
        labels AS (
            SELECT doc_id, ANY_VALUE(y) AS y,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM nz GROUP BY doc_id
        ),
        feats AS (
            SELECT doc_id, {bucket} AS b,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM nz GROUP BY doc_id, {bucket}
        ),
        logit AS (
            SELECT f.doc_id, l.y,
                   CAST(SUM(CAST((CAST(f.c AS DOUBLE) / l.n) * w.wt
                                 AS DECIMAL(27,15))) AS DOUBLE) AS s
            FROM feats f
            JOIN labels l USING (doc_id)
            JOIN weights w USING (b)
            GROUP BY f.doc_id, l.y
        )
        SELECT doc_id, y AS is_target,
               ROUND(1.0 / (1.0 + exp(-(s + bias))), 6) AS quality_score,
               (s + bias) >= 0.0 AS keep
        FROM logit, bias
        ORDER BY doc_id"""


@register(
    "llm_quality_classifier_score",
    oracle=_clf_score_oracle,
    tags=("llm", "selection"),
)
def llm_quality_classifier_score(spark, sf_dir):
    """INFERENCE half of the quality classifier: the model trains once
    at ingest (ensure_written artifact keyed on the corpus — the same
    ingest/query split as the ANN index) and scoring is then a single
    distributed pass: features join the 256-row broadcast weight
    table, one keyed aggregate folds the logit, sigmoid + threshold
    emit (doc_id, label, quality_score, keep). At 100 TB the model is
    bytes while the corpus streams through one shuffle — training
    never reruns per query. Hash-oracled since r11: DuckDB replays the
    whole inference pass from the persisted model JSON
    (_clf_score_oracle); keep is decided on the exp-free logit sign."""
    import json

    from opusdb_spark.operators import classifier
    from opusdb_spark.sources.formats import corpus_store

    y = F.when(
        F.col("source").isin("src0", "src1", "src2"), 1
    ).otherwise(0)

    def _train(path):
        os.makedirs(path, exist_ok=True)
        docs = table(spark, sf_dir, "documents")
        feats, labels = classifier.doc_features(docs, _CLF_BUCKET, y)
        model, trace = classifier.train_logreg(spark, feats, labels)
        with open(os.path.join(path, "model.json"), "w") as fh:
            json.dump({"weights": model[:-1], "bias": model[-1]}, fh)

    # The artifact fingerprint covers EVERYTHING the weights depend on:
    # corpus bytes, feature definition (bucket expr + count), label
    # definition, and the training hyperparameters — a changed eta or
    # iteration count must retrain, not silently reuse a stale model
    # (ADVICE r4: fingerprint omitted hyperparameters).
    model_dir = corpus_store(
        "clf_model", sf_dir, ("documents",), _train,
        v=classifier.TRAIN_VERSION,
        bucket_expr=_CLF_BUCKET,
        n_buckets=classifier.N_BUCKETS,
        label="source in (src0,src1,src2)",
        # the actual defaults _train runs with — read from the
        # function so a changed default cannot drift past the cache
        hyper=list(classifier.train_logreg.__defaults__),
    )
    with open(os.path.join(model_dir, "model.json")) as fh:
        m = json.load(fh)

    docs = table(spark, sf_dir, "documents")
    feats, _ = classifier.doc_features(docs, _CLF_BUCKET, y)
    wdf = F.broadcast(
        spark.createDataFrame(
            [(i, float(w)) for i, w in enumerate(m["weights"])],
            "b int, wt double",
        )
    )
    logit = (
        feats.join(wdf, "b")
        .groupBy("doc_id", "y")
        .agg(
            F.sum((F.col("x") * F.col("wt")).cast("decimal(27,15)"))
            .cast("double")
            .alias("s")
        )
    )
    p = F.lit(1.0) / (
        F.lit(1.0) + F.exp(-(F.col("s") + F.lit(float(m["bias"]))))
    )
    # keep ≡ p ≥ 0.5 ≡ logit ≥ 0 — decided on the SIGN of the
    # decimal-exact logit, not the post-exp probability, so the
    # boundary is exp-free and a second engine replays it exactly
    # (r11; the sigmoid value itself carries the accepted
    # libm-1-ulp-under-6dp-round convention)
    return (
        logit.select(
            "doc_id",
            F.col("y").alias("is_target"),
            F.round(p, 6).alias("quality_score"),
            (
                (F.col("s") + F.lit(float(m["bias"]))) >= 0.0
            ).alias("keep"),
        )
        .orderBy("doc_id")
    )


@register(
    "events_cumulative_users",
    oracle="""
        WITH first_day AS (
            SELECT user_id, MIN(CAST(ts AS DATE)) AS d
            FROM events GROUP BY user_id
        ),
        new_per_day AS (
            SELECT d, CAST(COUNT(*) AS BIGINT) AS new_users
            FROM first_day GROUP BY d
        )
        SELECT d, new_users,
               CAST(SUM(new_users) OVER (ORDER BY d
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumulative_users
        FROM new_per_day
        ORDER BY d
    """,
    tags=("events", "growth"),
)
def events_cumulative_users(spark, sf_dir):
    """Cumulative unique users per day — the growth curve. A naive
    per-day COUNT(DISTINCT user ≤ day) rescans the corpus per day;
    this is the scale shape instead: first-seen day per user (one
    keyed aggregate), new users per day (second aggregate, calendar-
    sized), then a running sum over the CALENDAR-sized table — the
    only ordered window runs over days, not users or events."""
    ev = table(spark, sf_dir, "events")
    first_day = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("d")
    )
    per_day = first_day.groupBy("d").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_day.select(
        "d",
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cumulative_users"),
    ).orderBy("d")


@register(
    "events_revenue_pareto",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   SUM(CAST(value AS DECIMAL(27,6))) AS rev
            FROM events WHERE event_type = 'purchase'
            GROUP BY user_id
        ),
        ranked AS (
            SELECT user_id, rev,
                   ROW_NUMBER() OVER (ORDER BY rev DESC, user_id) AS rk,
                   SUM(rev) OVER (ORDER BY rev DESC, user_id
                                  ROWS UNBOUNDED PRECEDING) AS crev,
                   CAST(COUNT(*) OVER () AS BIGINT) AS total,
                   SUM(rev) OVER () AS vtotal
            FROM per_user
        )
        SELECT CAST((rk * 10 - 1) // total + 1 AS INT) AS decile,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               ROUND(CAST(MAX(crev) AS DOUBLE), 6) AS cum_revenue,
               ROUND(CAST(MAX(crev) AS DOUBLE) / CAST(MAX(vtotal) AS DOUBLE),
                     6) AS cum_share
        FROM ranked
        GROUP BY 1
        ORDER BY decile
    """,
    tags=("events", "stats"),
)
def events_revenue_pareto(spark, sf_dir):
    """Revenue concentration curve (the 80/20 readout): users ranked
    by purchase revenue, cumulative revenue share at each user decile.
    The running sum uses the DISTRIBUTED two-level prefix pattern
    (operators/ranking.py with_global_running_sum — per-bucket windows
    plus a model-sized offset pass), never a single-partition window
    over all users; decimal addition is associative, so the
    distributed running sum equals the oracle's sequential one
    bit-for-bit. Output is 10 decile rows."""
    from opusdb_spark.operators import ranking

    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(27,6)")).alias("rev")
    )
    ranked = ranking.with_global_running_sum(
        per_user,
        [F.desc("rev"), F.asc("user_id")],
        F.col("rev").cast("double"),
        F.col("rev"),
        descending=True,
        rank_out="rk",
        sum_out="crev",
    )
    decile = (
        F.expr("(rk * 10 - 1) DIV _total").cast("int") + 1
    )
    return (
        ranked.groupBy(decile.alias("decile"))
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(F.max("crev").cast("double"), 6).alias("cum_revenue"),
            F.round(
                F.max("crev").cast("double")
                / F.max("_vtotal").cast("double"),
                6,
            ).alias("cum_share"),
        )
        .orderBy("decile")
    )


# ------------------------------------------------ funnel conversion
# Ordered multi-step funnel — the product-analytics staple every event
# engine ships (reference anchor: the reference's only event surface
# is lifecycle hooks, events.clj:8-27; SURVEY §2C extension). Step k
# must happen STRICTLY AFTER step k-1 and inside a 7-day window from
# step 1 — the "did the user view, then click, then purchase?" shape
# that a naive type-count query gets wrong (it ignores order).
_FUNNEL_ORACLE = """
    WITH e1 AS (
        SELECT user_id, ts, event_type,
               MIN(CASE WHEN event_type = 'view' THEN ts END)
                   OVER (PARTITION BY user_id) AS t1
        FROM events
    ),
    e2 AS (
        SELECT *,
               MIN(CASE WHEN event_type = 'click' AND ts > t1
                         AND ts <= t1 + INTERVAL 7 DAY THEN ts END)
                   OVER (PARTITION BY user_id) AS t2
        FROM e1
    ),
    e3 AS (
        SELECT *,
               MIN(CASE WHEN event_type = 'purchase' AND ts > t2
                         AND ts <= t1 + INTERVAL 7 DAY THEN ts END)
                   OVER (PARTITION BY user_id) AS t3
        FROM e2
    ),
    u AS (
        SELECT user_id, MAX(t1) AS t1, MAX(t2) AS t2, MAX(t3) AS t3
        FROM e3 GROUP BY user_id
    ),
    counts AS (
        SELECT CAST(COUNT(t1) AS BIGINT) AS n1,
               CAST(COUNT(t2) AS BIGINT) AS n2,
               CAST(COUNT(t3) AS BIGINT) AS n3
        FROM u
    )
    SELECT 1 AS step, 'view' AS step_type, n1 AS users,
           ROUND(1.0, 6) AS conv_from_top FROM counts
    UNION ALL
    SELECT 2, 'click', n2,
           ROUND(CAST(n2 AS DOUBLE) / n1, 6) FROM counts
    UNION ALL
    SELECT 3, 'purchase', n3,
           ROUND(CAST(n3 AS DOUBLE) / n1, 6) FROM counts
    ORDER BY step
"""


@register(
    "events_funnel_conversion",
    oracle=_FUNNEL_ORACLE,
    tags=("events", "funnel"),
)
def events_funnel_conversion(spark, sf_dir):
    """Ordered 3-step funnel (view → click → purchase, 7-day window):
    per-step user counts and conversion from the top of the funnel.

    Scale shape: ONE shuffle on user_id, zero joins — the per-user
    step-1 time is a window min available on every row, and each later
    step is a window min over rows gated by the PREVIOUS step's time
    (sequential projections, so all three window passes share the same
    partitioning and Catalyst plans a single Exchange; at 100 TB the
    funnel costs one user-keyed shuffle however many steps deep). The
    per-user frame then collapses with a count-non-null aggregation —
    never a per-step self-join (the textbook funnel-as-N-joins shape
    multiplies the fact scan by the step count).
    """
    w_u = Window.partitionBy("user_id")
    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    day7 = F.expr("INTERVAL 7 DAYS")
    e1 = ev.withColumn(
        "t1",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w_u),
    )
    e2 = e1.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & (F.col("ts") > F.col("t1"))
                & (F.col("ts") <= F.col("t1") + day7),
                F.col("ts"),
            )
        ).over(w_u),
    )
    e3 = e2.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("t2"))
                & (F.col("ts") <= F.col("t1") + day7),
                F.col("ts"),
            )
        ).over(w_u),
    )
    u = e3.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3")
    )
    counts = u.agg(
        F.count("t1").alias("n1"),
        F.count("t2").alias("n2"),
        F.count("t3").alias("n3"),
    )
    steps = counts.select(
        F.posexplode(
            F.array(F.col("n1"), F.col("n2"), F.col("n3"))
        ).alias("idx", "users"),
        F.col("n1"),
    )
    names = F.array(F.lit("view"), F.lit("click"), F.lit("purchase"))
    return steps.select(
        (F.col("idx") + 1).alias("step"),
        F.element_at(names, F.col("idx") + 1).alias("step_type"),
        "users",
        F.round(
            F.col("users").cast("double") / F.col("n1").cast("double"), 6
        ).alias("conv_from_top"),
    ).orderBy("step")


# ------------------------------------------------ cohort retention
# The retention triangle: users grouped by first-activity week, then
# the share of each cohort still active k weeks later — the other
# product-analytics staple (and the canonical "two groupings of the
# same fact at different grains" plan).
_COHORT_ORACLE = """
    WITH first_seen AS (
        SELECT user_id,
               CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
        FROM events GROUP BY user_id
    ),
    active AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('week', ts) AS DATE) AS week
        FROM events
    ),
    ret AS (
        SELECT f.cohort_week,
               CAST(date_diff('day', f.cohort_week, a.week) / 7 AS BIGINT)
                   AS week_offset,
               CAST(COUNT(*) AS BIGINT) AS n_active
        FROM active a JOIN first_seen f ON a.user_id = f.user_id
        GROUP BY 1, 2
    )
    SELECT CAST(cohort_week AS VARCHAR) AS cohort_week, week_offset,
           n_active,
           ROUND(CAST(n_active AS DOUBLE)
                 / MAX(CASE WHEN week_offset = 0 THEN n_active END)
                   OVER (PARTITION BY cohort_week), 6) AS retention
    FROM ret ORDER BY cohort_week, week_offset
"""


@register(
    "events_cohort_retention",
    oracle=_COHORT_ORACLE,
    tags=("events", "cohort"),
)
def events_cohort_retention(spark, sf_dir):
    """Weekly cohort retention triangle: cohort = ISO week of a user's
    first event; each cell = users of that cohort active k weeks later,
    as a share of the cohort's week-0 size.

    Scale shape: ONE user-keyed aggregation over the fact table
    computes the cohort week AND the distinct active weeks together
    (collect_set is bounded by the number of calendar weeks in the
    retention horizon — model-sized per user however big the corpus),
    so there is no fact-fact join at all; the week fan-out explodes a
    user-sized frame into cohort cells, and the retention window and
    division run on the model-sized cell table. The week-0 denominator
    comes from a window max over the cells (never a second fact scan).
    """
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("week")
    )
    per_user = ev.groupBy("user_id").agg(
        F.min("week").alias("cohort_week"),
        F.collect_set("week").alias("weeks"),
    )
    ret = (
        per_user.select(
            "cohort_week", F.explode("weeks").alias("week")
        )
        .groupBy(
            "cohort_week",
            (F.datediff(F.col("week"), F.col("cohort_week")) / 7)
            .cast("bigint")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    w_c = Window.partitionBy("cohort_week")
    week0 = F.max(
        F.when(F.col("week_offset") == 0, F.col("n_active"))
    ).over(w_c)
    return ret.select(
        F.col("cohort_week").cast("string").alias("cohort_week"),
        "week_offset",
        "n_active",
        F.round(
            F.col("n_active").cast("double") / week0.cast("double"), 6
        ).alias("retention"),
    ).orderBy("cohort_week", "week_offset")


# ------------------------------------------- last-touch attribution
# Marketing attribution — which touch (view or click) gets credit for
# a purchase — done the streaming-friendly way: ONE ordered pass per
# user carrying the most recent touch forward (last_value IGNORE
# NULLS), then purchases read the carried touch if it landed within
# the 1-day attribution window. The naive form is a per-purchase
# as-of self-join; the carry form is one user-keyed window over one
# fact scan and is exactly how a stateful stream would compute it.
_ATTRIB_ORACLE = """
    WITH carried AS (
        SELECT event_type, ts, value,
               last_value(CASE WHEN event_type IN ('view', 'click')
                               THEN event_type END IGNORE NULLS)
                   OVER w AS touch_type,
               last_value(CASE WHEN event_type IN ('view', 'click')
                               THEN ts END IGNORE NULLS)
                   OVER w AS touch_ts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT COALESCE(CASE WHEN touch_ts >= ts - INTERVAL 1 DAY
                         THEN touch_type END, 'direct') AS touch,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE)
               AS attributed_revenue
    FROM carried WHERE event_type = 'purchase'
    GROUP BY 1 ORDER BY 1
"""


@register(
    "events_attribution_lasttouch",
    oracle=_ATTRIB_ORACLE,
    tags=("events", "attribution"),
)
def events_attribution_lasttouch(spark, sf_dir):
    """Last-touch revenue attribution (1-day window): every purchase
    credits the user's most recent view/click, or 'direct' when none
    is recent enough.

    Scale shape: one user-keyed window pass carries the latest touch
    onto every row (last_value ignoreNulls — the same carry the
    streaming stateful operator would keep as per-key state), so the
    plan is ONE fact shuffle + a model-sized groupBy; the as-of
    SELF-JOIN formulation this replaces shuffles the fact table twice
    and re-sorts both sides. Decimal-exact revenue rollup.
    """
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_touch = F.col("event_type").isin("view", "click")
    carried = ev.select(
        "event_type",
        "ts",
        "value",
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("touch_type"),
        F.last(F.when(is_touch, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("touch_ts"),
    )
    return (
        carried.filter(F.col("event_type") == "purchase")
        .groupBy(
            F.coalesce(
                F.when(
                    F.col("touch_ts")
                    >= F.col("ts") - F.expr("INTERVAL 1 DAY"),
                    F.col("touch_type"),
                ),
                F.lit("direct"),
            ).alias("touch")
        )
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            dsum("value", "attributed_revenue"),
        )
        .orderBy("touch")
    )


# --------------------------------------------- time-weighted average
# The hypertable/metrics staple (TimescaleDB's time_weight, kdb's wavg
# by time): a sensor that reports rarely must not be averaged like one
# that reports often — each observation is weighted by how long it was
# the CURRENT value (last-observation-carried-forward until the next
# event). Plain AVG answers "mean of reports"; TWAP answers "mean of
# the signal over time".
_TWAP_ORACLE = """
    WITH seq AS (
        SELECT event_type, value, ts,
               LEAD(ts) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id
               ) AS next_ts
        FROM events
    ),
    held AS (
        SELECT event_type, value,
               CAST(FLOOR(epoch(next_ts - ts)) AS BIGINT) AS dt_s
        FROM seq WHERE next_ts IS NOT NULL
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(dt_s) AS BIGINT) AS span_s,
           ROUND(CAST(SUM(CAST(value * dt_s AS DECIMAL(27,6))) AS DOUBLE)
                 / SUM(dt_s), 6) AS twap,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE)
                 / COUNT(*), 6) AS naive_avg
    FROM held GROUP BY event_type ORDER BY event_type
"""


@register(
    "events_time_weighted_avg",
    oracle=_TWAP_ORACLE,
    tags=("events", "timeseries"),
)
def events_time_weighted_avg(spark, sf_dir):
    """Per-type time-weighted average (LOCF weighting: each value holds
    until the next event; whole-second hold durations, integer-exact in
    both engines), shipped next to the naive mean so the sampling-bias
    correction is visible data.

    Scale shape: the naive lowering — LEAD over a window keyed on the
    SERIES id — is a parallelism ceiling when the series key is
    low-cardinality (5 event types ⇒ 5 tasks sort everything, at any
    cluster size). So the LEAD is bucket-split: the window runs per
    (type, hour) — cardinality types × hours, thousands of tasks — and
    the one row per bucket whose successor lives in the NEXT bucket is
    stitched from a model-sized boundary table (first ts per non-empty
    bucket, lead over the bucket sequence, broadcast back). Hour
    buckets partition the ts domain, so ties on ts never straddle a
    boundary and the stitched next_ts is exactly the global LEAD. The
    weighted sum still goes through the decimal fold (IEEE product,
    decimal-cast summation) so partition order can't move the result.
    """
    ev = table(spark, sf_dir, "events").select(
        "event_type",
        "value",
        "ts",
        "event_id",
        F.date_trunc("hour", F.col("ts")).alias("bucket"),
    )
    wb = Window.partitionBy("event_type", "bucket").orderBy("ts", "event_id")
    in_bucket = ev.select(
        "event_type",
        "bucket",
        "value",
        "ts",
        F.lead("ts").over(wb).alias("next_in_bucket"),
    )
    # model-sized: one row per non-empty (type, hour) bucket; lead over
    # the per-type bucket sequence names the next bucket's first ts
    wseq = Window.partitionBy("event_type").orderBy("bucket")
    bounds = (
        ev.groupBy("event_type", "bucket")
        .agg(F.min("ts").alias("first_ts"))
        .select(
            "event_type",
            "bucket",
            F.lead("first_ts").over(wseq).alias("next_first_ts"),
        )
    )
    seq = in_bucket.join(
        F.broadcast(bounds), ["event_type", "bucket"], "left"
    ).select(
        "event_type",
        "value",
        "ts",
        F.coalesce("next_in_bucket", "next_first_ts").alias("next_ts"),
    )
    # interval → BIGINT truncates to whole seconds; timezone-free (ts
    # is NTZ — epoch functions are tz-typed and would couple the
    # result to the session zone)
    held = seq.filter(F.col("next_ts").isNotNull()).select(
        "event_type",
        "value",
        F.expr("CAST(next_ts - ts AS BIGINT)").alias("dt_s"),
    )
    return (
        held.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum("dt_s").alias("span_s"),
            F.round(
                F.sum(
                    (F.col("value") * F.col("dt_s")).cast(DEC)
                ).cast("double")
                / F.sum("dt_s"),
                6,
            ).alias("twap"),
            F.round(
                F.sum(F.col("value").cast(DEC)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("naive_avg"),
        )
        .orderBy("event_type")
    )
