"""LLM-data-pipeline operators (SURVEY §2B mandate, BASELINE.json:6):
dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding
cosine), similarity search (brute-force + LSH ANN), text analysis
(lang-ID, quality, tokens, fingerprints), multimodal column plumbing.

Tables: documents(doc_id, text, lang, source, n_chars) and
embeddings(vec_id, embedding array<float> dim=64, label).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from opusdb_spark.operators import ann_index, dedup, similarity
from opusdb_spark.operators import text as T
from opusdb_spark.registry import register
from opusdb_spark.tables import table


@register(
    "llm_dedup_exact",
    oracle="""
        SELECT text_hash, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
        FROM (SELECT doc_id, sha256(text) AS text_hash FROM documents)
        GROUP BY text_hash
    """,
    tags=("llm", "dedup"),
)
def llm_dedup_exact(spark, sf_dir):
    """Exact text dedup: sha2(text,256) groups, keep min doc_id.
    One hash-groupBy shuffle; the canonical first pass of any 100 TB
    text pipeline."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.sha2("text", 256).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


@register(
    "llm_soft_dedup_weights",
    oracle="""
        SELECT doc_id,
               CAST(COUNT(*) OVER (PARTITION BY sha256(text)) AS BIGINT)
                   AS n_copies,
               1.0 / COUNT(*) OVER (PARTITION BY sha256(text)) AS weight
        FROM documents
        ORDER BY doc_id
    """,
    tags=("llm", "dedup"),
)
def llm_soft_dedup_weights(spark, sf_dir):
    """Soft dedup: instead of DROPPING duplicates, every document gets
    a sampling weight 1/n_copies of its exact-hash group, so repeated
    text contributes once in expectation while rare text keeps full
    weight (the reweighting alternative to llm_dedup_exact's hard
    drop). One hash-partitioned window — same single-shuffle cost as
    the hard dedup; the weight column then feeds llm_temperature_mix /
    llm_shuffle_shard style samplers downstream."""
    docs = table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.sha2("text", 256))
    n = F.count(F.lit(1)).over(w)
    return (
        docs.select(
            "doc_id",
            n.alias("n_copies"),
            (F.lit(1.0) / n).alias("weight"),
        )
        .orderBy("doc_id")
    )


@register(
    "llm_dedup_keep_best",
    oracle="""
        WITH d AS (
            SELECT doc_id, source, n_chars,
                   md5(lower(trim(text))) AS norm_hash
            FROM documents
        ),
        r AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY norm_hash
                                         ORDER BY n_chars DESC, doc_id) AS rn
            FROM d
        ),
        g AS (
            SELECT norm_hash, COUNT(*) AS n_copies,
                   COUNT(DISTINCT source) AS n_sources
            FROM d GROUP BY norm_hash
        )
        SELECT g.norm_hash, r.doc_id AS keep_doc_id, g.n_copies, g.n_sources
        FROM g JOIN r ON r.norm_hash = g.norm_hash AND r.rn = 1
    """,
    tags=("llm", "dedup"),
)
def llm_dedup_keep_best(spark, sf_dir):
    """Exact dedup with a REPRESENTATIVE-SELECTION policy: cluster on a
    normalized text key (lower+trim — catches case/padding variants the
    raw sha2 pass treats as distinct), keep the longest member, tie →
    min doc_id. One hash-groupBy shuffle; the deterministic keep rule is
    an ordered-struct min (no second window pass), which is how a
    100 TB pipeline picks canonical docs without re-sorting clusters."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            "source",
            "n_chars",
            F.md5(F.lower(F.trim(F.col("text")))).alias("norm_hash"),
        )
        .groupBy("norm_hash")
        .agg(
            F.min(
                F.struct(
                    (-F.col("n_chars")).alias("neg_len"),
                    F.col("doc_id").alias("doc_id"),
                )
            ).alias("_keep"),
            F.count(F.lit(1)).alias("n_copies"),
            # size(collect_set) not countDistinct: count-distinct would
            # plan a second expand+exchange phase; the set stays one
            # cluster-of-duplicates wide (bounded), so this keeps the
            # whole query at exactly one shuffle
            F.size(F.collect_set("source")).cast("bigint").alias("n_sources"),
        )
        .select(
            "norm_hash",
            F.col("_keep.doc_id").alias("keep_doc_id"),
            "n_copies",
            "n_sources",
        )
    )


def _minhash_sigs(spark, sf_dir):
    """Ingest-once MinHash signature store for this corpus, shared by
    every dedup query (fuzzy pairs / clustering / pipeline) — the
    signature column is written at ingest, not recomputed per query."""
    import hashlib
    import os

    from opusdb_spark.sources.formats import scratch_path, stat_fingerprint

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    base = os.path.basename(os.path.normpath(sf_dir))
    return dedup.minhash_signatures_stored(
        spark,
        table(spark, sf_dir, "documents"),
        scratch_path(f"minhash_sigs_{base}_{tag}"),
        stat_fingerprint(f"{sf_dir}/documents.parquet"),
    )


def _simhash_fps(spark, sf_dir):
    """Ingest-once SimHash fingerprint store for this corpus (same
    contract as _minhash_sigs)."""
    import hashlib
    import os

    from opusdb_spark.sources.formats import scratch_path, stat_fingerprint

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    base = os.path.basename(os.path.normpath(sf_dir))
    return dedup.simhash_fingerprints_stored(
        spark,
        table(spark, sf_dir, "documents"),
        scratch_path(f"simhash_fps_{base}_{tag}"),
        stat_fingerprint(f"{sf_dir}/documents.parquet"),
    )


def _minhash_pairs(spark, sf_dir, threshold: float = 0.5):
    """Ingest-once near-dup PAIR GRAPH for this corpus (band join +
    estimate run once per (corpus, threshold); fuzzy listing,
    clustering, and the pipeline all read the same parquet)."""
    import hashlib
    import os

    from opusdb_spark.sources.formats import scratch_path, stat_fingerprint

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    base = os.path.basename(os.path.normpath(sf_dir))
    return dedup.minhash_pairs_stored(
        spark,
        table(spark, sf_dir, "documents"),
        scratch_path(f"minhash_pairs_{base}_{tag}"),
        stat_fingerprint(f"{sf_dir}/documents.parquet"),
        jaccard_threshold=threshold,
        sig=_minhash_sigs(spark, sf_dir),
    )


def _minhash_components(spark, sf_dir, threshold: float = 0.5):
    """Ingest-once CONNECTED COMPONENTS over the near-dup pair graph
    (same contract as _minhash_pairs — the components are as
    corpus-shaped as the pairs, so the O(log n) star rounds run at
    ingest and cluster queries are a parquet read + groupBy)."""
    import hashlib
    import os

    from opusdb_spark.sources.formats import scratch_path, stat_fingerprint

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    base = os.path.basename(os.path.normpath(sf_dir))
    return dedup.components_stored(
        spark,
        _minhash_pairs(spark, sf_dir, threshold),
        scratch_path(f"minhash_components_{base}_{tag}"),
        # n_minhash rides in the fingerprint: the pair graph rebuilds
        # when the signature hyperparams change, and the derived
        # components must go stale WITH it, not serve the old graph
        stat_fingerprint(
            f"{sf_dir}/documents.parquet",
            threshold=threshold,
            n_minhash=dedup.N_MINHASH,
        ),
    )


def _oracle_sf_dir() -> str:
    """The canonical ORACLE corpus dir (the driver judges at sf0.01;
    OPUSDB_PARITY_SF_DIR overrides for local parity runs) — shared by
    every artifact-reading oracle builder."""
    import os

    return os.environ.get("OPUSDB_PARITY_SF_DIR", "/root/testdata/sf0.01")


def _oracle_scratch(prefix: str) -> str:
    """Scratch-store path of the oracle corpus's ingest artifact,
    replicating the `{prefix}_{basename}_{md5tag}` naming the Spark
    query helpers use — ONE place for the scheme on the oracle side
    (it was previously copy-pasted per builder)."""
    import hashlib
    import os

    from opusdb_spark.sources.formats import scratch_path

    sf_dir = _oracle_sf_dir()
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    base = os.path.basename(os.path.normpath(sf_dir))
    return scratch_path(f"{prefix}_{base}_{tag}")


def _fuzzy_oracle() -> str:
    """DuckDB oracle for llm_dedup_fuzzy (upgraded from rows-only in
    r9): re-derives candidates AND estimates from the persisted
    signature store — the same ingest-artifact convention as
    llm_dedup_cluster (pair graph) and llm_simsearch_lsh (sigs). The
    artifact path is the canonical oracle corpus (driver's sf0.01);
    the Spark query materializes the store on first run.

    Known semantic gap (accepted): the Spark operator keys candidate
    buckets on a 32-bit F.hash of the band slice (dedup.py:
    lsh_candidate_pairs), while this oracle joins on band CONTENT — a
    murmur3 band-hash COLLISION between unequal bands would admit a
    Spark-only candidate the oracle cannot see, and the pair would
    mismatch iff its signature agreement also clears the threshold
    without any truly-equal band (~2^-32 per doc pair, ~1e-4 odds over
    the corpus's candidate universe)."""
    from opusdb_spark.operators.dedup import N_BANDS, N_MINHASH

    sigs = _oracle_scratch("minhash_sigs")
    r = N_MINHASH // N_BANDS  # rows per band
    return f"""
        WITH sigs AS (
            SELECT doc_id, sig FROM read_parquet('{sigs}/*.parquet')
        ),
        bands AS (
            SELECT doc_id, b,
                   sig[(b * {r} + 1):(b * {r} + {r})] AS band
            FROM sigs, UNNEST(range(0, {N_BANDS})) AS u(b)
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.b = b.b AND a.band = b.band AND a.doc_id < b.doc_id
        ),
        est AS (
            SELECT doc_a, doc_b,
                   (SELECT COUNT(*) FROM UNNEST(range(1, {N_MINHASH + 1}))
                        AS u(i)
                    WHERE sa.sig[CAST(i AS INT)] = sb.sig[CAST(i AS INT)])
                       / {float(N_MINHASH)} AS est_jaccard
            FROM cand
            JOIN sigs sa ON sa.doc_id = doc_a
            JOIN sigs sb ON sb.doc_id = doc_b
        )
        SELECT doc_a, doc_b, est_jaccard FROM est
        WHERE est_jaccard >= 0.5
        ORDER BY doc_a, doc_b
    """


@register("llm_dedup_fuzzy", oracle=_fuzzy_oracle, tags=("llm", "dedup"))
def llm_dedup_fuzzy(spark, sf_dir):
    """Near-dup pairs via MinHash+LSH over shingles. Band-bucket joins
    only — no all-pairs comparison; the pair graph comes from the
    persisted ingest store (operators/dedup.py). Hash-oracled since
    r9: given the persisted signature store, the banding (agree on all
    4 rows of ≥1 of 8 bands), the agreement-fraction estimate (k/32 —
    a power-of-two division, exact in both engines), and the ≥ 0.5
    threshold are all deterministic algebra DuckDB re-derives
    independently; only the signature GENERATION (xxhash64 shingle
    minima) stays engine-specific, covered by the calibration query
    and property tests."""
    return _minhash_pairs(spark, sf_dir).orderBy("doc_a", "doc_b")


def _incremental_oracle() -> str:
    """DuckDB oracle for llm_dedup_incremental (upgraded from rows-only
    in r9): same signature-store replay as _fuzzy_oracle, asymmetric —
    the arriving batch (doc_id % 10 = 0) banded against the rest."""
    from opusdb_spark.operators.dedup import N_BANDS, N_MINHASH

    sigs = _oracle_scratch("minhash_sigs")
    r = N_MINHASH // N_BANDS
    return f"""
        WITH sigs AS (
            SELECT doc_id, sig FROM read_parquet('{sigs}/*.parquet')
        ),
        bands AS (
            SELECT doc_id, b,
                   sig[(b * {r} + 1):(b * {r} + {r})] AS band
            FROM sigs, UNNEST(range(0, {N_BANDS})) AS u(b)
        ),
        cand AS (
            SELECT DISTINCT n.doc_id AS new_doc, e.doc_id AS dup_of
            FROM bands n JOIN bands e
              ON n.b = e.b AND n.band = e.band
            WHERE n.doc_id % 10 = 0 AND e.doc_id % 10 <> 0
        ),
        est AS (
            SELECT new_doc, dup_of,
                   (SELECT COUNT(*) FROM UNNEST(range(1, {N_MINHASH + 1}))
                        AS u(i)
                    WHERE sa.sig[CAST(i AS INT)] = sb.sig[CAST(i AS INT)])
                       / {float(N_MINHASH)} AS est_jaccard
            FROM cand
            JOIN sigs sa ON sa.doc_id = new_doc
            JOIN sigs sb ON sb.doc_id = dup_of
        )
        SELECT new_doc, dup_of, est_jaccard FROM est
        WHERE est_jaccard >= 0.5
        ORDER BY new_doc, dup_of
    """


@register(
    "llm_dedup_incremental",
    oracle=_incremental_oracle,
    tags=("llm", "dedup", "incremental"),
)
def llm_dedup_incremental(spark, sf_dir):
    """Incremental-ingest dedup: the arriving batch (doc_id % 10 = 0,
    a deterministic 10% 'daily delivery') is near-dup-checked against
    the EXISTING corpus via the persisted signature store — no corpus
    re-banding, no batch self-join; shuffle volume scales with the
    batch (operators/dedup.py:lsh_incremental_pairs). The production
    loop every continuously-ingesting training pipeline runs.
    Hash-oracled since r9: the asymmetric banding + estimate replays
    from the persisted signature store (see _incremental_oracle)."""
    sigs = _minhash_sigs(spark, sf_dir)
    batch = sigs.filter(F.col("doc_id") % 10 == 0)
    base = sigs.filter(F.col("doc_id") % 10 != 0)
    return dedup.lsh_incremental_pairs(batch, base, 0.5).orderBy(
        "new_doc", "dup_of"
    )


def _simhash_oracle() -> str:
    """DuckDB oracle for llm_dedup_simhash (upgraded from rows-only in
    r9): the 4×16-bit pigeonhole blocking is COMPLETE for Hamming ≤ 3
    (3 flipped bits cannot touch all 4 blocks), so the blocked result
    provably equals the exhaustive all-pairs check — which DuckDB runs
    directly on the persisted fingerprint store with xor + bit_count.
    The oracle is deliberately the brute-force formulation: a hash
    match is simultaneously a completeness proof of the blocking."""
    fps = _oracle_scratch("simhash_fps")
    return f"""
        WITH fps AS (
            SELECT doc_id, simhash FROM read_parquet('{fps}/*.parquet')
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INT)
                   AS hamming
        FROM fps a JOIN fps b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        ORDER BY doc_a, doc_b
    """


@register("llm_dedup_simhash", oracle=_simhash_oracle, tags=("llm", "dedup"))
def llm_dedup_simhash(spark, sf_dir):
    """Near-dup pairs via 64-bit SimHash, Hamming ≤ 3, pigeonhole-block
    candidate generation; fingerprints come from the persisted ingest
    store. Hash-oracled since r9 against the EXHAUSTIVE all-pairs
    formulation in DuckDB — the match doubles as a completeness proof
    of the 4×16-bit blocking (see _simhash_oracle)."""
    docs = table(spark, sf_dir, "documents")
    return dedup.simhash_near_dups(
        docs, max_hamming=3, fp=_simhash_fps(spark, sf_dir)
    ).orderBy("doc_a", "doc_b")


def _gram_pair_stats(grams):
    """Exact-Jaccard building blocks over a (doc_id, gh) shingle table:
    co-gram pair intersection counts joined with both docs' gram-set
    sizes → (doc_a, doc_b, inter, na, nb). Candidates come from the
    shared-gram equi-join (never all-pairs), keyed on the 8-byte gram
    hash. Shared by the ngram-Jaccard dedup pass and the MinHash
    calibration eval so the two always measure the same quantity."""
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = grams.select(F.col("doc_id").alias("doc_a"), "gh")
    b = grams.select(F.col("doc_id").alias("doc_b"), "gh")
    pairs = (
        a.join(b, "gh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return pairs.join(sa, "doc_a").join(sb, "doc_b")


def _word3grams(docs):
    """Distinct word-3-gram shingles per doc as (doc_id, gh) with gh an
    xxhash64 of the gram text — the shuffle/join key is only ever
    compared, so 8-byte keys replace gram text everywhere downstream
    (the decontaminate pattern; set sizes and intersections agree with
    the text-keyed oracles barring a 64-bit collision). Shared by the
    exact-Jaccard dedup pass and the MinHash calibration eval. The scan
    is spread() first: gram hashing is ~100× per-row fan-out and a
    single-split scan would serialize it on one core."""
    from opusdb_spark.operators.skew import spread

    docs = spread(docs)
    # r13 (guide §4.1, the llm_decontaminate finding): posexplode +
    # element_at projection instead of a transform() lambda — HOFs are
    # CodegenFallback (interpreted per element). Gram values are
    # bit-identical (concat_ws of the three words == array_join of the
    # 3-slice on a null-free split; count + bit_xor verified at sf1).
    w = F.split(F.col("text"), " ")
    pe = docs.select("doc_id", w.alias("_w")).select(
        "doc_id", "_w", F.posexplode("_w").alias("_pos", "_w1")
    )
    return (
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



_NGRAM_JACCARD_ORACLE = """
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
        pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
            FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id)
        SELECT doc_a, doc_b,
               CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
        FROM pairs
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8
"""


@register(
    "llm_dedup_ngram_jaccard",
    oracle=_NGRAM_JACCARD_ORACLE,
    tags=("llm", "dedup"),
)
def llm_dedup_ngram_jaccard(spark, sf_dir):
    """Exact word-3-gram Jaccard ≥ 0.8 pairs. Candidate pairs come from a
    shared-gram equi-join (never all-pairs); integer intersection /
    union arithmetic → exact SQL-oracle parity."""
    docs = table(spark, sf_dir, "documents")
    stats = _gram_pair_stats(_word3grams(docs))
    jac = F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        stats.select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.8)
    )


def _calibration_oracle() -> str:
    """DuckDB oracle for llm_minhash_calibration (upgraded from
    rows-only in r9): the estimate side replays from the persisted
    signature store (_fuzzy_oracle) and the exact side is the gram
    Jaccard SQL — so the ESTIMATOR-ACCURACY numbers themselves are now
    second-engine-checked. The oracle computes grams over all docs
    (the Spark side's left-semi prune is a cost optimization with
    identical pair values)."""
    return f"""
        WITH pairs AS ({_fuzzy_oracle()}),
        grams AS (
            SELECT DISTINCT doc_id, g FROM (
                SELECT doc_id,
                       string_split(text, ' ')[i] || ' ' ||
                       string_split(text, ' ')[i+1] || ' ' ||
                       string_split(text, ' ')[i+2] AS g
                FROM documents,
                     LATERAL (SELECT UNNEST(range(1,
                         GREATEST(len(string_split(text, ' ')) - 2, 0)
                         + 1)) AS i)
            )
        ),
        shared AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(COUNT(*) AS BIGINT) AS inter
            FROM grams a JOIN grams b
              ON a.g = b.g AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        sizes AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
            FROM grams GROUP BY doc_id
        ),
        scored AS (
            SELECT p.est_jaccard,
                   CASE WHEN COALESCE(sa.n, 0) + COALESCE(sb.n, 0)
                             - COALESCE(s.inter, 0) > 0
                        THEN CAST(COALESCE(s.inter, 0) AS DOUBLE)
                             / (COALESCE(sa.n, 0) + COALESCE(sb.n, 0)
                                - COALESCE(s.inter, 0))
                   END AS exact_jaccard
            FROM pairs p
            LEFT JOIN shared s
              ON s.doc_a = p.doc_a AND s.doc_b = p.doc_b
            LEFT JOIN sizes sa ON sa.doc_id = p.doc_a
            LEFT JOIN sizes sb ON sb.doc_id = p.doc_b
        )
        SELECT FLOOR(est_jaccard * 10) / 10 AS est_bucket,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(COUNT(*) - COUNT(exact_jaccard) AS BIGINT)
                   AS n_ungradeable,
               ROUND(CAST(SUM(CAST(est_jaccard AS DECIMAL(27,6)))
                          AS DOUBLE) / COUNT(*), 6) AS mean_est,
               ROUND(CAST(SUM(CAST(exact_jaccard AS DECIMAL(27,6)))
                          AS DOUBLE) / COUNT(exact_jaccard), 6)
                   AS mean_exact,
               ROUND(CAST(SUM(CAST(ABS(est_jaccard - exact_jaccard)
                          AS DECIMAL(27,6))) AS DOUBLE)
                     / COUNT(exact_jaccard), 6) AS mean_abs_err
        FROM scored
        GROUP BY 1 ORDER BY 1
    """


@register(
    "llm_minhash_calibration",
    oracle=_calibration_oracle(),
    tags=("llm", "dedup", "eval"),
)
def llm_minhash_calibration(spark, sf_dir):
    """MinHash estimator CALIBRATION: over the persisted candidate-pair
    graph, compare the signature-estimated Jaccard to the exact 3-gram
    Jaccard, bucketed by estimate decile — measured estimator accuracy,
    the text-dedup counterpart of llm_ann_recall_eval. Exact grams are
    computed ONLY for docs that appear in candidate pairs (left-semi
    prune), so the eval cost scales with the candidate set, not the
    corpus. Hash-oracled since r9: the estimate replays from the
    persisted signature store, the exact side from the gram SQL, so
    the calibration numbers are second-engine-checked (see
    _calibration_oracle)."""
    pairs = _minhash_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", "est_jaccard"
    )
    docs = table(spark, sf_dir, "documents")
    cand_ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    grams = _word3grams(docs).join(cand_ids, "doc_id", "left_semi")
    stats = _gram_pair_stats(grams)
    # sizes come from their OWN per-doc joins (not only from the
    # shared-gram pair stats): a candidate pair whose docs share no
    # exact 3-gram — or have no grams at all (<3-word texts, where
    # the MinHash impl falls back to whole-text shingles) — must not
    # silently vanish from the error means via NULL arithmetic.
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("_n"))
    scored = (
        pairs.join(
            stats.select("doc_a", "doc_b", "inter"), ["doc_a", "doc_b"], "left"
        )
        .join(
            sizes.select(
                F.col("doc_id").alias("doc_a"), F.col("_n").alias("na")
            ),
            "doc_a",
            "left",
        )
        .join(
            sizes.select(
                F.col("doc_id").alias("doc_b"), F.col("_n").alias("nb")
            ),
            "doc_b",
            "left",
        )
        .withColumn("inter", F.coalesce("inter", F.lit(0)))
        .withColumn("na", F.coalesce("na", F.lit(0)))
        .withColumn("nb", F.coalesce("nb", F.lit(0)))
    )
    union = F.col("na") + F.col("nb") - F.col("inter")
    # union == 0 (both docs gram-less) has no exact Jaccard to grade
    # against: reported separately as n_ungradeable, never averaged
    exact = F.when(union > 0, F.col("inter").cast("double") / union)
    scored = scored.select("est_jaccard", exact.alias("exact_jaccard"))
    bucket = (F.floor(F.col("est_jaccard") * 10) / 10).alias("est_bucket")
    n_graded = F.count("exact_jaccard")
    return (
        scored.groupBy(bucket)
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            (F.count(F.lit(1)) - n_graded).alias("n_ungradeable"),
            F.round(
                F.sum(F.col("est_jaccard").cast("decimal(27,6)")).cast(
                    "double"
                )
                / F.count(F.lit(1)),
                6,
            ).alias("mean_est"),
            F.round(
                F.sum(F.col("exact_jaccard").cast("decimal(27,6)")).cast(
                    "double"
                )
                / n_graded,
                6,
            ).alias("mean_exact"),
            F.round(
                F.sum(
                    F.abs(
                        F.col("est_jaccard") - F.col("exact_jaccard")
                    ).cast("decimal(27,6)")
                ).cast("double")
                / n_graded,
                6,
            ).alias("mean_abs_err"),
        )
        .orderBy("est_bucket")
    )


# 64-dim probe expansion for the similarity oracle (all vectors are
# 64-dimensional; see FIXTURES.md).
_SIM_ORACLE = """
    WITH idx AS (SELECT UNNEST(range(1, 65)) AS i),
    probe AS (
        SELECT i, CAST(embedding[i] AS DOUBLE) AS p
        FROM embeddings CROSS JOIN idx WHERE vec_id = 0
    ),
    pn AS (SELECT CAST(SUM(CAST(p * p AS DECIMAL(27,12))) AS DOUBLE) AS np FROM probe),
    flat AS (
        SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
        FROM embeddings CROSS JOIN idx WHERE vec_id <> 0
    ),
    scored AS (
        SELECT vec_id,
               CAST(SUM(CAST(x * p AS DECIMAL(27,12))) AS DOUBLE) AS dot,
               CAST(SUM(CAST(x * x AS DECIMAL(27,12))) AS DOUBLE) AS nx
        FROM flat JOIN probe USING (i)
        GROUP BY vec_id
    )
    SELECT vec_id, dot / SQRT(nx * np) AS cosine
    FROM scored CROSS JOIN pn
    WHERE nx > 0 AND np > 0
    ORDER BY cosine DESC, vec_id LIMIT 10
"""


@register("llm_similarity_topk", oracle=_SIM_ORACLE, tags=("llm", "similarity"))
def llm_similarity_topk(spark, sf_dir):
    """Brute-force cosine top-10 neighbors of vec_id=0 — exact decimal
    dot products so scores match the SQL oracle bit-for-bit
    (operators/similarity.py)."""
    emb = table(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(emb, probe_id=0, k=10)


def _ann_index(spark, sf_dir) -> str:
    """Build-once persisted ANN index for this corpus (idempotent: a
    marker fingerprint skips the build when the source is unchanged) —
    the ingest/query split a production vector store has."""
    emb = table(spark, sf_dir, "embeddings")
    return ann_index.ensure_index(
        spark,
        emb,
        ann_index.index_dir_for(sf_dir),
        ann_index.source_fingerprint(sf_dir),
    )


def _probe_rescore_cte(cand: str = "cand") -> str:
    """CTE block scoring `cand(vec_id)` against probe vec 0 with the
    canonical decimal-fold cosine (_SIM_ORACLE's algebra) —
    single-sourced so an exactness-policy change (decimal width,
    guard) cannot silently fork between the probe oracles. Emits
    idx64/probe0/pn/flat/scored; callers append their own final
    SELECT over scored × pn."""
    return f"""
        idx64 AS (SELECT UNNEST(range(1, 65)) AS i),
        probe0 AS (
            SELECT i, CAST(embedding[i] AS DOUBLE) AS p
            FROM embeddings CROSS JOIN idx64 WHERE vec_id = 0
        ),
        pn AS (
            SELECT CAST(SUM(CAST(p * p AS DECIMAL(27,12))) AS DOUBLE)
                AS np FROM probe0
        ),
        flat AS (
            SELECT e.vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
            FROM embeddings e JOIN {cand} USING (vec_id)
            CROSS JOIN idx64
        ),
        scored AS (
            SELECT vec_id,
                   CAST(SUM(CAST(x * p AS DECIMAL(27,12))) AS DOUBLE)
                       AS dot,
                   CAST(SUM(CAST(x * x AS DECIMAL(27,12))) AS DOUBLE)
                       AS nx
            FROM flat JOIN probe0 USING (i)
            GROUP BY vec_id
        )"""


_PROBE_TOPK_SQL = """
        SELECT vec_id, dot / SQRT(nx * np) AS cosine
        FROM scored CROSS JOIN pn
        WHERE nx > 0 AND np > 0
        ORDER BY cosine DESC, vec_id LIMIT 10
    """


def _lsh_oracle() -> str:
    """DuckDB oracle for llm_simsearch_lsh (upgraded from rows-only in
    r9): the ANN result is DETERMINISTIC given the persisted signature
    store — candidates are exactly the vectors sharing any (table_id,
    bucket) with the probe — and the ranking is the same decimal-fold
    cosine _SIM_ORACLE already replays hash-exactly. So the oracle
    joins the SAME sigs/ parquet the Spark probe's bucket lookup reads
    (same ingest-artifact convention as llm_dedup_cluster's pair
    graph) and re-ranks the candidate set independently; the signature
    GENERATION (numpy plane matmul) stays engine-specific and is
    covered by build/probe consistency tests. Artifact path = the
    canonical oracle corpus (driver's sf0.01); the Spark query
    materializes the index on first run."""
    import os

    from opusdb_spark.operators.ann_index import index_dir_for

    sigs = os.path.join(index_dir_for(_oracle_sf_dir()), "sigs")
    return f"""
        WITH sigs AS (
            SELECT vec_id, table_id, bucket
            FROM read_parquet('{sigs}/**/*.parquet')
        ),
        probe_sigs AS (
            SELECT table_id, bucket FROM sigs WHERE vec_id = 0
        ),
        cand AS (
            SELECT DISTINCT s.vec_id
            FROM sigs s JOIN probe_sigs p USING (table_id, bucket)
            WHERE s.vec_id <> 0
        ),
        {_probe_rescore_cte()}
        {_PROBE_TOPK_SQL}"""


@register("llm_simsearch_lsh", oracle=_lsh_oracle, tags=("llm", "similarity"))
def llm_simsearch_lsh(spark, sf_dir):
    """ANN top-10 via random-hyperplane LSH buckets over the PERSISTED
    index: the probe reads only its L bucket partitions (literal
    PartitionFilters — pinned in tests/test_plans.py), never the
    corpus. Hash-oracled since r9: DuckDB re-derives the candidate set
    from the persisted sigs/ store and replays the decimal cosine, so
    the whole probe path (bucket lookup → candidate read → exact
    rescore → top-k) is value-checked by a second engine."""
    idx = _ann_index(spark, sf_dir)
    vec = ann_index.fetch_vector(spark, idx, probe_id=0)
    return ann_index.lsh_probe(spark, idx, vec, k=10, exclude_id=0, probe_id=0)


def _indexed_json_sql(path: str, idx_alias: str, val_alias: str) -> str:
    """Order-PINNED read of a JSON model file (array of arrays) as
    (index, value) rows: the whole file loads as ONE value
    (format='unstructured') and elements are addressed by explicit
    subscript — never `row_number() OVER ()` on a multi-row JSON scan,
    whose order SQL does not guarantee."""
    return f"""(
        SELECT CAST(i - 1 AS BIGINT) AS {idx_alias},
               all_v[CAST(i AS INT)] AS {val_alias}
        FROM (SELECT json AS all_v FROM read_json('{path}',
                  format='unstructured', records=false)),
             UNNEST(range(1, len(all_v) + 1)) AS u(i)
    )"""


def _ivf_oracle() -> str:
    """DuckDB oracle for llm_simsearch_ivf (upgraded from rows-only in
    r9): the probed-cell choice replays from the persisted centroid
    model (centroids.json stores decimal-rounded floats, so both
    engines parse the SAME doubles; the top-n_probe cosine ranking over
    16 well-separated centroids is float-noise-proof — measured gap at
    the n_probe boundary ~5e-2 vs ~1e-16 summation noise), the
    candidate membership comes from the persisted ivf/ partition
    layout, and the ranking is the same decimal-fold cosine
    _SIM_ORACLE replays hash-exactly."""
    from opusdb_spark.operators.ann_index import index_dir_for
    from opusdb_spark.operators.similarity import N_PROBE

    idx = index_dir_for(_oracle_sf_dir())
    return f"""
        WITH cents AS
            {_indexed_json_sql(f"{idx}/centroids.json", "cell", "c")},
        pvec AS (
            SELECT CAST(embedding AS DOUBLE[]) AS p
            FROM embeddings WHERE vec_id = 0
        ),
        cells AS (
            SELECT cell FROM cents, pvec
            ORDER BY list_dot_product(c, p)
                     / (SQRT(list_dot_product(c, c))
                        * SQRT(list_dot_product(p, p))) DESC, cell
            LIMIT {N_PROBE}
        ),
        cand AS (
            SELECT vec_id
            FROM read_parquet('{idx}/ivf/**/*.parquet',
                              hive_partitioning = 1)
            WHERE cell IN (SELECT cell FROM cells) AND vec_id <> 0
        ),
        {_probe_rescore_cte()}
        {_PROBE_TOPK_SQL}"""


@register("llm_simsearch_ivf", oracle=_ivf_oracle, tags=("llm", "similarity"))
def llm_simsearch_ivf(spark, sf_dir):
    """ANN top-10 via the PERSISTED IVF index (deterministic k-means
    quantizer trained at build time): the probe's n_probe nearest cells
    are literal partition predicates — a partition-pruned parquet read,
    not a corpus re-assignment. Hash-oracled since r9: DuckDB replays
    the cell choice from the persisted centroid model, reads candidate
    membership from the ivf/ partition layout, and re-ranks with the
    decimal cosine — the full coarse-quantizer probe path checked by a
    second engine."""
    idx = _ann_index(spark, sf_dir)
    vec = ann_index.fetch_vector(spark, idx, probe_id=0)
    return ann_index.ivf_probe(spark, idx, vec, k=10, exclude_id=0)


def _ann_recall_oracle() -> str:
    """DuckDB oracle for llm_ann_recall_eval (upgraded from rows-only
    in r9): both halves of the evaluation are now independently
    replayable — the exact side is the decimal-fold ranking (the
    _SIM_ORACLE algebra, batched over 4 probes), the IVF side replays
    per-probe cell choice from the persisted centroid model at BOTH
    n_probe levels and takes candidate membership from the ivf/
    partition layout (same machinery as _ivf_oracle). So the recall
    numbers — the accuracy gate for the index — are value-checked by a
    second engine end-to-end."""
    from opusdb_spark.operators.ann_index import index_dir_for
    from opusdb_spark.operators.similarity import N_PROBE

    idx = index_dir_for(_oracle_sf_dir())
    lv = f"[{N_PROBE}, {2 * N_PROBE}]"
    return f"""
        WITH cents AS
            {_indexed_json_sql(f"{idx}/centroids.json", "cell", "c")},
        pvecs AS (
            SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS p
            FROM embeddings WHERE vec_id IN (0, 1, 2, 3)
        ),
        cellrank AS (
            SELECT probe_id, cell,
                   row_number() OVER (
                       PARTITION BY probe_id
                       ORDER BY list_dot_product(c, p)
                                / (SQRT(list_dot_product(c, c))
                                   * SQRT(list_dot_product(p, p)))
                                DESC, cell
                   ) AS crn
            FROM cents CROSS JOIN pvecs
        ),
        levels AS (SELECT UNNEST({lv}) AS n_probe),
        cand AS (
            SELECT l.n_probe, cr.probe_id, iv.vec_id
            FROM read_parquet('{idx}/ivf/**/*.parquet',
                              hive_partitioning = 1) iv
            JOIN cellrank cr ON iv.cell = cr.cell
            JOIN levels l ON cr.crn <= l.n_probe
            WHERE iv.vec_id <> cr.probe_id
        ),
        idx64 AS (SELECT UNNEST(range(1, 65)) AS i),
        flat AS (
            SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
            FROM embeddings CROSS JOIN idx64
        ),
        pflat AS (
            SELECT vec_id AS probe_id, i, x AS p
            FROM flat WHERE vec_id IN (0, 1, 2, 3)
        ),
        scored AS (
            SELECT pf.probe_id, f.vec_id,
                   CAST(SUM(CAST(f.x * pf.p AS DECIMAL(27,12)))
                        AS DOUBLE) AS dot,
                   CAST(SUM(CAST(f.x * f.x AS DECIMAL(27,12)))
                        AS DOUBLE) AS nx,
                   CAST(SUM(CAST(pf.p * pf.p AS DECIMAL(27,12)))
                        AS DOUBLE) AS np
            FROM flat f JOIN pflat pf USING (i)
            WHERE f.vec_id <> pf.probe_id
            GROUP BY 1, 2
        ),
        cosines AS (
            SELECT probe_id, vec_id, dot / SQRT(nx * np) AS cosine
            FROM scored WHERE nx > 0 AND np > 0
        ),
        exact10 AS (
            SELECT probe_id, vec_id FROM (
                SELECT probe_id, vec_id,
                       row_number() OVER (
                           PARTITION BY probe_id
                           ORDER BY cosine DESC, vec_id
                       ) AS rn
                FROM cosines
            ) WHERE rn <= 10
        ),
        approx AS (
            SELECT probe_id, n_probe, vec_id FROM (
                SELECT c.probe_id, c.n_probe, c.vec_id,
                       row_number() OVER (
                           PARTITION BY c.probe_id, c.n_probe
                           ORDER BY s.cosine DESC, c.vec_id
                       ) AS rn
                FROM cand c
                JOIN cosines s
                  ON s.probe_id = c.probe_id AND s.vec_id = c.vec_id
            ) WHERE rn <= 10
        )
        SELECT e.probe_id, l.n_probe,
               CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0
                        END) AS BIGINT) AS n_hit,
               ROUND(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0
                         END) / COUNT(*), 4) AS recall
        FROM exact10 e
        CROSS JOIN levels l
        LEFT JOIN approx a
          ON a.probe_id = e.probe_id AND a.n_probe = l.n_probe
             AND a.vec_id = e.vec_id
        GROUP BY 1, 2 ORDER BY 1, 2
    """


@register(
    "llm_ann_recall_eval",
    oracle=_ann_recall_oracle,
    tags=("llm", "similarity", "qa"),
)
def llm_ann_recall_eval(spark, sf_dir):
    """Recall@10 of the IVF ANN path against exact brute force — the QA
    query every approximate index needs before it gates a training-data
    pipeline. Ground truth comes from ONE corpus pass (batched
    broadcast-probe cosine, similarity.cosine_topk_batch); the IVF side
    is the same partition-pruned probe llm_simsearch_ivf serves. The
    probe set is model-sized (4 ids), so the per-probe vector fetches
    are single-row stat-pruned reads, and the unioned IVF plans execute
    as one job. Evaluated at two n_probe levels so the accuracy/cost
    knob's effect is part of the output — recall must be monotone in
    cells probed. Hash-oracled since r9: both halves replay in DuckDB
    (decimal-fold exact ranking; cell choice from the persisted
    centroid model + ivf/ partition membership), see
    _ann_recall_oracle."""
    probes = [0, 1, 2, 3]
    emb = table(spark, sf_dir, "embeddings")
    exact = similarity.cosine_topk_batch(emb, probes, k=10)
    idx = _ann_index(spark, sf_dir)
    approx = None
    vecs = {pid: ann_index.fetch_vector(spark, idx, probe_id=pid) for pid in probes}
    for n_probe in (similarity.N_PROBE, 2 * similarity.N_PROBE):
        for pid in probes:
            a = ann_index.ivf_probe(
                spark, idx, vecs[pid], k=10, n_probe=n_probe, exclude_id=pid
            ).select(
                F.lit(pid).alias("probe_id"),
                F.lit(n_probe).alias("n_probe"),
                "vec_id",
                F.lit(1).alias("_hit"),
            )
            approx = a if approx is None else approx.unionByName(a)
    # the probe levels are compile-time constants: a literal 2-row frame,
    # not a distinct() that would re-execute the whole 8-way probe union
    levels = spark.createDataFrame(
        [(similarity.N_PROBE,), (2 * similarity.N_PROBE,)], "n_probe int"
    )
    return (
        exact.crossJoin(F.broadcast(levels))
        .join(approx, ["probe_id", "n_probe", "vec_id"], "left")
        .groupBy("probe_id", "n_probe")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hit"),
        )
        .select(
            "probe_id",
            "n_probe",
            "k",
            "n_hit",
            F.round(F.col("n_hit") / F.col("k"), 4).alias("recall"),
        )
        .orderBy("probe_id", "n_probe")
    )


def _ivfpq_oracle() -> str:
    """DuckDB oracle for llm_simsearch_ivfpq (upgraded from rows-only
    in r9): the COMPRESSED path replays end-to-end — cell choice from
    the persisted centroid model, candidate codes from the pq/ store,
    the per-cell residual lookup tables recomputed from
    pq_codebooks.json (full-repr JSON floats parse to the SAME doubles
    in both engines), ADC re-derived with bit ops on the packed code
    BIGINT, the top-`rerank` pool re-ranked, and the exact decimal
    rescore replayed. Float-exactness of the replay is by construction,
    not tolerance: the 8-term LUT sums use numpy's balanced-tree
    association ((1+2)+(3+4))+((5+6)+(7+8)) — verified bitwise against
    .sum(axis=1) — and the 8-subspace ADC sum uses the Spark
    expression loop's left association, so every ADC double is
    IDENTICAL across engines and the rank-50 pool boundary cannot
    drift."""
    from opusdb_spark.operators.ann_index import PQ_KS, PQ_M, index_dir_for
    from opusdb_spark.operators.similarity import N_PROBE

    idx = index_dir_for(_oracle_sf_dir())
    d = 64 // PQ_M

    def term(j: int) -> str:
        e = (
            f"((pv.p[b.m * {d} + {j}] - ce.c[b.m * {d} + {j}])"
            f" - b.bk[kk.k + 1][{j}])"
        )
        return f"({e} * {e})"

    # numpy .sum(axis=1) on 8 elements: balanced pairwise tree
    lut_sum = (
        f"(({term(1)} + {term(2)}) + ({term(3)} + {term(4)}))"
        f" + (({term(5)} + {term(6)}) + ({term(7)} + {term(8)}))"
    )
    # Spark's _adc_expr accumulates subspace terms LEFT-associatively
    adc_sum = "ds[1]"
    for m in range(2, PQ_M + 1):
        adc_sum = f"({adc_sum} + ds[{m}])"
    return f"""
        WITH cents AS
            {_indexed_json_sql(f"{idx}/centroids.json", "cell", "c")},
        books AS
            {_indexed_json_sql(f"{idx}/pq_codebooks.json", "m", "bk")},
        pvec AS (
            SELECT CAST(embedding AS DOUBLE[]) AS p
            FROM embeddings WHERE vec_id = 0
        ),
        cells AS (
            SELECT cell FROM cents, pvec
            ORDER BY list_dot_product(c, p)
                     / (SQRT(list_dot_product(c, c))
                        * SQRT(list_dot_product(p, p))) DESC, cell
            LIMIT {N_PROBE}
        ),
        luts AS (
            SELECT cl.cell, b.m, kk.k, {lut_sum} AS dist
            FROM cells cl
            JOIN cents ce ON ce.cell = cl.cell
            CROSS JOIN books b
            CROSS JOIN (SELECT UNNEST(range(0, {PQ_KS})) AS k) kk
            CROSS JOIN pvec pv
        ),
        cand AS (
            SELECT pq.vec_id, pq.cell, pq.codes
            FROM read_parquet('{idx}/pq/**/*.parquet',
                              hive_partitioning = 1) pq
            JOIN cells cl ON pq.cell = cl.cell
            WHERE pq.vec_id <> 0
        ),
        parts AS (
            SELECT c.vec_id, list(l.dist ORDER BY l.m) AS ds
            FROM cand c
            JOIN luts l
              ON l.cell = c.cell
             AND l.k = ((c.codes >> (4 * l.m)) & 15)
            GROUP BY c.vec_id
        ),
        pool AS (
            SELECT vec_id, {adc_sum} AS adc
            FROM parts
            ORDER BY adc ASC, vec_id ASC LIMIT 50
        ),
        {_probe_rescore_cte('pool')}
        SELECT s.vec_id, s.dot / SQRT(s.nx * pn.np) AS cosine,
               ROUND(po.adc, 6) AS adc_dist
        FROM scored s
        JOIN pool po USING (vec_id)
        CROSS JOIN pn
        WHERE s.nx > 0 AND pn.np > 0
        ORDER BY cosine DESC, s.vec_id LIMIT 10
    """


@register(
    "llm_simsearch_ivfpq", oracle=_ivfpq_oracle, tags=("llm", "similarity")
)
def llm_simsearch_ivfpq(spark, sf_dir):
    """ANN top-10 via IVF + PRODUCT QUANTIZATION (Jégou et al. 2011)
    over the persisted index: the candidate scan reads the 16-byte
    packed-code store (never the raw vectors), ranks by asymmetric
    distance computed as pure codegen bit-ops against driver-built
    per-cell lookup tables, and only the top-`rerank` ids are rescored
    exactly through the stat-pruned by_id store. The memory/scan shape
    a billion-vector corpus needs — codes are 16× smaller than vectors.
    Hash-oracled since r9: DuckDB replays the compressed path
    end-to-end — cells, residual LUTs, bit-op code extraction, ADC
    (association-order-matched, so every double is identical), rerank
    pool, exact rescore (see _ivfpq_oracle)."""
    idx = _ann_index(spark, sf_dir)
    vec = ann_index.fetch_vector(spark, idx, probe_id=0)
    return ann_index.ivfpq_probe(spark, idx, vec, k=10, exclude_id=0)


def _pq_recall_oracle() -> str:
    """DuckDB oracle for llm_pq_recall_eval (upgraded from rows-only
    in r10): the exact side reuses the decimal-fold ranking of
    _ann_recall_oracle; the approx side replays the IVF-PQ pipeline
    per (probe, rerank) — cell choice from the persisted centroids,
    ADC from the pq/ code store against per-probe LUTs (balanced-tree
    8-term sums, left-assoc subspace fold — the same premise-pinned
    associations _ivfpq_oracle uses), the top-`rerank` pool by (adc,
    vec_id), and the exact-cosine re-rank of the pool. So the recall
    table — the accuracy gate of the compression trade — is
    value-checked end-to-end by a second engine. The store's physical
    compression ratio moved to the rows-only llm_pq_compression (a
    filesystem readout no second engine can recompute)."""
    from opusdb_spark.operators.ann_index import PQ_KS, PQ_M, index_dir_for
    from opusdb_spark.operators.similarity import N_PROBE

    idx = index_dir_for(_oracle_sf_dir())
    d = 64 // PQ_M

    def term(j: int) -> str:
        e = (
            f"((pp.p[b.m * {d} + {j}] - ce.c[b.m * {d} + {j}])"
            f" - b.bk[kk.k + 1][{j}])"
        )
        return f"({e} * {e})"

    lut_sum = (
        f"(({term(1)} + {term(2)}) + ({term(3)} + {term(4)}))"
        f" + (({term(5)} + {term(6)}) + ({term(7)} + {term(8)}))"
    )
    adc_sum = "ds[1]"
    for m in range(2, PQ_M + 1):
        adc_sum = f"({adc_sum} + ds[{m}])"
    return f"""
        WITH cents AS
            {_indexed_json_sql(f"{idx}/centroids.json", "cell", "c")},
        books AS
            {_indexed_json_sql(f"{idx}/pq_codebooks.json", "m", "bk")},
        pvecs AS (
            SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS p
            FROM embeddings WHERE vec_id IN (0, 1, 2, 3)
        ),
        cells AS (
            SELECT probe_id, cell FROM (
                SELECT pp.probe_id, ce.cell,
                       row_number() OVER (
                           PARTITION BY pp.probe_id
                           ORDER BY list_dot_product(ce.c, pp.p)
                                    / (SQRT(list_dot_product(ce.c, ce.c))
                                       * SQRT(list_dot_product(pp.p, pp.p)))
                                    DESC, ce.cell
                       ) AS crn
                FROM cents ce CROSS JOIN pvecs pp
            ) WHERE crn <= {N_PROBE}
        ),
        luts AS MATERIALIZED (
            SELECT cl.probe_id, cl.cell, b.m, kk.k, {lut_sum} AS dist
            FROM cells cl
            JOIN cents ce ON ce.cell = cl.cell
            JOIN pvecs pp ON pp.probe_id = cl.probe_id
            CROSS JOIN books b
            CROSS JOIN (SELECT UNNEST(range(0, {PQ_KS})) AS k) kk
        ),
        cand AS (
            SELECT cl.probe_id, pq.vec_id, pq.cell, pq.codes
            FROM read_parquet('{idx}/pq/**/*.parquet',
                              hive_partitioning = 1) pq
            JOIN cells cl ON pq.cell = cl.cell
            WHERE pq.vec_id <> cl.probe_id
        ),
        parts AS (
            SELECT c.probe_id, c.vec_id, list(l.dist ORDER BY l.m) AS ds
            FROM cand c
            JOIN luts l
              ON l.probe_id = c.probe_id AND l.cell = c.cell
             AND l.k = ((c.codes >> (4 * l.m)) & 15)
            GROUP BY 1, 2
        ),
        adc AS (SELECT probe_id, vec_id, {adc_sum} AS adc FROM parts),
        rlevels AS (SELECT UNNEST([20, 100]) AS rerank),
        pool AS (
            SELECT probe_id, rerank, vec_id FROM (
                SELECT a.probe_id, r.rerank, a.vec_id,
                       row_number() OVER (
                           PARTITION BY a.probe_id, r.rerank
                           ORDER BY a.adc, a.vec_id) AS rn
                FROM adc a CROSS JOIN rlevels r
            ) WHERE rn <= rerank
        ),
        idx64 AS (SELECT UNNEST(range(1, 65)) AS i),
        flat AS (
            SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
            FROM embeddings CROSS JOIN idx64
        ),
        pflat AS (
            SELECT vec_id AS probe_id, i, x AS p
            FROM flat WHERE vec_id IN (0, 1, 2, 3)
        ),
        scored AS (
            SELECT pf.probe_id, f.vec_id,
                   CAST(SUM(CAST(f.x * pf.p AS DECIMAL(27,12)))
                        AS DOUBLE) AS dot,
                   CAST(SUM(CAST(f.x * f.x AS DECIMAL(27,12)))
                        AS DOUBLE) AS nx,
                   CAST(SUM(CAST(pf.p * pf.p AS DECIMAL(27,12)))
                        AS DOUBLE) AS np
            FROM flat f JOIN pflat pf USING (i)
            WHERE f.vec_id <> pf.probe_id
            GROUP BY 1, 2
        ),
        cosines AS (
            SELECT probe_id, vec_id, dot / SQRT(nx * np) AS cosine
            FROM scored WHERE nx > 0 AND np > 0
        ),
        exact10 AS (
            SELECT probe_id, vec_id FROM (
                SELECT probe_id, vec_id,
                       row_number() OVER (
                           PARTITION BY probe_id
                           ORDER BY cosine DESC, vec_id
                       ) AS rn
                FROM cosines
            ) WHERE rn <= 10
        ),
        approx AS (
            SELECT probe_id, rerank, vec_id FROM (
                SELECT p.probe_id, p.rerank, p.vec_id,
                       row_number() OVER (
                           PARTITION BY p.probe_id, p.rerank
                           ORDER BY s.cosine DESC, p.vec_id
                       ) AS rn
                FROM pool p
                JOIN cosines s
                  ON s.probe_id = p.probe_id AND s.vec_id = p.vec_id
            ) WHERE rn <= 10
        )
        SELECT e.probe_id, r.rerank,
               CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0
                        END) AS BIGINT) AS n_hit,
               ROUND(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0
                         END) / COUNT(*), 4) AS recall
        FROM exact10 e
        CROSS JOIN rlevels r
        LEFT JOIN approx a
          ON a.probe_id = e.probe_id AND a.rerank = r.rerank
             AND a.vec_id = e.vec_id
        GROUP BY 1, 2 ORDER BY 1, 2
    """


@register(
    "llm_pq_recall_eval",
    oracle=_pq_recall_oracle,
    tags=("llm", "similarity", "qa"),
)
def llm_pq_recall_eval(spark, sf_dir):
    """Recall@10 of the compressed IVF-PQ path vs exact brute force —
    the accuracy half of the compression trade: what did 16× smaller
    candidate rows cost? Evaluated over the same model-sized probe set
    as llm_ann_recall_eval at two rerank depths (quantization error
    only hurts when a true neighbor misses the rerank pool, so recall
    must be non-decreasing in `rerank`). Hash-oracled since r10: the
    whole table replays in DuckDB (_pq_recall_oracle); the store's
    physical compression ratio moved to llm_pq_compression."""
    probes = [0, 1, 2, 3]
    emb = table(spark, sf_dir, "embeddings")
    exact = similarity.cosine_topk_batch(emb, probes, k=10)
    idx = _ann_index(spark, sf_dir)
    vecs = {
        pid: ann_index.fetch_vector(spark, idx, probe_id=pid)
        for pid in probes
    }
    approx = None
    reranks = (20, 100)
    for rerank in reranks:
        for pid in probes:
            a = ann_index.ivfpq_probe(
                spark, idx, vecs[pid], k=10, rerank=rerank, exclude_id=pid
            ).select(
                F.lit(pid).alias("probe_id"),
                F.lit(rerank).alias("rerank"),
                "vec_id",
                F.lit(1).alias("_hit"),
            )
            approx = a if approx is None else approx.unionByName(a)
    levels = spark.createDataFrame([(r,) for r in reranks], "rerank int")
    return (
        exact.crossJoin(F.broadcast(levels))
        .join(approx, ["probe_id", "rerank", "vec_id"], "left")
        .groupBy("probe_id", "rerank")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hit"),
        )
        .select(
            "probe_id",
            "rerank",
            "k",
            "n_hit",
            F.round(F.col("n_hit") / F.col("k"), 4).alias("recall"),
        )
        .orderBy("probe_id", "rerank")
    )


@register(
    "llm_pq_compression", oracle=None, tags=("llm", "similarity", "qa")
)
def llm_pq_compression(spark, sf_dir):
    """Measured bytes-per-vector compression of the PQ code store vs
    the raw by_id vector store — the memory half of the IVF-PQ trade
    (the accuracy half is llm_pq_recall_eval, hash-oracled).
    Rows-only by nature: a physical-layout readout (file sizes) that
    no second engine can recompute from the logical data."""
    from opusdb_spark.sources.formats import list_store_files

    idx = _ann_index(spark, sf_dir)
    raw_bytes = sum(sz for _, sz in list_store_files(f"{idx}/by_id"))
    pq_bytes = sum(sz for _, sz in list_store_files(f"{idx}/pq"))
    return spark.createDataFrame(
        [(raw_bytes, pq_bytes, round(raw_bytes / max(pq_bytes, 1), 2))],
        "raw_bytes long, pq_bytes long, compression double",
    )


def _cdc_oracle() -> str:
    """DuckDB oracle for llm_cdc_dedup (upgraded from rows-only in
    r10): content-defined chunking is PURE INTEGER ALGEBRA over the
    document bytes — the gear table and power constants are fixed
    literals (embedded below), the rolling window hash is a mod-2^64
    polynomial (HUGEINT products, each term reduced before the sum, so
    nothing overflows), and the MIN/MAX boundary walk reduces to a
    monotone rule (next cut = least candidate in [last+MIN, last+MAX],
    else the MAX/len cap) replayed as a recursive CTE per document.
    Chunk hashes are md5 of the chunk text — byte-identical across
    engines because the corpus is pure ASCII (guarded: the oracle
    EXCLUDES any document whose char length differs from its byte
    length, so a non-ASCII document would surface as a loud hash
    mismatch against the Spark side rather than as two engines
    agreeing on different bytes). Every downstream number is
    integer-derived except the final ratio division."""
    from opusdb_spark.operators.chunking import (
        CDC_MASK,
        CDC_MAX,
        CDC_MIN,
        CDC_W,
        _GEAR,
        _POWS,
    )

    m64 = 1 << 64
    gear_rows = ", ".join(
        f"({b}, {int(g)}::HUGEINT)" for b, g in enumerate(_GEAR)
    )
    # one reduced HUGEINT term per window offset j
    terms = " + ".join(
        f"(g{j}.g * {int(_POWS[j])}::HUGEINT) % {m64}::HUGEINT"
        for j in range(CDC_W)
    )
    gear_joins = "\n            ".join(
        f"JOIN gear g{j} ON g{j}.b = ord(substr(d.text, w.s + {j}, 1))"
        for j in range(CDC_W)
    )
    return f"""
        WITH RECURSIVE gear(b, g) AS (VALUES {gear_rows}),
        docs AS MATERIALIZED (
            -- ASCII guard: a multi-byte document would make
            -- ord(substr) diverge from the byte the Spark side
            -- hashes; excluding it here makes the divergence a loud
            -- hash mismatch instead of a silent wrong agreement
            SELECT doc_id, text, length(text) AS n
            FROM documents
            WHERE length(text) = octet_length(encode(text))
        ),
        wins AS MATERIALIZED (
            SELECT d.doc_id, w.s + {CDC_W - 1} AS cand,
                   ({terms}) % {m64}::HUGEINT AS h
            FROM docs d,
                 UNNEST(range(1, GREATEST(d.n - {CDC_W} + 2, 1))) AS w(s)
            {gear_joins}
        ),
        cand AS MATERIALIZED (
            SELECT doc_id, cand FROM wins
            WHERE h % {CDC_MASK + 1} = 0
        ),
        -- next-cut function precomputed for EVERY possible cursor
        -- position (a plain equi-join target): a correlated MIN
        -- subquery inside the recursive term is not evaluated
        -- per-iteration by DuckDB 1.0 (observed: silently NULL), so
        -- the walk must consume a materialized function instead
        nxt AS MATERIALIZED (
            SELECT p.doc_id, p.last,
                   CAST(COALESCE(MIN(c.cand),
                        LEAST(p.last + {CDC_MAX}, p.n)) AS INTEGER)
                       AS cut
            FROM (SELECT d.doc_id, d.n, t.last
                  FROM docs d, UNNEST(range(0, d.n)) AS t(last)) p
            LEFT JOIN cand c
              ON c.doc_id = p.doc_id
             AND c.cand >= p.last + {CDC_MIN}
             AND c.cand <= LEAST(p.last + {CDC_MAX}, p.n)
            GROUP BY p.doc_id, p.last, p.n
        ),
        walk AS (
            SELECT doc_id, n, CAST(NULL AS BIGINT) AS c_start,
                   0 AS last FROM docs WHERE n > 0
            UNION ALL
            SELECT r.doc_id, r.n, r.last, x.cut
            FROM walk r JOIN nxt x
              ON x.doc_id = r.doc_id AND x.last = r.last
            WHERE r.last < r.n
        ),
        chunks AS MATERIALIZED (
            SELECT w.doc_id,
                   md5(substr(d.text, w.c_start + 1,
                              w.last - w.c_start)) AS chunk_hash,
                   w.last - w.c_start AS chunk_len
            FROM walk w JOIN docs d USING (doc_id)
            WHERE w.c_start IS NOT NULL
        ),
        ledger AS (
            SELECT chunk_hash, COUNT(*) AS n,
                   MAX(chunk_len) AS chunk_len
            FROM chunks GROUP BY chunk_hash
        ),
        tot AS (
            SELECT CAST(SUM(n) AS DOUBLE) AS total_chunks,
                   CAST(COUNT(*) AS DOUBLE) AS distinct_chunks,
                   CAST(SUM(n * chunk_len) AS DOUBLE) AS total_bytes,
                   CAST(SUM(chunk_len) AS DOUBLE) AS unique_bytes,
                   CAST(SUM((n - 1) * chunk_len) AS DOUBLE) AS dup_bytes
            FROM ledger
        )
        SELECT metric, value FROM (
            SELECT 'total_chunks' AS metric, total_chunks AS value FROM tot
            UNION ALL SELECT 'distinct_chunks', distinct_chunks FROM tot
            UNION ALL SELECT 'total_bytes', total_bytes FROM tot
            UNION ALL SELECT 'unique_bytes', unique_bytes FROM tot
            UNION ALL SELECT 'dup_bytes', dup_bytes FROM tot
            UNION ALL SELECT 'dedup_ratio',
                   ROUND(total_bytes / unique_bytes, 6) FROM tot
        ) ORDER BY metric
    """


@register("llm_cdc_dedup", oracle=_cdc_oracle(), tags=("llm", "dedup"))
def llm_cdc_dedup(spark, sf_dir):
    """Storage-level dedup profile via CONTENT-DEFINED CHUNKING
    (operators/chunking.py — rolling-hash boundaries, so an edit
    re-chunks only its neighborhood and downstream chunks still match):
    every document splits into variable-size chunks, the chunk-hash
    ledger aggregates once, and the readout is the dedup a chunk store
    would achieve — total vs distinct chunks, duplicated bytes, the
    dedup ratio. Chunking is shuffle-free Arrow map work; the ledger
    groupBy is hash-keyed and map-side combinable (the exact-dedup
    shape one level below the document). Rows-only: chunk hashes are
    UDF-computed (rows-only by design)."""
    from opusdb_spark.operators.chunking import chunked

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    ledger = chunked(docs).groupBy("chunk_hash").agg(
        F.count(F.lit(1)).alias("n"),
        # chunk_len is identical within a hash group (same bytes)
        F.max("chunk_len").alias("chunk_len"),
    )
    return (
        ledger.agg(
            F.sum("n").alias("total_chunks"),
            F.count(F.lit(1)).alias("distinct_chunks"),
            F.sum(F.col("n") * F.col("chunk_len")).alias("total_bytes"),
            F.sum("chunk_len").alias("unique_bytes"),
            F.sum(
                (F.col("n") - 1) * F.col("chunk_len")
            ).alias("dup_bytes"),
        )
        .select(
            F.explode(
                F.create_map(
                    F.lit("total_chunks"),
                    F.col("total_chunks").cast("double"),
                    F.lit("distinct_chunks"),
                    F.col("distinct_chunks").cast("double"),
                    F.lit("total_bytes"),
                    F.col("total_bytes").cast("double"),
                    F.lit("unique_bytes"),
                    F.col("unique_bytes").cast("double"),
                    F.lit("dup_bytes"),
                    F.col("dup_bytes").cast("double"),
                    F.lit("dedup_ratio"),
                    F.round(
                        F.col("total_bytes") / F.col("unique_bytes"), 6
                    ),
                )
            ).alias("metric", "value")
        )
        .orderBy("metric")
    )


def _cluster_oracle() -> str:
    """DuckDB oracle for llm_dedup_cluster (upgraded from rows-only in
    r9): connected components are DETERMINISTIC given the pair graph,
    and the pair graph is a persisted ingest artifact — so the oracle
    reads the SAME pair parquet the Spark side derives its components
    from and recomputes the clustering independently via a recursive
    transitive closure (min reachable doc = the component label the
    large-star/small-star rounds converge to). This checks the whole
    clustering algebra against a second engine; the pair GENERATION
    stays engine-specific (xxhash64 minhash) and is covered by its own
    calibration/property tests. The artifact path is the canonical
    oracle corpus (the driver's sf0.01); the Spark query materializes
    it on first run."""
    pairs = _oracle_scratch("minhash_pairs")
    return f"""
        WITH RECURSIVE edges AS (
            SELECT DISTINCT GREATEST(doc_a, doc_b) AS u,
                            LEAST(doc_a, doc_b) AS v
            FROM read_parquet('{pairs}/*.parquet')
            WHERE doc_a <> doc_b
        ),
        sym AS (
            SELECT u AS a, v AS b FROM edges
            UNION
            SELECT v AS a, u AS b FROM edges
        ),
        reach AS (
            SELECT a, b FROM sym
            UNION
            SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
        ),
        labeled AS (
            SELECT a AS doc_id, LEAST(a, MIN(b)) AS component
            FROM reach GROUP BY a
        )
        SELECT component, CAST(COUNT(*) AS BIGINT) AS n_docs,
               MIN(doc_id) AS keep_doc_id
        FROM labeled GROUP BY component ORDER BY component
    """


@register("llm_dedup_cluster", oracle=_cluster_oracle, tags=("llm", "dedup"))
def llm_dedup_cluster(spark, sf_dir):
    """Near-dup CLUSTERS: connected components over the MinHash-LSH pair
    graph (A~B, B~C collapse into one group), then per-component size +
    canonical keeper. The step that turns pairwise dedup into an actual
    keep-list (rows-only: iterative, not SQL-expressible). The
    components come from the PERSISTED ingest store
    (operators/dedup.py:components_stored — large-star/small-star CC,
    O(log n) rounds, run once per corpus): at query time this is a
    parquet read + one groupBy, no iterative jobs."""
    comp = _minhash_components(spark, sf_dir)
    return (
        comp.groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .orderBy("component")
    )


@register(
    "llm_text_stats",
    oracle="""
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
               CAST(SUM(len(list_filter(string_split(text, ' '), w -> len(w) > 0))) AS DOUBLE)
                   / COUNT(*) AS avg_words
        FROM documents GROUP BY lang
    """,
    tags=("llm", "text"),
)
def llm_text_stats(spark, sf_dir):
    """Per-language doc counts and char/word statistics (integer sums →
    exact parity without decimal casts). spread() first: the n_words
    token walk is the expensive part and a single-split scan would
    serialize it (no-op at cluster scale)."""
    from opusdb_spark.operators.skew import spread

    docs = spread(table(spark, sf_dir, "documents"))
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        (F.sum(T.n_words(F.col("text"))).cast("double") / F.count(F.lit(1))).alias(
            "avg_words"
        ),
    )


@register(
    "llm_lang_filter",
    oracle="""
        SELECT lang, source, COUNT(*) AS n_docs
        FROM documents WHERE lang IN ('en', 'de')
        GROUP BY lang, source
    """,
    tags=("llm", "text"),
)
def llm_lang_filter(spark, sf_dir):
    """Language filter + per-source breakdown."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("lang").isin("en", "de"))
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "llm_wordcount",
    oracle="""
        SELECT word, COUNT(*) AS n
        FROM (SELECT UNNEST(string_split(text, ' ')) AS word FROM documents)
        WHERE len(word) > 0
        GROUP BY word
        ORDER BY n DESC, word
        LIMIT 20
    """,
    tags=("llm", "text"),
)
def llm_wordcount(spark, sf_dir):
    """Tokenize-explode word frequency top-20 (count desc, word asc)."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(20)
    )


def _stopword_hits_sql(words_col: str) -> tuple[str, str]:
    """Shared SQL fragments for the stopword-hit argmax both oracles
    use: (per-lang hit-count columns over `words_col`, the struct list
    whose ascending sort reproduces predicted_lang's (hits desc, lang
    asc) tie-break). One generator so the two oracles can't drift."""
    hit_cols = ",\n".join(
        "  len(list_filter({}, w -> w IN ({}))) AS h_{}".format(
            words_col, ", ".join(f"'{w}'" for w in T.STOPWORDS[lang]), lang
        )
        for lang in sorted(T.STOPWORDS)
    )
    structs = ", ".join(
        f"{{'nh': -h_{lang}, 'l': '{lang}'}}" for lang in sorted(T.STOPWORDS)
    )
    return hit_cols, structs


def _langid_oracle() -> str:
    """DuckDB replica of predicted_lang (operators/text.py): per-lang
    stopword-hit counts, argmax with the identical (hits desc, lang
    asc) tie-break via struct list_sort, 'und' on zero hits. Generated
    from the same STOPWORDS table the engine uses, so the two can
    never drift apart silently."""
    hit_cols, structs = _stopword_hits_sql("ws")
    return f"""
        WITH d AS (
            SELECT lang,
                   list_filter(string_split(lower(text), ' '),
                               w -> len(w) > 0) AS ws
            FROM documents
        ),
        h AS (
            SELECT lang,
        {hit_cols}
            FROM d
        ),
        p AS (
            SELECT lang, list_sort([{structs}])[1] AS best FROM h
        )
        SELECT lang,
               CASE WHEN best.nh = 0 THEN 'und' ELSE best.l END AS pred_lang,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM p GROUP BY 1, 2 ORDER BY 1, 2
    """


@register(
    "llm_langid",
    oracle=_langid_oracle(),
    tags=("llm", "text"),
)
def llm_langid(spark, sf_dir):
    """Stopword-hit language identification vs the labeled lang column:
    per (actual, predicted) confusion counts (operators/text.py). The
    heuristic is pure deterministic expression algebra, so it carries a
    full SQL oracle — the DuckDB side re-derives the same argmax from
    the same stopword lists. The stopword-hit expression walks every
    token several times, so the scan is spread() first (single-split
    scans serialize that map work on one core; no-op at cluster
    scale)."""
    from opusdb_spark.operators.skew import spread

    docs = spread(table(spark, sf_dir, "documents"))
    return (
        docs.select("lang", T.predicted_lang(F.col("text")).alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "pred_lang")
    )


def _quality_oracle() -> str:
    """DuckDB replica of quality_score (operators/text.py): identical
    len/punct/word-shape/stopword terms and weights, same double op
    order, langid argmax shared with _langid_oracle via
    _stopword_hits_sql."""
    hit_cols, structs = _stopword_hits_sql("lws")
    return f"""
        WITH d AS (
            SELECT lang, text,
                   list_filter(string_split(text, ' '),
                               w -> len(w) > 0) AS ws,
                   list_filter(string_split(lower(text), ' '),
                               w -> len(w) > 0) AS lws
            FROM documents
        ),
        h AS (
            SELECT lang, text, ws,
        {hit_cols}
            FROM d
        ),
        t AS (
            SELECT lang,
                   least(len(text) / 200.0, 1.0) AS len_ok,
                   1.0 - least(
                       (len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                        / greatest(len(text), 1)) * 5.0, 1.0) AS punct_ok,
                   COALESCE(list_aggregate(
                       list_transform(ws, w -> len(w)), 'sum'), 0)
                       / greatest(len(ws), 1) AS mwl,
                   list_sort([{structs}])[1] AS best
            FROM h
        ),
        q AS (
            SELECT lang,
                   len_ok * 0.3
                   + punct_ok * 0.2
                   + (CASE WHEN mwl >= 3 AND mwl <= 10
                           THEN 1.0 ELSE 0.3 END) * 0.2
                   + (CASE WHEN (CASE WHEN best.nh = 0 THEN 'und'
                                      ELSE best.l END) = lang
                           THEN 1.0 ELSE 0.5 END) * 0.3 AS q
            FROM t
        )
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CAST(q AS DECIMAL(27,6))) AS DOUBLE) AS sum_q,
               CAST(SUM(CASE WHEN q >= 0.8 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_high,
               CAST(SUM(CASE WHEN q < 0.5 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_low
        FROM q GROUP BY lang
    """


@register(
    "llm_quality_score",
    oracle=_quality_oracle(),
    tags=("llm", "text"),
)
def llm_quality_score(spark, sf_dir):
    """Quality scoring from length/punct/word-shape/stopword signals;
    returns per-lang mean score + histogram-ish buckets. Every term is
    deterministic expression algebra, so the composite carries a full
    SQL oracle that re-derives the identical doubles."""
    docs = table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "lang", T.quality_score(F.col("text"), F.col("lang")).alias("q")
    )
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("q").cast("decimal(27,6)")).cast("double").alias("sum_q"),
        F.sum(F.when(F.col("q") >= 0.8, 1).otherwise(0)).alias("n_high"),
        F.sum(F.when(F.col("q") < 0.5, 1).otherwise(0)).alias("n_low"),
    )


@register(
    "llm_token_count",
    oracle=r"""
        SELECT lang,
               CAST(SUM(len(list_filter(string_split(text, ' '), w -> len(w) > 0)))
                   AS BIGINT) AS ws_tokens,
               CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')))
                   AS BIGINT) AS bpe_ish_tokens
        FROM documents GROUP BY lang
    """,
    tags=("llm", "text"),
)
def llm_token_count(spark, sf_dir):
    """Token counting two ways: whitespace words and a BPE-ish regex
    (letter runs / digit runs / punctuation) — integer sums, exact."""
    docs = table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.sum(T.n_words(F.col("text"))).alias("ws_tokens"),
        F.sum(T.n_tokens_regex(F.col("text"))).alias("bpe_ish_tokens"),
    )


# Full value-hash oracle (upgraded from rows-only in r9): the
# fingerprint is built on the engine-portable md5-bit word hash
# (operators/text.py:word_hash48_sql), so DuckDB replays the rolling
# fold bit-for-bit — per-word h % m pre-applied, then the identical
# (acc*131 + x) % m fold; list_prepend(0) supplies the fold init so an
# empty word list fingerprints to 0 in both engines.
_FINGERPRINT_ORACLE = f"""
    WITH fp AS (
        SELECT doc_id,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(
                           list_filter(string_split(text, ' '),
                                       w -> len(w) > 0),
                           w -> {T.word_hash48_sql("w")}
                                % {T.FP_MOD}
                       )
                   ),
                   (acc, x) -> (acc * {T.FP_MUL} + x) % {T.FP_MOD}
               ) AS fp
        FROM documents
    )
    SELECT fp, MIN(doc_id) AS keep_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM fp GROUP BY fp
"""


@register(
    "llm_fingerprint",
    oracle=_FINGERPRINT_ORACLE,
    tags=("llm", "text"),
)
def llm_fingerprint(spark, sf_dir):
    """Rolling-hash document fingerprints; groups identical word
    sequences (order-sensitive, unlike minhash). The hash family is
    engine-portable by design (see word_hash48_sql): a fingerprint
    minted at ingest is re-derivable by any downstream system."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", T.rolling_fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_docs"))
    )


# Within-cluster pairwise cosine with exact-decimal dots — the same
# unnest/decimal formulation as _SIM_ORACLE, restricted to same-label
# pairs, then the keep-first drop rule (a vector is dropped when a
# lower-id cluster-mate is more similar than tau).
_SEMDEDUP_TAU = 0.3
_SEMDEDUP_ORACLE = f"""
    WITH idx AS (SELECT UNNEST(range(1, 65)) AS i),
    flat AS (
        SELECT vec_id, label, i, CAST(embedding[i] AS DOUBLE) AS x
        FROM embeddings CROSS JOIN idx
    ),
    norms AS (
        SELECT vec_id,
               CAST(SUM(CAST(x * x AS DECIMAL(27,12))) AS DOUBLE) AS n2
        FROM flat GROUP BY vec_id
    ),
    dots AS (
        SELECT a.label AS label, a.vec_id AS dup_of, b.vec_id AS vec_id,
               CAST(SUM(CAST(a.x * b.x AS DECIMAL(27,12))) AS DOUBLE) AS dot
        FROM flat a JOIN flat b
          ON a.label = b.label AND a.i = b.i AND a.vec_id < b.vec_id
        GROUP BY a.label, a.vec_id, b.vec_id
    ),
    hits AS (
        SELECT d.label, d.vec_id, d.dup_of,
               d.dot / SQRT(na.n2 * nb.n2) AS cosine
        FROM dots d
        JOIN norms na ON na.vec_id = d.dup_of
        JOIN norms nb ON nb.vec_id = d.vec_id
        WHERE na.n2 > 0 AND nb.n2 > 0
          AND d.dot / SQRT(na.n2 * nb.n2) > {_SEMDEDUP_TAU}
    ),
    best AS (
        SELECT label, vec_id, MIN(dup_of) AS dup_of
        FROM hits GROUP BY label, vec_id
    )
    SELECT h.label AS label, h.vec_id AS vec_id, h.dup_of AS dup_of,
           h.cosine AS cosine
    FROM hits h
    JOIN best b ON h.vec_id = b.vec_id AND h.dup_of = b.dup_of
    ORDER BY label, vec_id
"""


@register("llm_semdedup", oracle=_SEMDEDUP_ORACLE, tags=("llm", "dedup"))
def llm_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space, then drop any vector whose cluster has a lower-id
    member with cosine > tau. The `label` column plays the quantizer's
    role here (in production the cluster ids come from emb_kmeans /
    ivf_centroids — same machinery, see operators/similarity.py); the
    pairwise pass is cluster-bounded, never corpus-wide, which is what
    makes semantic dedup feasible at 100 TB. tau = 0.3 sits at the
    99.5th percentile of this synthetic corpus's within-cluster
    similarity (it has no planted near-dups; real corpora use ~0.9
    with the identical plan). Output: every dropped vector with its
    smallest qualifying duplicate and the exact cosine."""
    emb = table(spark, sf_dir, "embeddings")
    return similarity.semdedup_drops(emb, _SEMDEDUP_TAU)


# Quantization grid for the near-dup cosine sweep: embeddings snap to
# q = floor(x·2^22 + 0.5) before any dot product, making the whole
# cosine pipeline exact-integer arithmetic (see the kernel comment in
# llm_embedding_neardup) and therefore bit-replayable by a second
# engine. |x| ≤ 2 keeps every intermediate under 2^53.
_NEARDUP_SCALE = 4194304.0  # 2^22


def _embedding_neardup_oracle() -> str:
    """DuckDB oracle for llm_embedding_neardup (upgraded from
    rows-only in r11, the VERDICT r10 ask): candidates are exactly the
    within-(table, bucket) pairs of the persisted lsh/ store (the same
    sigs-store replay convention as _lsh_oracle/_fuzzy_oracle), the
    first-collision ownership rule replays as a list_filter over the
    earlier tables' signatures, and — because the Spark kernel
    quantizes embeddings to the 2^-22 integer grid — every cosine is
    exact-integer dots divided by correctly-rounded sqrt/divide, which
    this SQL reproduces bit-for-bit (BIGINT list folds, one
    int→double product rounding, IEEE sqrt). Artifact path = the
    canonical oracle corpus; lazy (resolved at oracle access)."""
    import os

    from opusdb_spark.operators.ann_index import index_dir_for

    lsh = os.path.join(index_dir_for(_oracle_sf_dir()), "lsh")
    return f"""
        WITH rows AS (
            SELECT vec_id, table_id, bucket, sig_all,
                   list_transform(embedding, x -> CAST(floor(
                       CAST(x AS DOUBLE) * {_NEARDUP_SCALE!r} + 0.5
                   ) AS BIGINT)) AS q
            FROM read_parquet('{lsh}/**/*.parquet', hive_partitioning=1)
        ),
        qn AS (
            SELECT *, list_reduce(list_transform(q, v -> v * v),
                                  (a, b) -> a + b) AS n2
            FROM rows
        ),
        pairs AS (
            SELECT CAST(list_reduce(list_transform(list_zip(a.q, b.q),
                            s -> s[1] * s[2]), (x, y) -> x + y) AS DOUBLE)
                   / sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE))
                       AS cos
            FROM qn a JOIN qn b
              ON a.table_id = b.table_id AND a.bucket = b.bucket
             AND a.vec_id < b.vec_id
            WHERE a.n2 > 0 AND b.n2 > 0
              AND len(list_filter(range(1, CAST(a.table_id AS INT) + 1),
                      t -> a.sig_all[t] = b.sig_all[t])) = 0
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_candidate_pairs,
               MAX(cos) AS max_cosine,
               CAST(SUM(CASE WHEN cos >= 0.95 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_ge_095,
               CAST(SUM(CASE WHEN cos >= 0.80 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_ge_080,
               CAST(SUM(CASE WHEN cos >= 0.60 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_ge_060,
               CAST(SUM(CASE WHEN cos >= 0.40 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_ge_040
        FROM pairs"""


@register(
    "llm_embedding_neardup",
    oracle=_embedding_neardup_oracle,
    tags=("llm", "dedup"),
)
def llm_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs (cos ≥ 0.95) among LSH-bucket
    candidates — the embedding-space dedup pass. Buckets come from the
    PERSISTED ANN index (ingest-once), not a per-query re-bucketing of
    the corpus: at 100 TB the signature expressions run exactly once,
    at ingest. Hash-oracled since r11: embeddings quantize to the
    2^-22 integer grid before the bucket matmul, so every cosine is
    exact-integer arithmetic plus correctly-rounded sqrt/divide and
    DuckDB replays the full sweep from the persisted lsh/ store
    (_embedding_neardup_oracle)."""
    import os

    import numpy as np
    import pandas as pd

    from opusdb_spark.sources.formats import read_store

    idx = _ann_index(spark, sf_dir)
    bucketed = read_store(spark, os.path.join(idx, "lsh")).select(
        "vec_id", "embedding", "sig_all", "table_id", "bucket"
    )

    # Candidate scoring is one float64 X @ X.T per (table, bucket) group
    # — the semdedup_drops Arrow-kernel shape (similarity.py). Two
    # r7 plan properties keep this the 100 TB shape:
    #   (a) OWNERSHIP, not dedupe: a pair colliding in several tables is
    #       counted only by the FIRST table in which it collides (every
    #       lsh/ row carries the full signature `sig_all`, layout v4,
    #       so first-collision is decided bucket-locally). Distinctness
    #       holds by construction, so nothing pair-sized ever shuffles —
    #       the old shape shuffled ~Σ bucket²/2 (id, id, cos) rows
    #       through a groupBy just to drop cross-table repeats (6.3 M
    #       rows / ~5 s of the old 6.5 s at the 20k-vector ladder).
    #   (b) THRESHOLD-SWEEP stats are folded per bucket inside the
    #       kernel (one tiny row per group), so the post-kernel plan is
    #       a map-side-combinable sum over ~#buckets rows.
    # Zero-norm vectors are dropped in the kernel — their cosine is
    # undefined, and they'd otherwise collide in every bucket as
    # phantom NaN near-dups.
    # mapInPandas DIRECTLY over the store's on-disk layout rather than
    # grouped-map applyInPandas: lsh/ is partitionBy(table_id, bucket)
    # with the build's repartition putting each bucket in exactly ONE
    # small parquet file, so a scan task already delivers each bucket's
    # rows contiguously — re-shuffling 1 KB embedding rows into
    # per-bucket groups (JVM serialization + Arrow re-transfer) and the
    # grouped-map path's per-GROUP pandas overhead together cost ~4 s
    # of the old 6 s at the 20k-vector ladder; the numpy fold below is
    # 0.7 s single-core on the same data. Each Arrow BATCH is stacked
    # once and groups are numpy slices of it; a group split across a
    # batch boundary is carried into the next batch, so only a group
    # split across TASKS could lose pairs. Adaptive bits bound the
    # EXPECTED bucket, but a duplicate-heavy corpus — exactly what a
    # near-dup sweep exists to find — can still concentrate one
    # degenerate bucket past maxPartitionBytes, where the scan would
    # split its file across tasks and silently drop cross-split pairs.
    # Guard: if ANY bucket file approaches the split threshold, fall
    # back to an explicit repartition+sort on (table_id, bucket), which
    # restores group-per-task contiguity for the same kernel at the
    # cost of the one shuffle the fast path avoids. The threshold is
    # the EFFECTIVE split size (FilePartition.maxSplitBytes — min of
    # maxPartitionBytes and max(openCostInBytes, bytesPerCore)), not
    # raw maxPartitionBytes: with the session's 64 KB open cost a
    # small store's real split can be a few MB, and comparing against
    # 128 MB would let a multi-row-group bucket file be silently split
    # across tasks — exactly the pair-dropping this guard exists to
    # prevent. The 2x margin covers the one case the formula can't
    # see: Spark splits at row-group boundaries, so only multi-row-
    # group files actually fragment.
    from opusdb_spark.sources.formats import (
        effective_max_split_bytes,
        list_store_files,
    )

    sizes = [s for _, s in list_store_files(os.path.join(idx, "lsh"))]
    biggest = max(sizes, default=0)
    if biggest * 2 >= effective_max_split_bytes(spark, sizes):
        bucketed = bucketed.repartition(
            "table_id", "bucket"
        ).sortWithinPartitions("table_id", "bucket", "vec_id")

    def part_stats(batches):
        acc = {"n": 0, "mx": None, "n95": 0, "n80": 0, "n60": 0, "n40": 0}

        def fold(head):
            tb = head["table_id"].to_numpy().astype(np.int64)
            kv = tb * (np.int64(1) << 32) + head["bucket"].to_numpy().astype(
                np.int64
            )
            X_all = np.stack(head["embedding"].to_numpy()).astype(np.float64)
            G_all = np.stack(head["sig_all"].to_numpy()).astype(np.int64)
            starts = np.flatnonzero(np.r_[True, kv[1:] != kv[:-1]])
            bounds = np.r_[starts, len(kv)]
            for gi in range(len(starts)):
                lo, hi = bounds[gi], bounds[gi + 1]
                if hi - lo < 2:
                    continue
                X = X_all[lo:hi]
                # Quantize to the 2^-22 grid BEFORE the matmul (r11,
                # the rows-only→hash upgrade): Q holds integer-valued
                # float64s (|x| ≤ 2 ⇒ |q| ≤ 2^23, pair dot ≤ 64·2^46 =
                # 2^52 < 2^53), so every product and partial sum in
                # the BLAS X@X.T is an EXACT integer — no rounding, no
                # order/FMA sensitivity — and cos = dot/sqrt(n2a·n2b)
                # is one int→double product rounding + IEEE sqrt + one
                # division, all correctly-rounded ops DuckDB performs
                # identically (_embedding_neardup_oracle). The 2^-22
                # grid perturbs a unit-scale cosine by < 1e-6 — far
                # from every sweep threshold on real data.
                Q = np.floor(X * _NEARDUP_SCALE + 0.5)
                n2 = (Q * Q).sum(axis=1)
                ok = n2 > 0
                if ok.sum() < 2:
                    continue
                Q, n2 = Q[ok], n2[ok]
                S = Q @ Q.T
                ai, bi = np.triu_indices(len(n2), k=1)
                t0 = int(tb[lo])
                # first-collision ownership: drop any pair that already
                # collided in an earlier table (the bucket column is
                # constant within this group, so every pair collides
                # HERE; earlier-table equality is the only disqualifier)
                if t0 > 0:
                    G = G_all[lo:hi][ok]
                    owned = np.ones(len(ai), dtype=bool)
                    for t in range(t0):
                        owned &= G[ai, t] != G[bi, t]
                    ai, bi = ai[owned], bi[owned]
                cos = S[ai, bi] / np.sqrt(n2[ai] * n2[bi])
                if cos.size == 0:
                    continue
                acc["n"] += int(cos.size)
                m = float(cos.max())
                acc["mx"] = m if acc["mx"] is None else max(acc["mx"], m)
                acc["n95"] += int((cos >= 0.95).sum())
                acc["n80"] += int((cos >= 0.80).sum())
                acc["n60"] += int((cos >= 0.60).sum())
                acc["n40"] += int((cos >= 0.40).sum())

        carry = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                continue
            kv = pdf["table_id"].to_numpy().astype(np.int64) * (
                np.int64(1) << 32
            ) + pdf["bucket"].to_numpy().astype(np.int64)
            # last contiguous run of the tail key (groups are
            # contiguous but NOT globally sorted across a task's
            # files, so scan back rather than bisect)
            ne = np.flatnonzero(kv != kv[-1])
            cut = int(ne[-1]) + 1 if len(ne) else 0
            carry = pdf.iloc[cut:]
            if cut:
                fold(pdf.iloc[:cut])
        if carry is not None and len(carry):
            fold(carry)
        if acc["n"]:
            yield pd.DataFrame(
                {
                    "n_pairs": [acc["n"]],
                    "max_cos": [acc["mx"]],
                    "n95": [acc["n95"]],
                    "n80": [acc["n80"]],
                    "n60": [acc["n60"]],
                    "n40": [acc["n40"]],
                }
            )

    stats = bucketed.mapInPandas(
        part_stats,
        "n_pairs long, max_cos double, n95 long, n80 long, n60 long, "
        "n40 long",
    )
    # Threshold-sweep summary instead of the raw pair listing: the
    # synthetic corpus has no true embedding near-dups (max cosine
    # ~0.49), so a bare `cosine >= 0.95` listing is always empty —
    # correct but zero-evidence. The sweep reports the candidate count
    # and how many pairs survive each threshold, so the result is
    # non-empty and pins the whole cosine pipeline deterministically.
    # (Each pair's cosine is computed once, in its owner bucket; the
    # old cross-table max smoothed ulp-level BLAS blocking differences,
    # which a rows-only sweep doesn't need.)
    return stats.agg(
        F.coalesce(F.sum("n_pairs"), F.lit(0)).alias("n_candidate_pairs"),
        F.max("max_cos").alias("max_cosine"),
        F.sum("n95").alias("n_ge_095"),
        F.sum("n80").alias("n_ge_080"),
        F.sum("n60").alias("n_ge_060"),
        F.sum("n40").alias("n_ge_040"),
    )


def _pipeline_oracle() -> str:
    """DuckDB oracle for llm_dedup_pipeline (upgraded from rows-only in
    r9): the END-TO-END composition replays — exact keep-min directly
    on text, near-dup pairs from the signature-store replay restricted
    to exact-dedup survivors, components via the recursive closure
    (label = min member, the large-star/small-star fixpoint), and the
    per-language stats of what survives. The whole corpus-prep
    pipeline, value-checked by a second engine."""
    return f"""
        WITH RECURSIVE pairs0 AS ({_fuzzy_oracle()}),
        kept AS (
            SELECT doc_id, lang, n_chars FROM (
                SELECT doc_id, lang, n_chars,
                       ROW_NUMBER() OVER (
                           PARTITION BY text ORDER BY doc_id
                       ) AS rn
                FROM documents
            ) WHERE rn = 1
        ),
        edges AS (
            SELECT DISTINCT GREATEST(p.doc_a, p.doc_b) AS u,
                            LEAST(p.doc_a, p.doc_b) AS v
            FROM pairs0 p
            JOIN kept ka ON ka.doc_id = p.doc_a
            JOIN kept kb ON kb.doc_id = p.doc_b
            WHERE p.doc_a <> p.doc_b
        ),
        sym AS (
            SELECT u AS a, v AS b FROM edges
            UNION
            SELECT v AS a, u AS b FROM edges
        ),
        reach AS (
            SELECT a, b FROM sym
            UNION
            SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
        ),
        labeled AS (
            SELECT a AS doc_id, LEAST(a, MIN(b)) AS component
            FROM reach GROUP BY a
        ),
        non_canon AS (
            SELECT doc_id FROM labeled WHERE component <> doc_id
        ),
        survivors AS (
            SELECT k.* FROM kept k
            LEFT JOIN non_canon nc USING (doc_id)
            WHERE nc.doc_id IS NULL
        )
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
               CAST(SUM(n_chars) AS BIGINT) AS chars_kept
        FROM survivors GROUP BY lang ORDER BY lang
    """


@register("llm_dedup_pipeline", oracle=_pipeline_oracle(), tags=("llm", "dedup"))
def llm_dedup_pipeline(spark, sf_dir):
    """The full corpus-prep dedup pipeline in one query: exact dedup
    (sha2 keep-min) → MinHash-LSH near-dup pairs on the survivors →
    connected components → drop non-canonical members → per-language
    surviving corpus stats. Every stage is the registered operator the
    standalone queries use; this is the composition a 100 TB corpus
    actually runs. Hash-oracled since r9: the whole composition
    replays in DuckDB (see _pipeline_oracle)."""
    docs = table(spark, sf_dir, "documents")
    exact_kept = dedup.exact_dedup_keep_min(docs).drop("text_hash")
    # the pair graph is per-pair (independent of the rest of the
    # corpus), so the ingest store restricted to pairs whose BOTH
    # endpoints survive exact dedup is identical to re-running LSH over
    # the survivors
    kept_ids = exact_kept.select("doc_id")
    pairs = (
        _minhash_pairs(spark, sf_dir)
        .join(kept_ids.withColumnRenamed("doc_id", "doc_a"), "doc_a", "left_semi")
        .join(kept_ids.withColumnRenamed("doc_id", "doc_b"), "doc_b", "left_semi")
    )
    comp = dedup.neardup_components(pairs)
    non_canonical = comp.filter(F.col("doc_id") != F.col("component")).select(
        "doc_id"
    )
    kept = exact_kept.join(non_canonical, "doc_id", "left_anti")
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum("n_chars").alias("chars_kept"),
        )
        .orderBy("lang")
    )


def _media_corpus_size(sf_dir: str, floor: int) -> int:
    """Media-table row count for the multimodal keys: one blob per
    document (metadata-only footer read — no Spark job in the timed
    query), floored so tiny fixtures still exercise every decoder
    branch. Corpus-sized since r12 (VERDICT r11 ask #6): with a fixed
    n the scale probe measured a constant, not the decode pass."""
    import pyarrow.dataset as ds

    n_docs = ds.dataset(
        f"{sf_dir}/documents.parquet", format="parquet"
    ).count_rows()
    return max(floor, n_docs)


@register("multimodal_features", oracle=None, tags=("llm", "multimodal"))
def multimodal_features(spark, sf_dir):
    """Binary media columns → mapInPandas feature extraction → per-kind
    rollup (operators/multimodal.py). Decode is REAL since r11 —
    pure-numpy PGM/PPM, pure-stdlib PNG (all filters, Adam7), and the
    JPEG codec (baseline + full progressive incl. successive
    approximation since r12); the media table sizes with the corpus so
    the probe measures a genuinely growing per-byte Arrow pass."""
    from opusdb_spark.operators import multimodal

    media = multimodal.synthesize_media(
        spark, n=_media_corpus_size(sf_dir, 256)
    )
    return multimodal.media_summary(media)


@register("multimodal_resize", oracle=None, tags=("llm", "multimodal"))
def multimodal_resize(spark, sf_dir):
    """Frame-sample/resize fan-out (1 media row → n_frames thumb rows),
    counted per media_id — the explode shape of a video pipeline.
    Corpus-sized like multimodal_features (r12)."""
    from pyspark.sql import functions as _F

    from opusdb_spark.operators import multimodal

    media = multimodal.synthesize_media(
        spark, n=_media_corpus_size(sf_dir, 64)
    )
    thumbs = multimodal.resize_plan(media)
    return (
        thumbs.groupBy("media_id")
        .agg(
            _F.count(_F.lit(1)).alias("n_frames"),
            _F.sum(_F.length("thumb")).alias("thumb_bytes"),
        )
        .orderBy("media_id")
    )


@register("multimodal_frame_sample", oracle=None, tags=("llm", "multimodal"))
def multimodal_frame_sample(spark, sf_dir):
    """Video frame sampling: decode concatenated-Netpbm raw video, keep
    every 2nd frame, per-frame luma + thumbnail; per-media rollup of
    sampled-frame count and decimal-summed luma (rows-only: binary
    media is synthesized, operators/multimodal.py)."""
    from pyspark.sql import functions as _F

    from opusdb_spark.operators import multimodal

    media = multimodal.synthesize_media(spark, n=64)
    sampled = multimodal.sample_frames(media, stride=2)
    return (
        sampled.groupBy("media_id", "kind")
        .agg(
            _F.count(_F.lit(1)).alias("n_sampled"),
            _F.sum(_F.col("mean_luma").cast("decimal(27,6)"))
            .cast("double")
            .alias("sum_luma"),
            _F.sum(_F.length("thumb")).alias("thumb_bytes"),
        )
        .orderBy("media_id")
    )


@register("multimodal_scene_cuts", oracle=None, tags=("llm", "multimodal"))
def multimodal_scene_cuts(spark, sf_dir):
    """Shot-boundary detection over scene-structured raw video
    (operators/multimodal.py scene_cuts): mean-abs luma delta between
    consecutive frames, a cut where it clears the threshold —
    within-scene noise sits ~3, a scene swap ~85, so the detector is
    unambiguous. Decode + differencing is one shuffle-free Arrow pass;
    the per-media rollup (frames, cuts, first cut, decimal-summed
    delta) aggregates frame-count-sized rows; frame 0 rides along with
    a NULL delta so even a 1-frame media appears in the report. The
    planted scene boundaries are derivable from media_id, pinned in
    tests (rows-only: synthetic binary media)."""
    from opusdb_spark.operators import multimodal

    media = multimodal.synthesize_scene_video(spark, n=48)
    cuts = multimodal.scene_cuts(media, threshold=20.0)
    return (
        cuts.groupBy("media_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.sum(F.col("is_cut").cast("int")).alias("n_cuts"),
            F.min(
                F.when(F.col("is_cut"), F.col("frame_id"))
            ).alias("first_cut_frame"),
            F.sum(F.col("delta").cast("decimal(27,6)"))
            .cast("double")
            .alias("sum_delta"),
        )
        .orderBy("media_id")
    )


@register(
    "llm_bm25_topk",
    oracle="""
        WITH toks AS (
            SELECT doc_id, w
            FROM documents, LATERAL (SELECT UNNEST(string_split(text, ' ')) AS w)
            WHERE w <> ''
        ),
        doclen AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
            FROM toks GROUP BY doc_id
        ),
        stats AS (
            SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs,
                   CAST((SELECT SUM(dl) FROM doclen) AS DOUBLE)
                       / (SELECT COUNT(*) FROM documents) AS avgdl
        ),
        terms AS (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS c,
                   CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
            FROM toks GROUP BY w ORDER BY c DESC, w LIMIT 3
        ),
        tf AS (
            SELECT t.doc_id, t.w, CAST(COUNT(*) AS BIGINT) AS tf
            FROM toks t JOIN terms q ON t.w = q.w
            GROUP BY t.doc_id, t.w
        ),
        contrib AS (
            SELECT tf.doc_id,
                   round(
                       ln(1 + (s.n_docs - q.df + 0.5) / (q.df + 0.5))
                       * (tf.tf * 2.2)
                       / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)),
                   6) AS c
            FROM tf
            JOIN terms q ON tf.w = q.w
            JOIN doclen dl ON dl.doc_id = tf.doc_id
            CROSS JOIN stats s
        )
        SELECT doc_id, CAST(SUM(CAST(c AS DECIMAL(27,6))) AS DOUBLE) AS bm25
        FROM contrib GROUP BY doc_id
        ORDER BY SUM(CAST(c AS DECIMAL(27,6))) DESC, doc_id LIMIT 20
    """,
    tags=("llm", "ranking"),
)
def llm_bm25_topk(spark, sf_dir):
    """BM25 (k1=1.2, b=0.75) top-20 docs for the corpus's 3 most
    frequent terms — the inverted-index ranking pass of a retrieval /
    data-curation pipeline, expressed as pure Catalyst joins+aggs.

    Scale shape: tokens are exploded once and aggregated map-side; the
    query-term list (LIMIT 3 via TakeOrdered) is model-sized and
    broadcast, so per-doc tf is computed only for matching terms. No
    all-pairs work, no Python. Cross-engine exactness: per-term
    contributions are rounded to 6 dp (JVM vs libm `ln` differs by
    1 ulp), then decimal-summed per doc; ranking uses the exact decimal
    sum with doc_id tie-break, so the top-20 set is deterministic in
    both engines.
    """
    from opusdb_spark.operators.skew import spread

    # token explosion is ~100× per-row fan-out: widen a single-split
    # scan first (no-op at cluster scale — see skew.spread)
    docs = spread(table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    doclen = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    n_df = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    tot_df = doclen.agg(F.sum("dl").alias("_tot"))
    stats = (
        n_df.crossJoin(tot_df)
        .select(
            "n_docs",
            (F.col("_tot").cast("double") / F.col("n_docs")).alias("avgdl"),
        )
    )
    terms = (
        toks.groupBy("w")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.countDistinct("doc_id").alias("df"),
        )
        .orderBy(F.col("c").desc(), F.col("w"))
        .limit(3)
    )
    tf = (
        toks.join(F.broadcast(terms.select("w")), "w")
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    contrib = (
        tf.join(F.broadcast(terms), "w")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(
                F.log(
                    F.lit(1)
                    + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * (F.col("tf") * 2.2)
                / (
                    F.col("tf")
                    + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))
                ),
                6,
            ).alias("c"),
        )
    )
    dec = F.sum(F.col("c").cast("decimal(27,6)"))
    return (
        contrib.groupBy("doc_id")
        .agg(dec.cast("double").alias("bm25"), dec.alias("_rank"))
        .orderBy(F.col("_rank").desc(), F.col("doc_id"))
        .limit(20)
        .drop("_rank")
    )


@register(
    "emb_label_centroids",
    oracle="""
        SELECT label, i AS dim,
               round(CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(27,12)))
                          AS DOUBLE) / COUNT(*), 6) AS centroid
        FROM embeddings, LATERAL (SELECT UNNEST(range(1, 65)) AS i)
        GROUP BY label, i
    """,
    tags=("llm", "embedding"),
)
def emb_label_centroids(spark, sf_dir):
    """Per-label embedding centroids as (label, dim, centroid) rows —
    the class-prototype computation behind clustering diagnostics and
    centroid-based filtering. posexplode + keyed partial aggregation:
    at 100 TB each executor pre-sums its local vectors per (label, dim)
    before one shuffle of 64×n_labels partials. Component sums are
    decimal (order-independent); the one residual cross-engine hazard
    is a float whose exact decimal expansion lands on a half-way point
    of the decimal(27,12) cast, where Spark (HALF_UP) and DuckDB
    disagree by ~1e-14 — so centroids are reported on a 6-dp grid,
    which both engines reach identically. Rows, not array columns, so
    results stay hashable for the driver's canonicalizer."""
    emb = table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "label", F.posexplode(F.col("embedding")).alias("i0", "x")
    ).select(
        "label",
        (F.col("i0") + 1).alias("dim"),
        F.col("x").cast("double").alias("x"),
    )
    return flat.groupBy("label", "dim").agg(
        F.round(
            F.sum(F.col("x").cast("decimal(27,12)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("centroid")
    )


@register(
    "llm_dedup_editdist",
    oracle="""
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
        pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
            FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
        cand AS (
            SELECT doc_a, doc_b FROM pairs
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5
        )
        SELECT c.doc_a, c.doc_b,
               CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist,
               round(1.0 - levenshtein(da.text, db.text)
                         / GREATEST(len(da.text), len(db.text), 1), 6) AS sim
        FROM cand c
        JOIN documents da ON da.doc_id = c.doc_a
        JOIN documents db ON db.doc_id = c.doc_b
        WHERE 1.0 - levenshtein(da.text, db.text)
                  / GREATEST(len(da.text), len(db.text), 1) >= 0.6
    """,
    tags=("llm", "dedup"),
)
def llm_dedup_editdist(spark, sf_dir):
    """Edit-distance VERIFICATION of near-dup candidates — the final
    precision pass of a dedup pipeline: candidates come from the
    shared-3-gram equi-join FILTERED to gram-Jaccard >= 0.5 (never
    all-pairs, and never the long tail of incidental gram collisions),
    then exact Levenshtein similarity 1 - d/max_len >= 0.6 confirms
    them. Levenshtein is O(len^2) per pair, which is exactly why it
    only runs on the already-likely candidates; both engines implement
    the same classic DP, so distances match exactly."""
    docs = table(spark, sf_dir, "documents")
    stats = _gram_pair_stats(_word3grams(docs))
    jac = F.col("inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("inter")
    )
    cand = stats.filter(jac >= 0.5).select("doc_a", "doc_b")
    ta = docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"))
    tb = docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b"))
    dist = F.levenshtein("text_a", "text_b")
    sim = 1.0 - dist / F.greatest(
        F.length("text_a"), F.length("text_b"), F.lit(1)
    )
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            dist.cast("long").alias("edit_dist"),
            F.round(sim, 6).alias("sim"),
        )
        .filter(sim >= 0.6)
    )


def _kmeans_oracle(k: int = 8, iters: int = 5, dim: int = 64) -> str:
    """DuckDB oracle for emb_kmeans (upgraded from rows-only in r10):
    the full Lloyd recurrence replays — seeds from the portable md5
    hash ordering (similarity.kmeans_seed_order_sql), per-iteration
    assignment as the SAME sequential left-fold Σ(a−b)² the Spark
    expression computes (list_reduce replays F.aggregate bitwise —
    premise pinned in tests/test_properties.py) with argmin tie→lowest
    cell, means as exact decimal sums cast to double then divided as
    doubles, and the inertia total as one exact decimal sum converted
    once. Every centroid double chains exactly, so assignments, moved-
    cell counts, and the trace replay bit-for-bit. (ROUND at 6 dp is
    half-away in SQL vs banker's in Python — a divergence only on an
    exact 5×10⁻⁷ tie of a double sum, which real data cannot hit.)"""
    from opusdb_spark.operators.similarity import kmeans_seed_order_sql

    fold = (
        "list_reduce(list_transform(list_zip(e.v, c.cl),"
        " s -> (s[1] - s[2]) * (s[1] - s[2])), (acc, x) -> acc + x)"
    )
    parts = [
        f"""
        WITH idx AS (SELECT UNNEST(range(1, {dim + 1})) AS i),
        vecs AS MATERIALIZED (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings
        ),
        c0 AS MATERIALIZED (
            SELECT cell, cl FROM (
                SELECT ROW_NUMBER() OVER (
                    ORDER BY {kmeans_seed_order_sql("vec_id")} ASC,
                             vec_id ASC) - 1 AS cell,
                       v AS cl
                FROM vecs
            ) WHERE cell < {k}
        )"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""",
        a{i} AS MATERIALIZED (
            SELECT vec_id, v, cell, sqd FROM (
                SELECT d.*, ROW_NUMBER() OVER (
                    PARTITION BY vec_id ORDER BY sqd, cell) AS rn
                FROM (
                    SELECT e.vec_id, e.v, c.cell, {fold} AS sqd
                    FROM vecs e, c{i - 1} c
                ) d
            ) WHERE rn = 1
        ),
        s{i} AS MATERIALIZED (
            SELECT cell, i.i - 1 AS dim0,
                   CAST(SUM(CAST(a.v[i.i] AS DECIMAL(27,12))) AS DOUBLE)
                       / COUNT(*) AS m
            FROM a{i} a, idx i GROUP BY 1, 2
        ),
        c{i} AS MATERIALIZED (
            SELECT p.cell, list(COALESCE(s.m, p.x) ORDER BY p.dim0) AS cl
            FROM (
                SELECT c.cell, i.i - 1 AS dim0, c.cl[i.i] AS x
                FROM c{i - 1} c, idx i
            ) p
            LEFT JOIN s{i} s ON s.cell = p.cell AND s.dim0 = p.dim0
            GROUP BY p.cell
        ),
        t{i} AS (
            SELECT {i - 1} AS iteration,
                   ROUND(CAST((SELECT SUM(CAST(sqd AS DECIMAL(27,12)))
                               FROM a{i}) AS DOUBLE), 6) AS inertia,
                   CAST((SELECT COUNT(*) FROM c{i} n
                         JOIN c{i - 1} o USING (cell)
                         WHERE n.cl <> o.cl) AS INTEGER) AS n_moved_cells
        )"""
        )
    finals = "\n        UNION ALL ".join(
        f"SELECT * FROM t{i}" for i in range(1, iters + 1)
    )
    parts.append(f"\n        {finals} ORDER BY iteration")
    return "".join(parts)


@register("emb_kmeans", oracle=_kmeans_oracle(), tags=("llm", "embedding"))
def emb_kmeans(spark, sf_dir):
    """Iterative k-means over the embedding corpus (k=8, 5 Lloyd
    iterations) returning the convergence trace (iteration, inertia,
    centroids moved). The canonical iterative algorithm a training-data
    engine must run well: per iteration exactly ONE distributed pass
    (assign + per-dim means + inertia in a single groupBy — see
    similarity.kmeans_inertia), with only the O(k×dim) model crossing
    the driver. Deterministic: portable-hash-ordered seeding, argmin
    tie→lowest cell, decimal-summed means; inertia is provably
    non-increasing (pinned in tests). Hash-oracled since r10: the
    assignment is a whole-stage-codegen left fold (no Arrow UDF) and
    every step of the recurrence replays in DuckDB (_kmeans_oracle) —
    the recurrence-replay treatment EWMA/Holt got in r9, extended to a
    full iterative clustering algorithm. Inertia is rounded with the
    measured bit-mirror of DuckDB's ROUND kernel (exactness.
    round_like_duckdb — ADVICE r10: Python round() is banker's and
    could diverge on an exact tie), so both sides share ONE rounding
    rule with no caveat."""
    from opusdb_spark.exactness import round_like_duckdb

    trace = similarity.kmeans_inertia(
        table(spark, sf_dir, "embeddings"), k=8, iters=5
    )
    return spark.createDataFrame(
        [
            (it, round_like_duckdb(inertia, 6), moved)
            for it, inertia, moved in trace
        ],
        "iteration int, inertia double, n_moved_cells int",
    )


@register("multimodal_audio_energy", oracle=None, tags=("llm", "multimodal"))
def multimodal_audio_energy(spark, sf_dir):
    """Audio modality featurization: windowed RMS energy + silence-frame
    counts over raw-PCM blobs (operators/multimodal.py:audio_energy) —
    the energy-gating pass before ASR transcription. Pure mapInPandas
    map, pinned against a numpy reference in tests (rows-only: binary
    media is synthesized). The media table sizes with the corpus (one
    blob per document, floor 256) so the scale probe measures a
    genuinely growing Arrow pass, not a fixed-size synthetic — sized
    from the parquet FOOTER row count (metadata-only, no Spark job;
    ADVICE r10: the previous documents.count() action put a corpus
    scan inside every timed invocation of the featurization pass)."""
    from opusdb_spark.operators import multimodal

    media = multimodal.synthesize_media(
        spark, n=_media_corpus_size(sf_dir, 256)
    )
    return multimodal.audio_energy(media).orderBy("media_id")


def _method_report_oracle() -> str:
    """DuckDB oracle for llm_dedup_method_report (upgraded from
    rows-only in r9): every branch of the detector comparison now has
    a replayable formulation — exact/normalized groups directly on
    text, MinHash pairs from the signature-store replay
    (_fuzzy_oracle), SimHash pairs from the exhaustive bit_count check
    (_simhash_oracle), exact gram Jaccard from its own SQL, components
    from the recursive closure (_cluster_oracle) — so the whole report
    is one UNION of second-engine counts."""
    return f"""
        SELECT 'exact_dup_pairs' AS method,
               CAST(COALESCE(SUM(c * (c - 1) / 2), 0) AS BIGINT) AS n
        FROM (
            SELECT COUNT(*) AS c FROM documents GROUP BY text
            HAVING COUNT(*) > 1
        )
        UNION ALL
        SELECT 'normalized_dup_clusters',
               CAST(COUNT(*) AS BIGINT)
        FROM (
            SELECT 1 FROM documents GROUP BY lower(trim(text))
            HAVING COUNT(*) > 1
        )
        UNION ALL
        SELECT 'minhash_est_pairs', CAST(COUNT(*) AS BIGINT)
        FROM ({_fuzzy_oracle()})
        UNION ALL
        SELECT 'simhash_h3_pairs', CAST(COUNT(*) AS BIGINT)
        FROM ({_simhash_oracle()})
        UNION ALL
        SELECT 'ngram_jaccard08_pairs', CAST(COUNT(*) AS BIGINT)
        FROM ({_NGRAM_JACCARD_ORACLE})
        UNION ALL
        SELECT 'neardup_components', CAST(COUNT(*) AS BIGINT)
        FROM ({_cluster_oracle()})
    """


@register(
    "llm_dedup_method_report",
    oracle=_method_report_oracle(),
    tags=("llm", "dedup", "eval"),
)
def llm_dedup_method_report(spark, sf_dir):
    """One-row-per-method dedup comparison over the same corpus: how
    many duplicate PAIRS each detector finds (exact sha2, normalized
    keep-best, MinHash-LSH estimate, SimHash Hamming≤3, exact 3-gram
    Jaccard≥0.8) plus the near-dup component count — the side-by-side
    a pipeline owner reads before choosing a detector/threshold. Every
    branch reuses the registered operator or its persisted ingest
    artifact; the report itself is five model-sized counts unioned.
    Hash-oracled since r9: every branch replays in DuckDB (see
    _method_report_oracle)."""
    docs = table(spark, sf_dir, "documents")

    def one(method, df):
        return df.agg(
            F.lit(method).alias("method"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )

    exact_pairs = (
        docs.select("doc_id", F.sha2("text", 256).alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(
            F.lit("exact_dup_pairs").alias("method"),
            F.coalesce(
                F.sum(F.col("c") * (F.col("c") - 1) / 2).cast("bigint"),
                F.lit(0),
            ).alias("n"),
        )
    )
    norm_clusters = one(
        "normalized_dup_clusters",
        llm_dedup_keep_best(spark, sf_dir).filter(F.col("n_copies") > 1),
    )
    minhash_pairs = one("minhash_est_pairs", _minhash_pairs(spark, sf_dir))
    simhash_pairs = one(
        "simhash_h3_pairs",
        dedup.simhash_near_dups(docs, fp=_simhash_fps(spark, sf_dir)),
    )
    ngram_pairs = one(
        "ngram_jaccard08_pairs", llm_dedup_ngram_jaccard(spark, sf_dir)
    )
    components = one(
        "neardup_components",
        _minhash_components(spark, sf_dir).groupBy("component").count(),
    )
    return (
        exact_pairs.unionByName(norm_clusters)
        .unionByName(minhash_pairs)
        .unionByName(simhash_pairs)
        .unionByName(ngram_pairs)
        .unionByName(components)
    )


# ----------------------------------------------- substring-level dedup
_SUBSTR_K = 10

_SUBSTR_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    spans AS (
        SELECT doc_id,
               md5(array_to_string(t[i:i+{_SUBSTR_K}-1], ' ')) AS h
        FROM toks,
             UNNEST(range(1, greatest(len(t) - {_SUBSTR_K} + 2, 1))) AS u(i)
    ),
    shared AS (
        SELECT h FROM spans GROUP BY h HAVING COUNT(DISTINCT doc_id) > 1
    ),
    per_doc AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans FROM spans
        GROUP BY doc_id
    ),
    per_doc_dup AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_spans
        FROM spans SEMI JOIN shared USING (h)
        GROUP BY doc_id
    )
    SELECT p.doc_id, p.n_spans,
           COALESCE(d.n_dup_spans, 0) AS n_dup_spans,
           ROUND(CAST(COALESCE(d.n_dup_spans, 0) AS DOUBLE) / p.n_spans, 6)
               AS dup_frac
    FROM per_doc p LEFT JOIN per_doc_dup d ON p.doc_id = d.doc_id
"""


@register("llm_substring_dedup", oracle=_SUBSTR_ORACLE, tags=("llm", "dedup"))
def llm_substring_dedup(spark, sf_dir):
    """Exact-substring duplication profile (the ExactSubstr criterion of
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): every K-token span is fingerprinted, spans appearing in
    MORE THAN ONE document are flagged, and each doc reports its
    duplicated-span fraction — the signal used to cut copied passages
    that doc-level MinHash misses. Spark shape: ONE explode pass to one
    row per span position (n_tokens-K+1 rows/doc), xxhash64 the span so
    the shuffle moves a fixed 8-byte BIGINT instead of the span text
    (the hash is only ever compared, never surfaced, so the oracle's
    md5 fingerprint is interchangeable — both flag the same spans
    barring a 64-bit collision), then a
    single aggregation chain on progressively smaller data: count per
    (span, doc) pair (map-side combinable — this is the only shuffle
    that sees the exploded rows), a partitioned window over the span
    hash for the distinct-doc count, and one per-doc rollup where
    n_spans = SUM(pair counts) falls out for free. At 100 TB this is
    the standard suffix-array approximation: linear row blow-up, no
    all-pairs step, and — unlike a naive shared-set + semi-join plan —
    the corpus is tokenized and exploded exactly once. Docs shorter
    than K tokens have no spans and are absent, same as the oracle."""
    from opusdb_spark.operators.skew import spread

    # span hashing explodes each row ~100×: widen a single-split scan
    # first (no-op at cluster scale — see skew.spread)
    docs = spread(table(spark, sf_dir, "documents"))
    # r13 (guide §4.1, the llm_decontaminate finding): the span stream
    # is built with posexplode + a slice/join projection instead of a
    # transform() lambda — higher-order functions are CodegenFallback
    # (interpreted per element), and the interpreted slice+join+hash
    # per span dominated the pass. Generate(posexplode) and the
    # projection both run inside WholeStageCodegen (sf1 span stream
    # via noop sink: 1.12 → 0.67 s; stream bit-identical — count +
    # bit_xor(xxhash64(doc_id, h)) match, OPTIMIZATION_r13.md:156).
    # Positions past n−K drop before hashing, so docs shorter than K
    # tokens vanish exactly as the old WHEN guard dropped them.
    toks = F.split(F.col("text"), " ")
    pe = docs.select("doc_id", toks.alias("_t")).select(
        "doc_id", "_t", F.posexplode("_t").alias("_pos", "_w1")
    )
    spans = pe.filter(F.col("_pos") <= F.size("_t") - _SUBSTR_K).select(
        "doc_id",
        F.xxhash64(
            F.array_join(F.slice("_t", F.col("_pos") + 1, _SUBSTR_K), " ")
        ).alias("h"),
    )
    # One row per (span-hash, doc); c = occurrences of the span in the
    # doc. SUM(c) per doc == n_spans, COUNT(rows) per hash == distinct
    # docs containing the span — so everything downstream derives from
    # this single partial-aggregated table.
    # r13 measured rejection (guide §2.4): pre-partitioning the span
    # stream by h alone would let the (h, doc_id) aggregate and the
    # h-window share one exchange (subset rule), and under full-output
    # evaluation it wins (sf1 noop 1.93 → 1.52 s). But when only the
    # row COUNT is consumed, Catalyst prunes the unused window — and
    # its exchange — from THIS form entirely (sf1 count(): 1.03 s),
    # while an explicit repartition is a barrier the optimizer must
    # keep (1.43 s). The lazily-prunable form is kept: consumers that
    # don't read dup_frac shouldn't pay for it.
    pair = spans.groupBy("h", "doc_id").agg(F.count(F.lit(1)).alias("c"))
    nd = F.count(F.lit(1)).over(Window.partitionBy("h"))
    return (
        pair.withColumn("nd", nd)
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_spans"),
            F.sum(
                F.when(F.col("nd") > 1, F.col("c")).otherwise(F.lit(0))
            ).alias("n_dup_spans"),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_dup_spans",
            F.round(
                F.col("n_dup_spans").cast("double") / F.col("n_spans"), 6
            ).alias("dup_frac"),
        )
    )


# ----------------------------------------------- token-entropy quality
_ENTROPY_ORACLE = """
    WITH toks AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents
    ),
    cnt AS (
        SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c FROM toks
        GROUP BY doc_id, w
    ),
    ent AS (
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_distinct,
               ROUND(
                   ROUND(LN(CAST(SUM(c) AS DOUBLE)), 6)
                   - ROUND(
                       CAST(SUM(CAST(ROUND(c * LN(CAST(c AS DOUBLE)), 6)
                                     AS DECIMAL(27,6))) AS DOUBLE)
                       / SUM(c), 6),
                   6) AS token_entropy
        FROM cnt GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, n_distinct, token_entropy,
           (token_entropy < 3.0) AS low_entropy
    FROM ent
"""


@register("llm_entropy_filter", oracle=_ENTROPY_ORACLE, tags=("llm", "quality"))
def llm_entropy_filter(spark, sf_dir):
    """Token-distribution entropy per document — the repetitiveness
    signal quality pipelines use to cut boilerplate/spam (low entropy =
    few distinct tokens dominating): H = ln(n) − Σc·ln(c)/n in nats.
    Irrational terms are rounded at 6dp BEFORE the decimal sum (the
    bm25 pattern: libm ln differs by 1 ulp across engines, and double
    partial-sum order varies with partitioning — round-then-decimal
    makes the result bit-stable and oracle-matchable). Two
    map-side-combinable aggregations, both keyed by doc_id — one
    shuffle at scale."""
    docs = table(spark, sf_dir, "documents")
    cnt = (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
        )
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    term = F.round(F.col("c") * F.log(F.col("c").cast("double")), 6)
    ent = cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.round(
            F.round(F.log(F.sum("c").cast("double")), 6)
            - F.round(
                F.sum(term.cast("decimal(27,6)")).cast("double")
                / F.sum("c"),
                6,
            ),
            6,
        ).alias("token_entropy"),
    )
    return ent.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        "token_entropy",
        (F.col("token_entropy") < 3.0).alias("low_entropy"),
    )


# ----------------------------------------- embedding covariance / PCA
_COV_ORACLE = """
    WITH f AS (
        SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
        FROM embeddings, LATERAL (SELECT UNNEST(range(1, 65)) AS i)
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
    sums AS (
        SELECT i, CAST(SUM(CAST(x AS DECIMAL(27,12))) AS DOUBLE) AS sx
        FROM f GROUP BY i
    ),
    prods AS (
        SELECT a.i AS i, b.i AS j,
               CAST(SUM(CAST(a.x * b.x AS DECIMAL(27,12))) AS DOUBLE) AS sxy
        FROM f a JOIN f b ON a.vec_id = b.vec_id AND b.i >= a.i
        GROUP BY a.i, b.i
    )
    SELECT p.i, p.j,
           ROUND(p.sxy / n.n - (sa.sx / n.n) * (sb.sx / n.n), 6) + 0.0 AS cov
    FROM prods p
    CROSS JOIN n
    JOIN sums sa ON sa.i = p.i
    JOIN sums sb ON sb.i = p.j
"""


@register("emb_covariance", oracle=_COV_ORACLE, tags=("llm", "embedding"))
def emb_covariance(spark, sf_dir):
    """Exact population covariance matrix of the embedding columns as
    upper-triangle (i, j, cov) rows — the input to PCA / whitening /
    Mahalanobis outlier scoring over an embedding corpus. Spark shape:
    each vector expands to its 2,080 upper-triangle component products
    via two chained explode(sequence()) Generates plus an element_at
    projection — all whole-stage codegen (r13; the previous nested
    array-transform() build was CodegenFallback, interpreted per
    element like every higher-order function, and A/B-measured slower:
    sf0.1 best 1.23 → 0.93 s, sf1 5.09 → 4.60 s, new shape ahead in
    every interleaved round — OPTIMIZATION_r13.md:210). No self-join of the
    exploded table (the oracle's join formulation would shuffle n·dim
    rows): only dim² partial aggregates cross after map-side combine,
    keyed directly on (i, j), which also retires the old pos→(i, j)
    broadcast-mapping join. Products of float32 casts are exact in
    double, per-product decimal casts make the sums order-independent,
    and the 6-dp grid absorbs the half-even/half-up cast divergence.
    At 100 TB the reduce state is dim²·n_partitions partials —
    model-sized — and the scan is embarrassingly parallel — provided
    it HAS partitions: the embeddings table is small on disk but each
    row expands 2,080×, so a single-split scan would serialize the
    whole expansion on one core (spread() widens it; no-op at cluster
    scale)."""
    from opusdb_spark.operators.skew import spread

    emb = spread(table(spark, sf_dir, "embeddings"))
    dim = 64
    # One (i, j, x_i·x_j) row per upper-triangle pair: Generate #1
    # fans each vector out to its 64 i-rows, Generate #2 to the
    # (65 − i) j-rows, and the product projection reads the carried
    # array twice — no 2,080-element array is ever materialized.
    e1 = emb.select(
        "embedding", F.explode(F.sequence(F.lit(1), F.lit(dim))).alias("i")
    )
    e2 = e1.select(
        "embedding",
        "i",
        F.explode(F.sequence(F.col("i"), F.lit(dim))).alias("j"),
    )
    flat = e2.select(
        "i",
        "j",
        (
            F.element_at("embedding", F.col("i")).cast("double")
            * F.element_at("embedding", F.col("j")).cast("double")
        ).alias("xy"),
    )
    prods = flat.groupBy("i", "j").agg(
        F.sum(F.col("xy").cast("decimal(27,12)")).cast("double").alias("sxy")
    )
    comp = emb.select(
        F.posexplode("embedding").alias("i0", "x")
    ).select((F.col("i0") + 1).alias("i"), F.col("x").cast("double").alias("x"))
    sums = comp.groupBy("i").agg(
        F.sum(F.col("x").cast("decimal(27,12)")).cast("double").alias("sx")
    )
    n = emb.agg(F.count(F.lit(1)).alias("n"))
    return (
        prods.crossJoin(F.broadcast(n))
        .join(F.broadcast(sums.withColumnRenamed("sx", "sa")), "i")
        .join(
            F.broadcast(
                sums.select(F.col("i").alias("j"), F.col("sx").alias("sb"))
            ),
            "j",
        )
        .select(
            "i",
            "j",
            # + 0.0 collapses IEEE negative zero: a tiny negative
            # covariance rounds to -0.0, whose repr/hash differs from
            # 0.0 even though the values compare equal
            (
                F.round(
                    F.col("sxy") / F.col("n")
                    - (F.col("sa") / F.col("n")) * (F.col("sb") / F.col("n")),
                    6,
                )
                + F.lit(0.0)
            ).alias("cov"),
        )
    )


@register("emb_pca_power", oracle=None, tags=("llm", "embedding"))
def emb_pca_power(spark, sf_dir):
    """Top principal components from the DISTRIBUTED covariance matrix:
    the dim×dim matrix (2,080 upper-triangle rows — model-sized, the
    same class as IVF centroids) is collected and eigendecomposed
    driver-side (symmetric eigh, deterministic); the data-sized work —
    one corpus pass building exact covariance — all happens in
    emb_covariance's plan. Reports the top-5 components' eigenvalues,
    explained-variance fractions, and sign-normalized leading loadings
    (first nonzero loading positive, so the answer is unique).
    Rows-only: eigensolvers aren't SQL-expressible. Output is one row
    per (component, dim_idx) with scalar columns only — the driver's
    rows-only canonicalizer sorts rows by every column value, so array
    columns (unhashable in pandas) are banned from rows-only results
    (tests/test_parity_strictness.py pins this for every rows-only
    key)."""
    import numpy as np

    rows = emb_covariance(spark, sf_dir).collect()
    dim = 64
    C = np.zeros((dim, dim))
    for r in rows:
        C[r["i"] - 1, r["j"] - 1] = r["cov"]
        C[r["j"] - 1, r["i"] - 1] = r["cov"]
    vals, vecs = np.linalg.eigh(C)
    order = np.argsort(-vals)
    total = float(vals.sum())
    out = []
    for rank, idx in enumerate(order[:5], start=1):
        v = vecs[:, idx]
        nz = np.nonzero(np.abs(v) > 1e-12)[0]
        if len(nz) and v[nz[0]] < 0:
            v = -v
        for dim_idx in range(8):
            out.append(
                (
                    rank,
                    round(float(vals[idx]), 6),
                    round(float(vals[idx] / total), 6) if total else None,
                    dim_idx + 1,
                    round(float(v[dim_idx]), 6) + 0.0,
                )
            )
    return spark.createDataFrame(
        out,
        "component int, eigenvalue double, explained_frac double, "
        "dim_idx int, loading double",
    )


@register("multimodal_phash_dedup", oracle=None, tags=("llm", "multimodal", "dedup"))
def multimodal_phash_dedup(spark, sf_dir):
    """Image near-duplicate detection by perceptual hash: DCT pHash per
    image (Arrow-batched map over real PGM bytes), 16-band pigeonhole
    join for candidates, exact Hamming filter at ≤ 10 bits — the image
    analog of SimHash text dedup, and the standard first pass of an
    image-corpus dedup at 100 TB (hashing is a pure map; the band join
    shuffles 16 small (band, nibble) keys per image, never pixels).
    The synthetic corpus plants a ±2-noise copy at every id % 4 == 1
    (operators/multimodal.py), so expected pairs are (4k, 4k+1);
    rows-only — binary media is synthesized, but determinism and the
    planted-pair recall are pinned in tests."""
    from opusdb_spark.operators import multimodal

    media = multimodal.synthesize_image_corpus(spark, n=128)
    hashed = multimodal.with_phash(media)
    return multimodal.phash_near_dups(hashed, max_hamming=10).orderBy(
        "id_a", "id_b"
    )


# --------------------------------------------- URL canonical dedup
# Synthetic URL variants per doc (4 per canonical target): mixed-case
# scheme/host, explicit default port, trailing slash, utm_* tracking
# params — the four most common crawl-duplicate shapes.
_URL_VARIANTS = """
    CASE CAST(doc_id % 4 AS INTEGER)
        WHEN 0 THEN 'https://www.example.com/a/'
                    || CAST(doc_id // 4 AS VARCHAR)
        WHEN 1 THEN 'HTTPS://WWW.Example.COM:443/a/'
                    || CAST(doc_id // 4 AS VARCHAR)
        WHEN 2 THEN 'https://www.example.com/a/'
                    || CAST(doc_id // 4 AS VARCHAR) || '/'
        ELSE 'https://www.example.com/a/'
             || CAST(doc_id // 4 AS VARCHAR)
             || '?utm_source=feed&utm_campaign=x'
    END
"""

_URL_DEDUP_ORACLE = f"""
    WITH u AS (SELECT doc_id, n_chars, {_URL_VARIANTS} AS url FROM documents),
    c AS (
        SELECT doc_id, n_chars, url,
               lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#]+)', 1)) AS host0,
               regexp_extract(url, '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1) AS path0,
               regexp_extract(url, '\\?([^#]*)', 1) AS query0
        FROM u
    ),
    n AS (
        SELECT doc_id, n_chars, url,
               regexp_replace(host0, ':(443|80)$', '') AS host,
               CASE WHEN path0 <> '/' THEN regexp_replace(path0, '/$', '')
                    ELSE '' END AS path,
               regexp_replace(regexp_replace(query0,
                   '(^|&)utm_[^&]*', '', 'g'), '^&', '') AS query
        FROM c
    ),
    k AS (
        SELECT doc_id, n_chars, url,
               'https://' || host || path ||
               CASE WHEN query <> '' THEN '?' || query ELSE '' END
                   AS canonical_url
        FROM n
    )
    SELECT canonical_url,
           CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_variants,
           CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS chars_total
    FROM k GROUP BY canonical_url
"""


@register("llm_url_dedup", oracle=_URL_DEDUP_ORACLE, tags=("llm", "dedup"))
def llm_url_dedup(spark, sf_dir):
    """URL-canonicalization dedup — the crawl-side first pass that runs
    BEFORE any content hashing: lowercase scheme+host, strip default
    ports (:443/:80), strip the trailing slash, drop utm_* tracking
    params, group by canonical URL and keep the lowest doc_id. The
    synthetic variants plant all four duplicate shapes so every
    canonical group collapses 4→1. One hash-groupBy shuffle on the
    canonical string; all normalization is codegen regex — at 100 TB
    this dedupes the URL frontier without touching document bytes."""
    docs = table(spark, sf_dir, "documents")
    g = F.floor(F.col("doc_id") / 4).cast("string")
    url = (
        F.when(
            (F.col("doc_id") % 4).cast("int") == 0,
            F.concat(F.lit("https://www.example.com/a/"), g),
        )
        .when(
            (F.col("doc_id") % 4).cast("int") == 1,
            F.concat(F.lit("HTTPS://WWW.Example.COM:443/a/"), g),
        )
        .when(
            (F.col("doc_id") % 4).cast("int") == 2,
            F.concat(F.lit("https://www.example.com/a/"), g, F.lit("/")),
        )
        .otherwise(
            F.concat(
                F.lit("https://www.example.com/a/"),
                g,
                F.lit("?utm_source=feed&utm_campaign=x"),
            )
        )
    )
    u = docs.select("doc_id", "n_chars", url.alias("url"))
    host0 = F.lower(F.regexp_extract("url", r"^[a-zA-Z]+://([^/?#]+)", 1))
    path0 = F.regexp_extract("url", r"^[a-zA-Z]+://[^/?#]+([^?#]*)", 1)
    query0 = F.regexp_extract("url", r"\?([^#]*)", 1)
    host = F.regexp_replace(host0, r":(443|80)$", "")
    path = F.when(path0 != "/", F.regexp_replace(path0, r"/$", "")).otherwise(
        F.lit("")
    )
    query = F.regexp_replace(
        F.regexp_replace(query0, r"(^|&)utm_[^&]*", ""), r"^&", ""
    )
    canonical = F.concat(
        F.lit("https://"),
        host,
        path,
        F.when(query != "", F.concat(F.lit("?"), query)).otherwise(F.lit("")),
    )
    return (
        u.select("doc_id", "n_chars", canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_variants"),
            F.sum(F.col("n_chars").cast("bigint")).alias("chars_total"),
        )
    )


# Fixed-point grids for the Mahalanobis quadratic form (r11, the
# rows-only→hash upgrade): differences quantize at 2^-12, precision
# entries at 2^-20, so with the measured corpus bounds (|d| < 0.75,
# |P| < 128 — asserted at runtime) every product and partial sum of
# dqᵀ·Pq·dq stays below 2^62: EXACT int64 arithmetic in numpy, exact
# HUGEINT in DuckDB, one correctly-rounded int→double conversion at
# the end. Same replay recipe as llm_embedding_neardup's cosine grid.
_MAHA_D_SCALE = 4096.0  # 2^12
_MAHA_P_SCALE = 1048576.0  # 2^20
_MAHA_DIV = 17592186044416.0  # 2^(12+12+20)


def _maha_model_dir(sf_dir: str) -> str:
    """Scratch path of the persisted Mahalanobis model (quantized
    precision matrix + mean vector) for a corpus — the PQ-codebook
    convention: numpy-only math (matrix inversion) runs once at
    ingest and is PERSISTED, so a second engine can replay the
    scoring from the artifact without replaying the inversion."""
    import hashlib
    import os

    from opusdb_spark.sources.formats import scratch_path

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    base = os.path.basename(os.path.normpath(sf_dir))
    return scratch_path(f"maha_model_{base}_{tag}")


def _ensure_maha_model(spark, sf_dir: str) -> str:
    """Build-and-persist the Mahalanobis model: covariance from
    emb_covariance's hash-exact distributed plan, Tikhonov-regularized
    inverse (λ=1e-6·trace/dim), quantized to the 2^-20 grid, plus the
    decimal-fold mean vector as doubles. Fingerprint-guarded."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from opusdb_spark.sources.formats import ensure_written

    path = _maha_model_dir(sf_dir)

    def write_fn(out: str) -> None:
        import os

        rows = emb_covariance(spark, sf_dir).collect()
        dim = 64
        C = np.zeros((dim, dim))
        for r in rows:
            C[r["i"] - 1, r["j"] - 1] = r["cov"]
            C[r["j"] - 1, r["i"] - 1] = r["cov"]
        lam = 1e-6 * float(np.trace(C)) / dim
        P = np.linalg.inv(C + lam * np.eye(dim))
        assert np.abs(P).max() < 128.0, "precision exceeds the int64 grid bound"
        Pq = np.floor(P * _MAHA_P_SCALE + 0.5).astype(np.int64)
        emb = table(spark, sf_dir, "embeddings")
        mu_rows = (
            emb.select(F.posexplode("embedding").alias("i0", "x"))
            .groupBy("i0")
            .agg(
                (
                    F.sum(F.col("x").cast("double").cast("decimal(27,12)"))
                    / F.count(F.lit(1))
                ).cast("double").alias("m")
            )
            .collect()
        )
        mu = np.zeros(dim)
        for r in mu_rows:
            mu[r["i0"]] = r["m"]
        os.makedirs(out, exist_ok=True)
        ii, jj = np.meshgrid(range(1, dim + 1), range(1, dim + 1), indexing="ij")
        pq.write_table(
            pa.table(
                {
                    "i": ii.ravel().astype(np.int32),
                    "j": jj.ravel().astype(np.int32),
                    "pq": Pq.ravel(),
                }
            ),
            os.path.join(out, "precision.parquet"),
        )
        pq.write_table(
            pa.table(
                {"i": np.arange(1, dim + 1, dtype=np.int32), "mu": mu}
            ),
            os.path.join(out, "mu.parquet"),
        )

    import os

    from opusdb_spark.sources.formats import stat_fingerprint

    # stat-based (not path-only): a regenerated corpus under the same
    # path must retrain, not silently reuse a stale model — the same
    # convention as the classifier model artifact
    fingerprint = stat_fingerprint(
        os.path.join(sf_dir, "embeddings.parquet"),
        d_scale=_MAHA_D_SCALE,
        p_scale=_MAHA_P_SCALE,
        lam_rule="1e-6*trace/dim",
        version=1,
    )
    return ensure_written(path, fingerprint, write_fn)


def _maha_oracle() -> str:
    """DuckDB oracle for emb_outlier_mahalanobis (upgraded from
    rows-only in r11, the VERDICT r10 ask): reads the persisted model
    (quantized precision + mean — the inversion itself stays numpy,
    exactly like the PQ codebooks) and replays the quadratic form in
    exact integer arithmetic: dq = floor((x−μ)·2^12 + 0.5), s =
    Σ dq_i·pq_ij·dq_j summed as HUGEINT (the Spark kernel's int64
    matmul computes the same exact integer), then ONE int→double
    conversion, power-of-two scaling, IEEE sqrt and the shared ROUND
    kernel. Lazy (resolved at oracle access)."""
    import os

    mdir = _maha_model_dir(_oracle_sf_dir())
    return f"""
        WITH pmat AS (
            SELECT i, j, pq
            FROM read_parquet('{os.path.join(mdir, "precision.parquet")}')
        ),
        mu AS (
            SELECT i, mu
            FROM read_parquet('{os.path.join(mdir, "mu.parquet")}')
        ),
        dq AS (
            SELECT e.vec_id, e.label, m.i,
                   CAST(floor(
                       (CAST(e.embedding[m.i] AS DOUBLE) - m.mu)
                       * {_MAHA_D_SCALE!r} + 0.5
                   ) AS BIGINT) AS dq
            FROM embeddings e, mu m
        ),
        s AS (
            SELECT a.vec_id, ANY_VALUE(a.label) AS label,
                   SUM(a.dq * p.pq * b.dq) AS s
            FROM dq a
            JOIN pmat p ON p.i = a.i
            JOIN dq b ON b.vec_id = a.vec_id AND b.i = p.j
            GROUP BY a.vec_id
        )
        SELECT vec_id, label,
               ROUND(sqrt(CAST(GREATEST(s, 0) AS DOUBLE)
                          / {_MAHA_DIV!r}), 6) AS mahalanobis
        FROM s
        ORDER BY mahalanobis DESC, vec_id ASC
        LIMIT 20"""


@register(
    "emb_outlier_mahalanobis", oracle=_maha_oracle, tags=("llm", "embedding")
)
def emb_outlier_mahalanobis(spark, sf_dir):
    """Embedding outlier detection by Mahalanobis distance: the
    corpus covariance (model-sized, from emb_covariance's distributed
    plan) is inverted driver-side with Tikhonov regularization
    (λ=1e-6·trace/dim keeps near-singular directions finite), the
    QUANTIZED precision matrix is persisted as an ingest artifact and
    ships in an Arrow UDF closure, and every vector scores
    (x−μ)ᵀΣ⁻¹(x−μ) in one vectorized pass — the standard
    embedding-space anomaly score for encoder failures and
    out-of-domain junk. Top-20 by distance (TakeOrdered, id
    tie-break). Hash-oracled since r11: differences and precision
    entries snap to integer grids (2^-12 / 2^-20), the quadratic form
    is exact int64 matmuls, and DuckDB replays the scoring from the
    persisted model (_maha_oracle); the matrix INVERSION stays
    engine-specific, covered by the numpy pin in tests."""
    import numpy as np
    import pyarrow.parquet as paq

    mdir = _ensure_maha_model(spark, sf_dir)
    pt = paq.read_table(f"{mdir}/precision.parquet").to_pandas()
    dim = 64
    Pq = np.zeros((dim, dim), dtype=np.int64)
    Pq[pt["i"].to_numpy() - 1, pt["j"].to_numpy() - 1] = pt["pq"].to_numpy()
    mt = paq.read_table(f"{mdir}/mu.parquet").to_pandas()
    mu = np.zeros(dim)
    mu[mt["i"].to_numpy() - 1] = mt["mu"].to_numpy()
    emb = table(spark, sf_dir, "embeddings")
    maha = similarity.mahalanobis_fixedpoint_udf(
        mu, Pq, _MAHA_D_SCALE, _MAHA_DIV
    )
    return (
        emb.select("vec_id", "label", maha("embedding").alias("mahalanobis"))
        .orderBy(F.desc("mahalanobis"), F.asc("vec_id"))
        .limit(20)
    )


# ------------------------------------------- winnowing fingerprints
_WIN_K = 4   # gram size (tokens)
_WIN_W = 4   # winnowing window (grams)

_WINNOW_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    grams AS (
        SELECT doc_id, i AS pos,
               md5(array_to_string(t[i:i+{_WIN_K}-1], ' ')) AS h,
               len(t) - {_WIN_K} + 1 AS m
        FROM toks,
             UNNEST(range(1, greatest(len(t) - {_WIN_K} + 2, 1))) AS u(i)
    ),
    sel AS (
        SELECT doc_id, pos, m,
               min_by(h, h || '|' ||
                      lpad(CAST(99999999 - pos AS VARCHAR), 8, '0'))
                   OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN CURRENT ROW
                         AND {_WIN_W} - 1 FOLLOWING) AS selh
        FROM grams
    ),
    fp AS (
        SELECT DISTINCT doc_id, selh AS h
        FROM sel WHERE pos <= m - {_WIN_W} + 1
    ),
    freq AS (SELECT h, COUNT(*) AS df FROM fp GROUP BY h)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM fp a
    JOIN fp b ON a.h = b.h AND a.doc_id < b.doc_id
    JOIN freq ON freq.h = a.h
    WHERE freq.df <= 20
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= 2
"""


def _winnow_fps(spark, sf_dir):
    """Ingest-once winnow fingerprint store for this corpus (same
    contract as _minhash_sigs). The selection pass is referenced three
    times by the overlap query's plan (DF count, semi-join probe, both
    self-join sides) — without the store, Spark re-runs the gram
    hashing per reference (3 corpus passes; BENCH r7: 6.0 s → 2.1 s at
    sf1)."""
    import hashlib
    import os

    from opusdb_spark.sources.formats import scratch_path, stat_fingerprint

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    base = os.path.basename(os.path.normpath(sf_dir))
    return dedup.winnow_fingerprints_stored(
        spark,
        table(spark, sf_dir, "documents"),
        scratch_path(f"winnow_fps_{base}_{tag}"),
        stat_fingerprint(f"{sf_dir}/documents.parquet"),
        k=_WIN_K,
        w=_WIN_W,
    )


@register("llm_winnowing_overlap", oracle=_WINNOW_ORACLE, tags=("llm", "dedup"))
def llm_winnowing_overlap(spark, sf_dir):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003
    — the MOSS local fingerprinting algorithm): hash every K-token
    gram, slide a W-gram window, select each window's minimum hash
    (rightmost on ties — the ordval string encodes (hash, −pos) so one
    lexicographic min does both), and report doc pairs sharing ≥ 2
    selected fingerprints. Guarantee: any match of ≥ W+K−1 tokens
    yields a shared fingerprint, at ~2/(W+1) the density of full-gram
    fingerprinting. Fingerprints appearing in > 20 docs are dropped
    (stop-fingerprints) so the share join stays bounded — the same cap
    real plagiarism pipelines use. Shuffle profile: fingerprint
    selection is SHUFFLE-FREE (array-domain per doc, operators/dedup.py
    winnow_fingerprints), runs ONCE at ingest (_winnow_fps store), and
    emits 8-byte xxhash64 keys; per query, ONE pass over the store
    groups docs by fingerprint and emits each group's pairs in the
    array domain. The DF cap and the pair generation are the SAME
    groupBy(h) — a group's size IS its document frequency (the store
    is distinct per (doc_id, h)) — so the old shape's separate freq
    aggregate, its two semi-join probes, and the kept-side broadcast
    (which shipped the whole ≤20-df fingerprint stream to every task)
    collapse into one exchange; ≤20 docs per group bounds the exploded
    pair stream at C(20,2)=190 pairs/group exactly as it bounded the
    old join's fan-out (r13: 4 store scans + 2 agg exchanges + 2
    broadcasts → 1 scan + 2 exchanges)."""
    fp = _winnow_fps(spark, sf_dir)
    grp = (
        fp.groupBy("h")
        .agg(F.collect_list("doc_id").alias("ds"))
        .filter(F.size("ds").between(2, 20))
    )
    pairs = (
        grp.select(F.explode("ds").alias("doc_a"), "ds")
        .select("doc_a", F.explode("ds").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
    )
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )


def _corpus_report_oracle() -> str:
    """DuckDB oracle for llm_corpus_report (upgraded from rows-only in
    r9): the dataset card's branches compose the already-verified
    oracle formulations — base stats from documents, multi-member
    components from the recursive pair-graph closure (_cluster_oracle
    emits one row per component with n_docs), winnowing pairs and the
    low-entropy fraction from their queries' own oracle bodies."""
    return f"""
        SELECT 'n_docs' AS metric,
               CAST(COUNT(*) AS DOUBLE) AS value FROM documents
        UNION ALL
        SELECT 'n_langs', CAST(COUNT(DISTINCT lang) AS DOUBLE)
        FROM documents
        UNION ALL
        SELECT 'total_chars', CAST(SUM(n_chars) AS DOUBLE) FROM documents
        UNION ALL
        SELECT 'total_tokens',
               CAST(SUM(len(string_split(text, ' '))) AS DOUBLE)
        FROM documents
        UNION ALL
        SELECT 'exact_dup_docs',
               CAST(COUNT(*) - COUNT(DISTINCT text) AS DOUBLE)
        FROM documents
        UNION ALL
        SELECT 'neardup_multi_components', CAST(COUNT(*) AS DOUBLE)
        FROM ({_cluster_oracle()}) WHERE n_docs > 1
        UNION ALL
        SELECT 'winnow_overlap_pairs', CAST(COUNT(*) AS DOUBLE)
        FROM ({_WINNOW_ORACLE})
        UNION ALL
        SELECT 'low_entropy_frac',
               ROUND(SUM(CASE WHEN low_entropy THEN 1 ELSE 0 END)
                     / COUNT(*), 6)
        FROM ({_ENTROPY_ORACLE})
    """


@register(
    "llm_corpus_report",
    oracle=_corpus_report_oracle(),
    tags=("llm", "eval", "report"),
)
def llm_corpus_report(spark, sf_dir):
    """The dataset card in one query: corpus size, language spread,
    token volume, duplication (exact docs, MinHash near-dup clusters,
    winnowing overlap pairs), and quality (low-entropy fraction) as
    uniform (metric, value) rows — what a training-data pipeline
    publishes alongside every corpus snapshot. Every branch reuses a
    registered operator or its ingest artifact, so the report costs
    aggregate-sized work over already-verified plans. Hash-oracled
    since r9: every branch replays in DuckDB (base stats directly,
    components via the recursive closure, winnowing and entropy via
    their own oracle bodies — see _corpus_report_oracle)."""
    docs = table(spark, sf_dir, "documents")
    toks = F.size(F.split("text", " "))

    def metric(name, df):
        return df.select(
            F.lit(name).alias("metric"),
            F.col("value").cast("double").alias("value"),
        )

    base = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("lang").alias("n_langs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(toks).alias("total_tokens"),
        F.count_distinct(F.sha2("text", 256)).alias("n_unique_texts"),
    )
    rows = [
        metric("n_docs", base.select(F.col("n_docs").alias("value"))),
        metric("n_langs", base.select(F.col("n_langs").alias("value"))),
        metric(
            "total_chars", base.select(F.col("total_chars").alias("value"))
        ),
        metric(
            "total_tokens", base.select(F.col("total_tokens").alias("value"))
        ),
        metric(
            "exact_dup_docs",
            base.select(
                (F.col("n_docs") - F.col("n_unique_texts")).alias("value")
            ),
        ),
        metric(
            "neardup_multi_components",
            _minhash_components(spark, sf_dir)
            .groupBy("component")
            .count()
            .filter(F.col("count") > 1)
            .agg(F.count(F.lit(1)).alias("value")),
        ),
        metric(
            "winnow_overlap_pairs",
            llm_winnowing_overlap(spark, sf_dir).agg(
                F.count(F.lit(1)).alias("value")
            ),
        ),
        metric(
            "low_entropy_frac",
            llm_entropy_filter(spark, sf_dir).agg(
                F.round(
                    F.sum(F.when(F.col("low_entropy"), 1).otherwise(0))
                    / F.count(F.lit(1)),
                    6,
                ).alias("value")
            ),
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def _mmr_oracle(k: int = 10, pool_n: int = 1024) -> str:
    """DuckDB oracle for llm_mmr_select (upgraded from rows-only in
    r9; pool-restricted in r10): rel and the top-pool_n relevance
    pool compute set-wise, then the greedy selection unrolls into k
    CTE stages over the pool. Exactness is structural — the
    operator's corpus-side cosines are SEQUENTIAL left-fold double
    sums (F.aggregate with 0.0 init; 0.0 + x == x) and its in-pool
    rounds use the same Python left fold, both of which DuckDB's
    list_reduce replays bitwise (premise property-pinned in
    tests/test_properties.py), and max-similarity carry is exact MAX
    algebra — so pool membership (rel DESC, vec_id tie-break) and
    every per-round arg-max see identical doubles and pick identical
    vectors.

    Every stage CTE is AS MATERIALIZED (r11): s_{{r+1}} references s_r
    twice (directly and through p_r), so DuckDB's default CTE inlining
    re-evaluates the chain exponentially in k — measured 64 s at
    sf0.01 in the r11 driver-sim sweep; materialization makes each
    stage evaluate once (sub-second) with identical values (the
    premise test pins the fold either way)."""

    def dotf(a: str, b: str) -> str:
        return (
            f"list_reduce(list_transform(list_zip({a}, {b}), "
            f"s -> s[1] * s[2]), (acc, x) -> acc + x)"
        )

    def sqf(a: str) -> str:
        return (
            f"list_reduce(list_transform({a}, x -> x * x), "
            f"(acc, x) -> acc + x)"
        )

    parts = [
        f"""
        WITH pr AS (
            SELECT CAST(embedding AS DOUBLE[]) AS pv
            FROM embeddings WHERE vec_id = 0
        ),
        cbase AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id <> 0
        ),
        c0 AS (
            SELECT c.vec_id, c.v, {sqf('c.v')} AS nx,
                   {dotf('c.v', 'p.pv')} AS dot, {sqf('p.pv')} AS np
            FROM cbase c, pr p
        ),
        cand_all AS (
            SELECT vec_id, v, nx,
                   dot / SQRT(nx * np) AS rel, 0.0 AS ms
            FROM c0 WHERE nx > 0 AND np > 0
        ),
        s1 AS MATERIALIZED (
            SELECT * FROM cand_all ORDER BY rel DESC, vec_id LIMIT {pool_n}
        )"""
    ]
    for r in range(1, k + 1):
        # CAST the constants: DuckDB parses bare 0.7 as DECIMAL(2,1),
        # so (1.0 - 0.7) would fold to EXACT decimal 0.3 — a different
        # double than Python/Spark's 1.0 - 0.7 (0.30000000000000004)
        parts.append(
            f""",
        p{r} AS MATERIALIZED (
            SELECT vec_id, v, {sqf('v')} AS sn, score FROM (
                SELECT vec_id, v,
                       rel * CAST(0.7 AS DOUBLE)
                       - ms * (CAST(1.0 AS DOUBLE)
                               - CAST(0.7 AS DOUBLE)) AS score
                FROM s{r} ORDER BY score DESC, vec_id LIMIT 1
            )
        )"""
        )
        if r < k:
            sim = (
                f"CASE WHEN s.nx > 0 AND p.sn > 0 "
                f"THEN {dotf('s.v', 'p.v')} / SQRT(s.nx * p.sn) "
                f"ELSE 0.0 END"
            )
            parts.append(
                f""",
        s{r + 1} AS MATERIALIZED (
            SELECT s.vec_id, s.v, s.nx, s.rel,
                   GREATEST(s.ms, {sim}) AS ms
            FROM s{r} s, p{r} p WHERE s.vec_id <> p.vec_id
        )"""
            )
    finals = " UNION ALL ".join(
        f"SELECT {r} AS rank, vec_id, score AS mmr_score FROM p{r}"
        for r in range(1, k + 1)
    )
    parts.append(f"\n        {finals} ORDER BY rank")
    return "".join(parts)


@register(
    "llm_mmr_select", oracle=_mmr_oracle(), tags=("llm", "similarity")
)
def llm_mmr_select(spark, sf_dir):
    """Greedy Maximal Marginal Relevance: 10 results for probe vec 0
    balancing relevance against redundancy (lambda = 0.7) — the
    diversity-aware retrieval/selection pass (test_operators.py also
    verifies the picks against an independent numpy implementation).
    Pool-restricted since r10: ONE corpus pass computes relevance and
    TakeOrdered keeps the top-1024 pool; the 10 greedy rounds run
    over the model-sized pool (operators/similarity.py mmr_select) —
    no corpus scan or corpus-sized persist per round. The pool
    restriction is the standard MMR-at-scale approximation (per-round
    regret ≤ 1−lambda; see mmr_select's docstring); the oracle applies
    the identical restriction, so parity checks the restricted
    algorithm, and the divergence-vs-unrestricted-greedy regime is
    bounded by its own tests. Hash-oracled
    since r9: every cosine is a SEQUENTIAL left-fold double sum,
    which DuckDB's list_reduce replays bitwise (premise pinned in
    test_properties.py), so pool membership and the 10 greedy rounds
    unroll into CTE stages whose arg-maxes pick identical vectors and
    scores (see _mmr_oracle)."""
    emb = table(spark, sf_dir, "embeddings")
    return similarity.mmr_select(emb, probe_id=0, k=10, lam=0.7)


_HARDNEG_ORACLE = """
    WITH idx AS (SELECT UNNEST(range(1, 65)) AS i),
    flat AS (
        SELECT vec_id, label, i, CAST(embedding[i] AS DOUBLE) AS x
        FROM embeddings CROSS JOIN idx
    ),
    norms AS (
        SELECT vec_id,
               CAST(SUM(CAST(x * x AS DECIMAL(27,12))) AS DOUBLE) AS n2
        FROM flat GROUP BY vec_id
    ),
    probes AS (
        SELECT vec_id AS pid, label AS plabel, i, x AS p
        FROM flat WHERE vec_id < 10
    ),
    scored AS (
        SELECT p.pid, p.plabel, f.vec_id, f.label,
               CAST(SUM(CAST(f.x * p.p AS DECIMAL(27,12))) AS DOUBLE) AS dot
        FROM flat f JOIN probes p ON f.i = p.i AND f.vec_id <> p.pid
        WHERE f.label <> p.plabel
        GROUP BY p.pid, p.plabel, f.vec_id, f.label
    ),
    sims AS (
        SELECT s.pid, s.vec_id, s.label,
               s.dot / SQRT(na.n2 * nb.n2) AS cosine
        FROM scored s
        JOIN norms na ON na.vec_id = s.pid
        JOIN norms nb ON nb.vec_id = s.vec_id
        WHERE na.n2 > 0 AND nb.n2 > 0
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY pid ORDER BY cosine DESC, vec_id) AS rn
        FROM sims
    )
    SELECT pid AS probe_id, CAST(rn AS INT) AS rank,
           vec_id AS negative_id, label AS negative_label, cosine
    FROM ranked WHERE rn <= 3
    ORDER BY probe_id, rank
"""


@register("emb_hard_negatives", oracle=_HARDNEG_ORACLE, tags=("llm", "similarity"))
def emb_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive training: for each of 10
    probe vectors, the 3 most cosine-similar vectors with a DIFFERENT
    label — similar enough to be hard, labeled differently so they
    train the margin. One corpus pass (model-sized probe components
    broadcast, exact decimal dots, per-probe group-limit window —
    operators/similarity.py hard_negatives); the label filter applies
    before the top-k."""
    emb = table(spark, sf_dir, "embeddings")
    return similarity.hard_negatives(emb, probe_ids=list(range(10)), k=3)


# DuckDB oracle for emb_truncated_recall (upgraded from rows-only in
# r9): unlike the index-backed ANN paths this needs NO artifact at all
# — both the full-dim ground truth and every truncated ranking are the
# same decimal-fold cosine algebra over the embeddings table (exact
# decimal sums → identical doubles → identical rank order with the
# vec_id tie-break), so the whole evaluation replays bit-for-bit.
_TRUNC_RECALL_ORACLE = """
    WITH alldims AS (SELECT UNNEST([8, 16, 32, 64]) AS d),
    idx AS (SELECT UNNEST(range(1, 65)) AS i),
    flat AS (
        SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
        FROM embeddings CROSS JOIN idx
    ),
    pflat AS (
        SELECT vec_id AS probe_id, i, x AS p
        FROM flat WHERE vec_id IN (0, 1, 2, 3)
    ),
    scored AS (
        SELECT d.d AS dims, pf.probe_id, f.vec_id,
               CAST(SUM(CAST(f.x * pf.p AS DECIMAL(27,12))) AS DOUBLE)
                   AS dot,
               CAST(SUM(CAST(f.x * f.x AS DECIMAL(27,12))) AS DOUBLE)
                   AS nx,
               CAST(SUM(CAST(pf.p * pf.p AS DECIMAL(27,12))) AS DOUBLE)
                   AS np
        FROM flat f
        JOIN pflat pf USING (i)
        CROSS JOIN alldims d
        WHERE f.i <= d.d AND f.vec_id <> pf.probe_id
        GROUP BY 1, 2, 3
    ),
    ranked AS (
        SELECT dims, probe_id, vec_id,
               row_number() OVER (
                   PARTITION BY dims, probe_id
                   ORDER BY (dot / SQRT(nx * np)) DESC, vec_id
               ) AS rn
        FROM scored WHERE nx > 0 AND np > 0
    ),
    topk AS (
        SELECT dims, probe_id, vec_id FROM ranked WHERE rn <= 10
    ),
    full10 AS (SELECT probe_id, vec_id FROM topk WHERE dims = 64),
    trunc AS (SELECT dims, probe_id, vec_id FROM topk WHERE dims <> 64)
    SELECT f.probe_id, d.d AS dims,
           CAST(COUNT(*) AS BIGINT) AS k,
           CAST(SUM(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit,
           ROUND(SUM(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                 / COUNT(*), 4) AS recall
    FROM full10 f
    CROSS JOIN (SELECT UNNEST([8, 16, 32]) AS d) d
    LEFT JOIN trunc t
      ON t.probe_id = f.probe_id AND t.dims = d.d
         AND t.vec_id = f.vec_id
    GROUP BY 1, 2 ORDER BY 1, 2
"""


@register(
    "emb_truncated_recall",
    oracle=_TRUNC_RECALL_ORACLE,
    tags=("llm", "similarity", "qa"),
)
def emb_truncated_recall(spark, sf_dir):
    """Truncated-dimension retrieval evaluation (the Matryoshka
    question): how much recall@10 survives when only the first
    8/16/32 of the 64 embedding dims are used? Retrieval cost scales
    linearly with dims kept, so this is the measured accuracy side of
    the cheapest compression there is — column truncation, no
    re-training, no codebooks. Ground truth is full-dim exact top-10
    (similarity.cosine_topk_batch — decimal-exact, one corpus pass);
    each truncated run is the SAME batched pass over a slice()
    projection, so the whole evaluation is len(dims)+1 scans with
    model-sized probe broadcasts and no pairwise blow-up anywhere.
    Hash-oracled since r9: every ranking is decimal-fold algebra, so
    DuckDB replays the full evaluation bit-for-bit with no artifact
    (see _TRUNC_RECALL_ORACLE)."""
    probes = [0, 1, 2, 3]
    emb = table(spark, sf_dir, "embeddings")
    full = similarity.cosine_topk_batch(emb, probes, k=10).select(
        "probe_id", "vec_id"
    )
    out = None
    for d in (8, 16, 32):
        trunc = emb.select(
            "vec_id", F.slice("embedding", 1, d).alias("embedding")
        )
        t = similarity.cosine_topk_batch(trunc, probes, k=10).select(
            "probe_id",
            F.lit(d).alias("dims"),
            "vec_id",
            F.lit(1).alias("_hit"),
        )
        out = t if out is None else out.unionByName(t)
    dims = spark.createDataFrame([(8,), (16,), (32,)], "dims int")
    return (
        full.crossJoin(F.broadcast(dims))
        .join(out, ["probe_id", "dims", "vec_id"], "left")
        .groupBy("probe_id", "dims")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hit"),
        )
        .select(
            "probe_id",
            "dims",
            "k",
            "n_hit",
            F.round(F.col("n_hit") / F.col("k"), 4).alias("recall"),
        )
        .orderBy("probe_id", "dims")
    )


# ------------------------------------------------ stratified split
# Deterministic per-stratum held-out split — the training-data chore
# every corpus pipeline runs (fixed-size eval sets per language so
# low-resource strata aren't swamped). Selection is by the PORTABLE
# md5-bit hash (operators/text.py:word_hash48_sql), so the split is
# reproducible by any engine — an eval set that moves when the engine
# changes invalidates every comparison run against it — and exact-k
# per stratum (a fraction-based filter drifts with corpus growth).
def _split_hash_sql() -> str:
    return T.word_hash48_sql("CAST(doc_id AS STRING)", salt="split:")


_STRATIFIED_ORACLE = f"""
    WITH ranked AS (
        SELECT lang, doc_id,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY {_split_hash_sql()}, doc_id
               ) AS rk
        FROM documents
    )
    SELECT lang, doc_id, rk FROM ranked WHERE rk <= 20
    ORDER BY lang, rk
"""


@register(
    "llm_stratified_split",
    oracle=_STRATIFIED_ORACLE,
    tags=("llm", "sampling"),
)
def llm_stratified_split(spark, sf_dir):
    """Exact-k held-out split per language stratum (k=20): the k docs
    with the smallest portable hash per lang, rank included so the
    split can be shrunk downstream (rk ≤ 10 is a strict subset of
    rk ≤ 20 — nested eval sets for free).

    Scale shape: one lang-keyed window over (lang, doc_id, hash) — the
    hash is computed map-side and only the projected 3 columns shuffle;
    at 100 TB this is the standard top-k-per-group pattern (rank then
    filter pushes the limit into the sort via WindowGroupLimit, so no
    stratum ever materializes fully sorted).
    """
    docs = table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.expr(_split_hash_sql()), F.col("doc_id")
    )
    return (
        docs.select("lang", "doc_id", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 20)
        .orderBy("lang", "rk")
    )
