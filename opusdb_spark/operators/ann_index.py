"""Persisted ANN index: build once, probe via partition-pruned reads.

Round-1 shape recomputed LSH bucket assignment / IVF cell assignment of
the WHOLE corpus on every probe — fine at test scale, not runnable at
100 TB. This module materializes the index the way a production vector
store does:

  <index_dir>/
    _fingerprint.json  build fingerprint (source stat + hyperparams) —
                       the build is skipped when it matches (idempotent)
    centroids.json     IVF coarse-quantizer model (n_cells × dim floats)
    by_id/             (id, vec) range-partitioned + sorted by id, so a
                       probe-vector fetch by id is a min/max-stat-pruned
                       parquet read, not a full scan
    lsh/               (id, vec) partitioned by (table_id, bucket) — one
                       copy per hash table (L× storage for zero-join
                       probes; a production variant stores PQ codes)
    ivf/               (id, vec) partitioned by cell (1× storage)

Probes collect only MODEL-SIZED data driver-side (the probe vector, its
L bucket ids, its n_probe cell ids — a handful of rows), then read the
index with LITERAL predicates on the partition columns: the scan plans
show `PartitionFilters`, i.e. static partition pruning — only the
probe's buckets/cells are listed and read (pinned in tests/test_plans.py).

Scoring IS operators/similarity.cosine_topk's: every probe scores
through `similarity._cosine` against a literal probe
(`similarity._literal_probe`), and `ivf_probe` ranks with the same
two-phase `similarity._topk`, so an exact score is the same double
here, in cosine_topk and in the SQL oracle.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opusdb_spark.operators.similarity import (
    BITS_PER_TABLE,
    ID,
    N_CELLS,
    N_PROBE,
    N_TABLES,
    VEC,
    _assign_udf,
    _cosine,
    _dec_fold,
    _literal_probe,
    _top_by,
    _topk,
    ivf_centroids,
    lsh_buckets_np,
    lsh_signatures,
)
from opusdb_spark.sources import formats

# Product quantization (Jégou, Douze, Schmid — TPAMI 2011): PQ_M
# subspaces × PQ_KS centroids each. With KS=16 every code is 4 bits, so
# all M=8 codes PACK INTO ONE BIGINT — the pq/ store is (id, cell,
# codes) at ~16 bytes/vector vs ~256 bytes for the raw 64-dim vector.
# That 16× is the 100 TB story: a billion-vector corpus's code store
# fits in cluster page cache, so the ADC candidate scan never touches
# the raw vectors; only the final rerank reads true vectors, and only
# for `rerank` ids through the stat-pruned by_id store.
PQ_M = 8
PQ_KS = 16
_PQ_SAMPLE = 2048  # codebook training sample (model-sized collect)
_PQ_LLOYD_ITERS = 8

def index_dir_for(sf_dir: str) -> str:
    """Stable per-corpus index location (full-path hash, not basename —
    two corpora sharing a basename must not share an index)."""
    return formats.corpus_scratch_path("ann_index", sf_dir)


def source_fingerprint(sf_dir: str) -> dict:
    """formats.stat_fingerprint of the embeddings table plus every
    hyperparameter of the index. bits_per_table scales with the corpus
    (similarity.adaptive_bits_per_table) so bucket population — and
    with it every Σ bucket² candidate join — stays bounded as the
    corpus grows; the built value rides in the marker for probe-side
    signature evaluation (index_bits)."""
    from opusdb_spark.operators.similarity import adaptive_bits_per_table

    src = formats.table_path(sf_dir, "embeddings")
    n = formats.num_rows(src)  # sizes the LSH bucket space
    return formats.stat_fingerprint(
        src,
        n_vectors=n,
        n_tables=N_TABLES,
        bits_per_table=adaptive_bits_per_table(n),
        n_cells=N_CELLS,
        # ALL the PQ knobs, not just the shape ones: codebooks trained
        # under a different sample size or Lloyd budget are different
        # models, and a stale marker would silently serve their codes
        pq_m=PQ_M,
        pq_ks=PQ_KS,
        pq_sample=_PQ_SAMPLE,
        pq_iters=_PQ_LLOYD_ITERS,
        layout=5,  # v5: adds the pq/ code store; bump forces rebuild
    )


def ensure_index(
    spark: SparkSession, emb: DataFrame, index_dir: str, fingerprint: dict
) -> str:
    """Build the index unless an identical build already exists.

    Ingest-once / query-many: the organizing shuffles (bucket
    assignment, cell assignment, range partitioning) are paid here,
    not per probe. formats.ensure_written stages the multi-store build
    and publishes it atomically, so a build that dies midway leaves the
    previous index serving.
    """
    return formats.ensure_written(
        index_dir,
        fingerprint,
        lambda p: _build_index(spark, emb, p, fingerprint),
    )


def _build_index(
    spark: SparkSession, emb: DataFrame, index_dir: str, fingerprint: dict
) -> None:
    """Write every index store under `index_dir` (ensure_written's
    staging dir, never the published index)."""
    base = emb.select(ID, VEC)

    # by_id: range-partitioned + sorted so id-equality probes prune via
    # row-group min/max stats (the parquet form of a PK lookup).
    (
        base.repartitionByRange(F.col(ID))
        .sortWithinPartitions(ID)
        .write.mode("overwrite")
        .parquet(os.path.join(index_dir, "by_id"))
    )

    # lsh: one row per (vector, hash table), partitioned by bucket.
    # Bucket ids come from the Arrow/numpy signature kernel (one matmul
    # per batch). Each row also carries the FULL signature array
    # (`sig_all`, N_TABLES small longs — noise next to the 128-double
    # vector): a bucket-local consumer can then decide
    # cross-table questions (e.g. "is this table the pair's FIRST
    # collision?") without joining back to sigs/, which is what lets
    # the near-dup sweep emit every candidate pair exactly once and
    # aggregate it map-side instead of shuffling a pair-count-sized
    # stream to dedupe (layout v4).
    bits = int(fingerprint.get("bits_per_table", BITS_PER_TABLE))
    lsh = base.withColumn("sig_all", lsh_signatures(bits)).select(
        ID,
        VEC,
        "sig_all",
        F.posexplode("sig_all").alias("table_id", "bucket"),
    )
    (
        # cluster by the partition key first: otherwise every write
        # task emits a file into every (table_id, bucket) directory —
        # L×2^b × n_tasks tiny files and the matching filesystem ops.
        lsh.repartition(F.col("table_id"), F.col("bucket"))
        .write.mode("overwrite")
        .partitionBy("table_id", "bucket")
        .parquet(os.path.join(index_dir, "lsh"))
    )

    # sigs: (id → table_id, bucket), range-partitioned + sorted by id.
    # An in-corpus probe's bucket list is then a stat-pruned lookup of
    # L tiny rows: exactly the buckets the batched build wrote, immune
    # to the GEMM-vs-GEMV ulp edge a re-hash can hit (_probe_buckets).
    # The llm_simsearch_lsh oracle joins this same store, so a second
    # engine replays the probe without the plane model. (Derived from
    # the already-written lsh/ table so the signatures are computed
    # exactly once.)
    (
        spark.read.parquet(os.path.join(index_dir, "lsh"))
        .select(ID, "table_id", "bucket")
        .repartitionByRange(F.col(ID))
        .sortWithinPartitions(ID)
        .write.mode("overwrite")
        .parquet(os.path.join(index_dir, "sigs"))
    )

    # ivf: train the coarse quantizer, persist the model, partition the
    # assignment by cell.
    cents = ivf_centroids(emb, N_CELLS)
    with open(os.path.join(index_dir, "centroids.json"), "w") as f:
        json.dump(cents.tolist(), f)
    assigned = base.select(ID, VEC, _assign_udf(cents, 1)(VEC)[0].alias("cell"))
    (
        # cluster by the partition key first — same tiny-files reasoning
        # as the lsh/ write above (n_cells × n_tasks files otherwise)
        assigned.repartition(F.col("cell"))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(os.path.join(index_dir, "ivf"))
    )

    # pq: residual product-quantizer codes, partitioned by cell like
    # ivf/ but WITHOUT the raw vector — the compressed scan path.
    # Codebooks train on a deterministic hash-ordered sample of
    # residuals (model-sized collect, the Faiss convention), then one
    # Arrow encode pass packs each vector's M 4-bit codes into a BIGINT.
    # (read the assignment back from the just-written ivf/ store: the
    # assign UDF already ran once for that write — never twice)
    ivf_store = spark.read.parquet(os.path.join(index_dir, "ivf")).select(
        ID, VEC, "cell"
    )
    sample = (
        ivf_store.orderBy(
            F.pmod(F.hash(F.col(ID)), F.lit(997)).asc(), F.col(ID).asc()
        )
        .limit(_PQ_SAMPLE)
        .collect()
    )
    res = np.array(
        [np.asarray(list(r[1]), dtype=np.float64) - cents[int(r[2])]
         for r in sample],
        dtype=np.float64,
    )
    codebooks = _pq_train(res)
    with open(os.path.join(index_dir, "pq_codebooks.json"), "w") as f:
        json.dump(codebooks.tolist(), f)
    (
        ivf_store.select(
            ID, "cell", _pq_encode_udf(cents, codebooks)(VEC, "cell").alias("codes")
        )
        .repartition(F.col("cell"))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(os.path.join(index_dir, "pq"))
    )


def load_centroids(index_dir: str) -> np.ndarray:
    with open(os.path.join(index_dir, "centroids.json")) as f:
        return np.array(json.load(f), dtype=np.float64)


def fetch_vector(spark: SparkSession, index_dir: str, probe_id: int) -> list[float]:
    """Probe-vector fetch by id from the sorted store — a stat-pruned
    single-row read (the only per-probe driver collect, and it is one
    row; a serving deployment would have the query vector in hand)."""
    row = (
        formats.read_store(spark, os.path.join(index_dir, "by_id"))
        .filter(F.col(ID) == probe_id)
        .first()
    )
    if row is None:
        raise KeyError(f"probe id {probe_id} not in index {index_dir}")
    return [float(x) for x in row[1]]


def _nearest_cells(index_dir: str, probe_vec: list[float], n_probe: int):
    """(centroids, probe as float64, the probe's n_probe nearest cells
    by cosine against the centroid model) — driver-side, model-sized."""
    cents = load_centroids(index_dir)
    cn = cents / (np.linalg.norm(cents, axis=1, keepdims=True) + 1e-12)
    v = np.asarray(probe_vec, dtype=np.float64)
    vn = v / (np.linalg.norm(v) + 1e-12)
    return cents, v, [int(c) for c in np.argsort(-(cn @ vn))[:n_probe]]


def index_bits(index_dir: str | None) -> int:
    """The bits_per_table an index was BUILT with (from its marker) —
    probes must hash with the same plane count or buckets won't match.

    A corrupt/missing marker NEXT TO an intact lsh/ store RAISES
    instead of defaulting: hashing an 8-bit store with the 4-bit
    default would probe effectively random buckets and return silently
    wrong (or empty) neighbors — an error the caller can see beats a
    recall collapse nobody can."""
    if index_dir:
        try:
            with open(os.path.join(index_dir, "_fingerprint.json")) as f:
                return int(
                    json.load(f).get("bits_per_table", BITS_PER_TABLE)
                )
        except (OSError, json.JSONDecodeError, ValueError) as e:
            if formats.list_store_files(os.path.join(index_dir, "lsh")):
                raise RuntimeError(
                    f"ANN index at {index_dir} has data but an "
                    f"unreadable _fingerprint.json ({e!r}); rebuild the "
                    "index rather than probing with default plane "
                    "count"
                ) from e
    return BITS_PER_TABLE


def _probe_buckets(
    spark: SparkSession,
    probe_vec: list[float],
    index_dir: str | None = None,
) -> list[tuple[int, int]]:
    """The probe's L (table_id, bucket) pairs from the SAME numpy plane
    model the build used — pure driver-side arithmetic on one vector
    (no Spark job at all for an out-of-corpus probe).

    Known edge (accepted): the build hashes in batched GEMM while this
    path evaluates one GEMV; BLAS summation order can differ, so a
    projection within ~1 ulp of zero could flip a sign bit vs the
    stored bucket. In-corpus probes are immune (stored_buckets reads
    the persisted sigs/), and for out-of-corpus probes the L-table OR
    amplification means one flipped table costs a fraction of recall,
    not correctness — the same degradation any float boundary in LSH
    carries."""
    B = lsh_buckets_np(
        np.asarray([probe_vec], dtype=np.float64), index_bits(index_dir)
    )[0]
    return [(t, int(B[t])) for t in range(N_TABLES)]


def stored_buckets(
    spark: SparkSession, index_dir: str, probe_id: int
) -> list[tuple[int, int]]:
    """The probe's L (table_id, bucket) pairs from the persisted sigs/
    store — a stat-pruned read of L rows. The production lookup path
    for in-corpus probes; out-of-corpus vectors fall back to
    _probe_buckets (one signature evaluation)."""
    rows = (
        formats.read_store(spark, os.path.join(index_dir, "sigs"))
        .filter(F.col(ID) == probe_id)
        .collect()
    )
    if not rows:
        raise KeyError(f"probe id {probe_id} not in index {index_dir}")
    return [(int(r["table_id"]), int(r["bucket"])) for r in rows]


def lsh_probe(
    spark: SparkSession,
    index_dir: str,
    probe_vec: list[float],
    k: int = 10,
    exclude_id: int | None = None,
    probe_id: int | None = None,
) -> DataFrame:
    """ANN top-k from the persisted LSH index: literal (table_id, bucket)
    predicates → the scan lists only the probe's L bucket directories
    (PartitionFilters; everything else is never read). Pass `probe_id`
    for an in-corpus probe to read its buckets from the sigs/ store —
    the buckets the build wrote, which a driver-side re-hash matches
    only up to the ulp edge _probe_buckets notes."""
    if probe_id is not None:
        buckets = stored_buckets(spark, index_dir, probe_id)
    else:
        buckets = _probe_buckets(spark, probe_vec, index_dir)
    cond = None
    for t, b in buckets:
        c = (F.col("table_id") == t) & (F.col("bucket") == b)
        cond = c if cond is None else (cond | c)
    cands = (
        formats.read_store(spark, os.path.join(index_dir, "lsh"))
        .filter(cond)
        .select(ID, VEC)
        .dropDuplicates([ID])
    )
    if exclude_id is not None:
        cands = cands.filter(F.col(ID) != exclude_id)
    cosine = _cosine(VEC, *_literal_probe(probe_vec), _dec_fold)
    return _top_by(cands.select(ID, cosine.alias("cosine")), "cosine", k)


def ivf_probe(
    spark: SparkSession,
    index_dir: str,
    probe_vec: list[float],
    k: int = 10,
    n_probe: int = N_PROBE,
    exclude_id: int | None = None,
) -> DataFrame:
    """ANN top-k from the persisted IVF index: the probe's n_probe
    nearest cells are computed driver-side against the tiny centroid
    model, then read as literal cell predicates (PartitionFilters).
    Candidates rank through cosine_topk's two-phase `_topk` (approx
    double prefilter, exact decimal rescore of the pool): the probed
    cells are a corpus-fraction-sized set, so they must not pay per-row
    BigDecimal folds."""
    _, _, cells = _nearest_cells(index_dir, probe_vec, n_probe)
    cands = (
        formats.read_store(spark, os.path.join(index_dir, "ivf"))
        .filter(F.col("cell").isin(cells))
        .select(ID, VEC)
    )
    if exclude_id is not None:
        cands = cands.filter(F.col(ID) != exclude_id)
    return _topk(cands, *_literal_probe(probe_vec), k)


# ----------------------------------------------------------- IVF-PQ
def _pq_train(residuals: np.ndarray) -> np.ndarray:
    """Per-subspace k-means codebooks over sampled residuals →
    (PQ_M, PQ_KS, dim/PQ_M). Deterministic: seeds are the first PQ_KS
    sample rows (the sample itself is hash-ordered), Lloyd runs a fixed
    iteration count, argmin ties take the lowest index, and an emptied
    cluster keeps its previous centroid. Pure float64 numpy on a
    model-sized sample — the driver does O(sample × KS) work once per
    build, never per probe."""
    if residuals.size == 0:
        raise ValueError(
            "PQ training sample is empty — the embeddings source has "
            "no rows; build the index against a non-empty corpus"
        )
    n, dim = residuals.shape
    if dim % PQ_M:
        raise ValueError(
            f"PQ requires dim % {PQ_M} == 0, got dim={dim}; "
            "adjust PQ_M for this corpus"
        )
    d = dim // PQ_M
    books = np.empty((PQ_M, PQ_KS, d), dtype=np.float64)
    for m in range(PQ_M):
        sub = residuals[:, m * d : (m + 1) * d]
        # seed with the first KS rows; tile if the sample is tiny
        idx = np.arange(PQ_KS) % max(n, 1)
        cents = sub[idx].copy()
        for _ in range(_PQ_LLOYD_ITERS):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for j in range(PQ_KS):
                mask = assign == j
                if mask.any():
                    cents[j] = sub[mask].mean(axis=0)
        books[m] = cents
    return books


def _pq_encode_udf(centroids: np.ndarray, codebooks: np.ndarray):
    """Arrow UDF (vec, cell) → BIGINT of PQ_M packed 4-bit codes for the
    vector's residual against its cell centroid. One batched numpy pass;
    models ship in the closure (KB-sized)."""
    cents = np.asarray(centroids, dtype=np.float64)
    books = np.asarray(codebooks, dtype=np.float64)
    d = books.shape[2]

    @F.pandas_udf("long")
    def encode(vecs: pd.Series, cells: pd.Series) -> pd.Series:
        if not len(vecs):  # np.stack of an empty sequence raises
            return pd.Series([], dtype="int64")
        V = np.stack([np.asarray(x, dtype=np.float64) for x in vecs])
        R = V - cents[cells.to_numpy(dtype=np.int64)]
        packed = np.zeros(len(V), dtype=np.int64)
        for m in range(PQ_M):
            sub = R[:, m * d : (m + 1) * d]
            d2 = ((sub[:, None, :] - books[m][None, :, :]) ** 2).sum(axis=2)
            codes = np.argmin(d2, axis=1).astype(np.int64)  # ties → lowest
            packed |= codes << (4 * m)
        return pd.Series(packed)

    return encode


def load_codebooks(index_dir: str) -> np.ndarray:
    with open(os.path.join(index_dir, "pq_codebooks.json")) as f:
        return np.array(json.load(f), dtype=np.float64)


def _adc_expr(lut: np.ndarray):
    """Asymmetric-distance expression for ONE cell's lookup table
    (PQ_M × PQ_KS floats): each 4-bit code indexes its subspace's
    literal array — shiftright/AND/element_at, all whole-stage codegen,
    no UDF in the scan path."""
    terms = None
    for m in range(PQ_M):
        lut_m = F.array(*[F.lit(float(v)) for v in lut[m]])
        code_m = (
            F.shiftright(F.col("codes"), 4 * m).bitwiseAND(F.lit(15))
        ).cast("int")
        t = F.element_at(lut_m, code_m + F.lit(1))
        terms = t if terms is None else terms + t
    return terms


def ivfpq_probe(
    spark: SparkSession,
    index_dir: str,
    probe_vec: list[float],
    k: int = 10,
    n_probe: int = N_PROBE,
    rerank: int = 50,
    exclude_id: int | None = None,
) -> DataFrame:
    """ANN top-k over the COMPRESSED code store: the probe's n_probe
    cells are partition-pruned (same as ivf_probe), but the candidate
    scan reads 16-byte code rows instead of 256-byte vectors and ranks
    them by ADC — per-cell residual lookup tables built driver-side
    against the tiny codebook model, applied as pure codegen bit-ops.
    The top-`rerank` candidate ids (a model-sized TakeOrdered +
    collect — the production point-lookup set) are then rescored
    EXACTLY against the stat-pruned by_id store, so PQ's quantization
    error costs recall only if a true neighbor falls outside the
    rerank pool, never final-score accuracy."""
    cents, v, cells = _nearest_cells(index_dir, probe_vec, n_probe)
    books = load_codebooks(index_dir)
    d = books.shape[2]

    pq = formats.read_store(spark, os.path.join(index_dir, "pq")).filter(
        F.col("cell").isin(cells)
    )
    if exclude_id is not None:
        pq = pq.filter(F.col(ID) != exclude_id)
    adc = None
    for c in cells:
        r = v - cents[c]
        lut = np.array(
            [
                ((r[m * d : (m + 1) * d][None, :] - books[m]) ** 2).sum(axis=1)
                for m in range(PQ_M)
            ]
        )
        expr = _adc_expr(lut)
        adc = (
            F.when(F.col("cell") == c, expr)
            if adc is None
            else adc.when(F.col("cell") == c, expr)
        )
    cand = (
        pq.select(ID, adc.alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc(ID))
        .limit(rerank)
    )
    pool = {int(r[0]): float(r[1]) for r in cand.collect()}
    if not pool:
        # no candidates in the probed cells (empty index slice):
        # return an empty k-shaped frame instead of building a
        # zero-arg create_map / empty isin, which fail at analysis
        return (
            formats.read_store(spark, os.path.join(index_dir, "by_id"))
            .select(
                ID,
                F.lit(None).cast("double").alias("cosine"),
                F.lit(None).cast("double").alias("adc_dist"),
            )
            .limit(0)
        )
    lut_adc = F.create_map(*[F.lit(x) for kv in pool.items() for x in kv])
    exact = (
        formats.read_store(spark, os.path.join(index_dir, "by_id"))
        .filter(F.col(ID).isin(list(pool)))
        .select(
            ID,
            _cosine(VEC, *_literal_probe(probe_vec), _dec_fold).alias("cosine"),
            F.round(lut_adc[F.col(ID)], 6).alias("adc_dist"),
        )
    )
    return _top_by(exact, "cosine", k)
