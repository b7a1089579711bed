"""Similarity search over embedding columns (array<float>).

One cosine scorer: `_cosine_of` is the only cosine expression and
`_cosine` feeds it array folds, with the fold as its one knob —
`_double_fold` for the approximate prefilter and MMR relevance,
`_dec_fold` for every exact score — and `_topk` is the only two-phase
top-k. Exact top-k (`cosine_topk`), the ANN probes
(operators/ann_index.py), MMR and SemDeDup all score through them, so
an exact score is the same double wherever it is computed and
hash-matches the SQL oracle bit-for-bit. The batched probes
(`cosine_topk_batch`, `hard_negatives`) are one batched top-k,
`_probe_topk`: the same algebra as grouped decimal sums over one
flatten (`_flat`), scored by `_cosine_of`.

Also here: the ANN models (the random-hyperplane LSH plane matrix and
its Arrow bucket kernel `lsh_signatures`, the IVF coarse quantizer
`ivf_centroids`/`_assign_udf`), which operators/ann_index.py persists
and probes, and the embedding-space operators: SemDeDup, k-means
inertia, Mahalanobis outliers, MMR and hard negatives. Every function
reads the embeddings table's columns `vec_id`, `embedding` and `label`.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ID, VEC, LABEL = "vec_id", "embedding", "label"
DEC12 = "decimal(27,12)"
# accumulator is (37,12), NOT (38,12): a (38,12)+(27,12) add hits the
# 38-precision cap and Spark sheds a scale digit (result (38,11)),
# silently rounding EVERY step at 1e-11; (37,12)+(27,12) yields (38,12)
# at full scale, and the cast back to (37,12) is an identity for any
# sum below 1e25
_DEC_ACC = "decimal(37,12)"
_POOL_MIN = 100  # two-phase top-k pool: max(_POOL_MIN, 10k) candidates


def _flat(df: DataFrame, *carry: str) -> DataFrame:
    """(id, *carry, i, x): one row per vector component, 1-based position.
    spread() first: the explode is a dim× per-row fan-out feeding
    compute-dense consumers, and the embeddings table is small on disk
    — a single-split scan would serialize everything downstream on one
    core (no-op at cluster scale — see skew.spread)."""
    from opusdb_spark.operators.skew import spread

    return spread(df).select(
        F.col(ID), *carry, F.posexplode(VEC).alias("pos", "xf")
    ).select(
        ID,
        *carry,
        (F.col("pos") + 1).alias("i"),
        F.col("xf").cast("double").alias("x"),
    )


def _dec_sum(c: Column) -> Column:
    """Order-independent grouped sum of per-row doubles at the
    oracle's 1e-12 quantization, as double."""
    return F.sum(c.cast(DEC12)).cast("double")


def _double_fold(products) -> Column:
    """Sequential left-fold double sum from 0.0 — the fold DuckDB's
    list_reduce replays bit-for-bit (premise pinned in
    tests/test_properties.py). Plain double adds, no BigDecimal, but
    only approximately equal to the exact decimal sum."""
    return F.aggregate(products, F.lit(0.0), lambda acc, v: acc + v)


def _dec_fold(products) -> Column:
    """Exact left-fold decimal sum of an array of doubles, as double.

    Decimal addition is associative and exact, so the fold equals the
    order-independent SUM(CAST(.. AS DECIMAL)) the SQL oracle computes
    — per-element cast first, identical rounding to the grouped-sum
    formulation."""
    return F.aggregate(
        products,
        F.lit("0").cast(_DEC_ACC),
        lambda acc, v: (acc + v.cast(DEC12)).cast(_DEC_ACC),
    ).cast("double")


def _dot(a, b, fold) -> Column:
    """Σ a·b of two array columns under `fold`. Components are cast to
    double INSIDE the lambda (HOF lambdas run interpreted, so a
    separate cast `transform` would be one more pass per element);
    float32 products are exact in double (24+24 < 53 mantissa bits),
    so `fold` alone decides exactness: `_dec_fold` is the oracle's
    exact sum, `_double_fold` the cheap approximation, |approx − exact|
    ≤ ~1e-10 at 64 dims."""
    return fold(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")))


def _norm2(arr, fold) -> Column:
    """Σ a² of an array column under `fold` (same casts as `_dot`)."""
    return fold(F.transform(arr, lambda a: a.cast("double") * a.cast("double")))


def _cosine_of(dot, nx, np_) -> Column:
    """The one cosine expression: dot / √(nx·np), NULL unless both
    norms are positive. Zero-norm vectors (failed encodes are often
    zero-filled in real embedding dumps) have no defined cosine: the
    conditional makes the division row-lazy (no ANSI 0/0 abort), and
    every caller drops the NULL — an unguarded 0/0 is NaN, which Spark
    sorts above every real double.

    Catalyst does not share `nx`/`np_` between the condition and the
    division, so a caller whose norms are higher-order folds evaluated
    on many rows projects them first (semdedup_drops)."""
    return F.when((nx > 0) & (np_ > 0), dot / F.sqrt(nx * np_))


def _cosine(vec, probe, probe_norm: Column, fold) -> Column:
    """Cosine of array column `vec` against array `probe`, whose Σ p²
    is `probe_norm`, with both sums under `fold`."""
    return _cosine_of(_dot(vec, probe, fold), _norm2(vec, fold), probe_norm)


def _literal_probe(probe_vec: list[float]) -> tuple[Column, Column]:
    """A driver-side probe vector as a literal array plus its exact
    Σ p², the norm being `_dec_fold`'s recurrence unrolled over the
    literal products — same operations in the same order, so the value
    equals `_norm2(p, _dec_fold)`, and Catalyst folds it to ONE
    constant (a higher-order function over a literal array is never
    constant-folded and would be re-evaluated on every candidate row).

    Both are SQL text: one parse instead of ~400 Column calls through
    py4j, which cost ~1 ms each on 4 vCPUs (measured 400 ms per probe
    built as Columns vs 0.7 ms as text). repr() round-trips a double exactly
    and Spark parses a `D` literal back to the same double."""
    norm = f"CAST('0' AS {_DEC_ACC})"
    for x in _double_literals(probe_vec):
        norm = f"CAST({norm} + CAST({x} * {x} AS {DEC12}) AS {_DEC_ACC})"
    return _literal_array(probe_vec), F.expr(f"CAST({norm} AS DOUBLE)")


def _double_literals(vec: list[float]) -> list[str]:
    """Each value of `vec` as an exact SQL double literal (`<repr>D`)."""
    return [f"{float(x)!r}D" for x in vec]


def _literal_array(vec: list[float]) -> Column:
    """A driver-side vector as one SQL-text array literal: one parse,
    not one py4j Column call per value."""
    return F.expr(f"array({', '.join(_double_literals(vec))})")


def _top_by(df: DataFrame, score: str, n: int) -> DataFrame:
    """The n rows with the highest non-NULL `score`, ties by lower id —
    TakeOrderedAndProject: partition-local heads, one tiny merge.

    NULLs are dropped AFTER the limit: `desc` sorts them last, so the
    rows kept are the same, and Catalyst never pushes a filter through
    a Limit. Filtered first, the filter is pushed below the projection
    that computes `score`, and every row evaluates the score twice."""
    return (
        df.orderBy(F.desc(score), F.asc(ID))
        .limit(n)
        .filter(F.col(score).isNotNull())
    )


def _topk(cands: DataFrame, probe, probe_norm: Column, k: int) -> DataFrame:
    """Exact cosine top-k of `cands` (id, vector and any columns that
    `probe`/`probe_norm` read) as (vec_id, cosine).

    Two phases: every candidate computes an APPROXIMATE cosine with
    double folds (no BigDecimal arithmetic), only the top
    max(_POOL_MIN, 10k) pool is re-scored with decimal folds, and the
    top-k orders on the exact value — so BigDecimal arithmetic runs on
    a pool-sized input, never the corpus or the probed cells. Measured
    sf0.1 A/B (2,000×64-dim): 3-fold decimal scan 1.11s → probe-norm
    hoist 0.80s → two-phase 0.61s, bit-identical results; at sf1 the
    IVF candidate set is ~1/4 of the corpus and its per-row decimal
    folds dominated the probe (commit 13e4f2e, OPTIMIZATION_r13.md).

    Why the pool is safe: |approx − exact| ≤ ~1e-10 for 64 dims (see
    _cosine), so a true top-k member can only be cut if ≥ pool−k
    candidates score within that margin of the kth cosine; the 10×
    overfetch makes that near-tie pile-up unreachable for real
    embeddings (exact duplicates rank identically in both phases and
    share the id tie-break)."""
    pool = _top_by(
        cands.withColumn("_ac", _cosine(VEC, probe, probe_norm, _double_fold)),
        "_ac",
        max(_POOL_MIN, 10 * k),
    )
    return _top_by(
        pool.select(ID, _cosine(VEC, probe, probe_norm, _dec_fold).alias("cosine")),
        "cosine",
        k,
    )


def cosine_topk(emb: DataFrame, probe_id: int, k: int = 10) -> DataFrame:
    """Exact cosine top-k neighbors of `probe_id` (excluded from results).

    Shuffle-free: the probe's single row, with its norm folded ONCE, is
    broadcast against the corpus and `_topk` scores every other row.
    Dot products and norms in the exact phase are decimal sums over
    per-component double products → deterministic under any
    partitioning, and equal to the DuckDB oracle's formulation."""
    probe = emb.filter(F.col(ID) == probe_id).select(F.col(VEC).alias("_pvec"))
    probe = probe.select("_pvec", _norm2("_pvec", _dec_fold).alias("_np"))
    cands = (
        emb.filter(F.col(ID) != probe_id)
        .select(ID, VEC)
        .crossJoin(F.broadcast(probe))
    )
    return _topk(cands, "_pvec", F.col("_np"), k)


# OR-amplified random-hyperplane LSH: L independent tables of b bits.
# Collision probability per table is (1 - θ/π)^b; over L tables the
# near neighbors almost surely collide somewhere while the scored
# candidate set stays a small fraction of the data.
N_TABLES = 8
BITS_PER_TABLE = 4  # small-corpus floor; builds scale bits with n


def adaptive_bits_per_table(n_vectors: int) -> int:
    """Bits per table scaled so the EXPECTED bucket holds ~125 vectors.

    With fixed bits, bucket population grows linearly with the corpus
    and every bucket-join (near-dup pairing, probe scoring) grows as
    Σ bucket² — the r7 bench corpus (20k vectors, 4 bits → 128 buckets
    total) produced 82M candidate pairs, 41% of ALL pairs, i.e. the
    index had stopped indexing. ceil(log2(n/125)) keeps Σ bucket²
    linear in n at any scale; the floor keeps the small test corpora
    (≤2k vectors) on the long-verified 4-bit layout."""
    import math

    return max(
        BITS_PER_TABLE, math.ceil(math.log2(max(n_vectors, 1) / 125))
    )


def lsh_plane_matrix(
    dim: int, bits_per_table: int = BITS_PER_TABLE
) -> "np.ndarray":
    """±1 hyperplane matrix (N_TABLES*bits_per_table × dim) from a
    fixed-seed RNG — the LSH model (same role as the IVF centroids:
    deterministic, model-sized, shareable between the distributed
    build and a driver-side probe).
    Row-major generation makes smaller-bit matrices a PREFIX of larger
    ones, so the default-bit matrix is unchanged by the adaptive-bit
    feature."""
    import numpy as np

    rng = np.random.RandomState(20240817)
    return (
        rng.randint(0, 2, (N_TABLES * bits_per_table, dim)) * 2 - 1
    ).astype(np.float64)


def lsh_buckets_np(
    X: "np.ndarray", bits_per_table: int = BITS_PER_TABLE
) -> "np.ndarray":
    """(n, dim) float matrix → (n, N_TABLES) int64 bucket ids via one
    matmul against the plane matrix — the vectorized signature kernel
    shared by the index build (Arrow batches) and driver-side probes.
    `bits_per_table` MUST match the index build's (stored in its
    _fingerprint.json) or probe buckets won't match stored ones.
    """
    import numpy as np

    W = lsh_plane_matrix(X.shape[1], bits_per_table)
    bits = (X @ W.T) > 0  # (n, N_TABLES*bits_per_table)
    out = np.zeros((X.shape[0], N_TABLES), dtype=np.int64)
    for t in range(N_TABLES):
        for b in range(bits_per_table):
            out[:, t] |= bits[:, t * bits_per_table + b].astype(np.int64) << b
    return out


def lsh_signatures(bits_per_table: int = BITS_PER_TABLE) -> Column:
    """pandas_udf over `embedding` → array<long> of N_TABLES bucket
    ids. One numpy matmul per Arrow batch (lsh_buckets_np) — the
    corpus-wide index build's signature kernel."""

    @F.pandas_udf("array<long>")
    def sig_udf(vecs: pd.Series) -> pd.Series:
        if not len(vecs):
            return pd.Series([], dtype=object)
        X = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        B = lsh_buckets_np(X, bits_per_table)
        return pd.Series(list(B))

    return sig_udf(VEC)


# ----------------------------------------------------------------- IVF
# Inverted-file ANN: a coarse k-means quantizer partitions vectors into
# cells; a probe scores only the vectors in its n_probe nearest cells.
# Centroids are driver-side model state (n_cells × dim floats — tiny,
# like any k-means model); vector assignment is a vectorized Arrow UDF
# map. ann_index writes the assigned table partitioned by cell, so
# a probe reads n_probe/n_cells of the data and the cell scan is a
# partition-pruned parquet read.

N_CELLS = 16
N_PROBE = 4


def _assign_udf(centroids: np.ndarray, n: int = 1):
    """Arrow UDF: per vector, the n nearest centroid ids by cosine
    (array<int>, nearest first). Centroids ship in the closure."""
    cn = centroids / (np.linalg.norm(centroids, axis=1, keepdims=True) + 1e-12)

    @F.pandas_udf("array<int>")
    def assign(vecs: pd.Series) -> pd.Series:
        if not len(vecs):  # np.stack([]) raises on empty Arrow batches
            return pd.Series([], dtype=object)
        v = np.stack([np.asarray(x, dtype=np.float64) for x in vecs])
        vn = v / (np.linalg.norm(v, axis=1, keepdims=True) + 1e-12)
        sims = vn @ cn.T
        order = np.argsort(-sims, axis=1)[:, :n].astype("int32")
        return pd.Series(list(order))

    return assign


def ivf_centroids(emb: DataFrame, n_cells: int = N_CELLS) -> np.ndarray:
    """Train the coarse quantizer: deterministic pseudo-random seed pick
    (hash-ordered, so the same corpus always yields the same model) plus
    one distributed Lloyd step (assign → per-cell mean via posexplode +
    avg — exact, partitioning-independent)."""
    from opusdb_spark.operators.skew import spread

    emb = spread(emb)  # dim× fan-out; see skew.spread
    seeds = (
        emb.select(ID, VEC)
        .orderBy(F.pmod(F.hash(F.col(ID)), F.lit(997)).asc(), F.col(ID).asc())
        .limit(n_cells)
        .collect()
    )
    cents = np.array([list(r[1]) for r in seeds], dtype=np.float64)
    assigned = emb.select(VEC, _assign_udf(cents, 1)(VEC)[0].alias("cell"))
    # decimal-summed mean: double partial-sum order varies with
    # partitioning, and the model must be identical however the input
    # was split (the determinism the cache in queries/llm.py relies on)
    means = (
        assigned.select("cell", F.posexplode(VEC).alias("dim", "xf"))
        .groupBy("cell", "dim")
        .agg(
            (
                F.sum(F.col("xf").cast("decimal(27,12)")) / F.count(F.lit(1))
            ).cast("double").alias("m")
        )
        .groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("dm"))
        .collect()
    )
    for r in means:
        cents[r["cell"]] = [d["m"] for d in r["dm"]]
    return cents


def _probe_topk(
    emb: DataFrame,
    probe_ids: list[int],
    k: int,
    carry: tuple[str, ...],
    pair: Column,
) -> DataFrame:
    """Exact cosine top-k for a MODEL-SIZED probe set in ONE corpus
    pass, as (probe_id, vec_id, *carry, cosine, rank): the flattened
    probe components (|probes| × dim rows, each `carry` column riding
    as `probe_<col>`) broadcast against the corpus, the (probe,
    candidate) pairs that pass `pair` aggregate their dot and Σx² in
    one grouped decimal sum (one shuffle), and a per-probe group-limit
    window takes each top-k by `_cosine_of`, ties by lower id. Same
    exact-decimal dot products as cosine_topk, so scores are
    order-independent."""
    from pyspark.sql import Window

    flat = _flat(emb, *carry)
    probe = flat.filter(F.col(ID).isin(list(probe_ids))).select(
        F.col(ID).alias("probe_id"),
        *[F.col(c).alias(f"probe_{c}") for c in carry],
        "i",
        F.col("x").alias("p"),
    )
    pnorm = probe.groupBy("probe_id").agg(
        _dec_sum(F.col("p") * F.col("p")).alias("np")
    )
    scored = (
        flat.join(F.broadcast(probe), "i")
        .filter(pair)
        .groupBy("probe_id", ID, *carry)
        .agg(
            _dec_sum(F.col("x") * F.col("p")).alias("dot"),
            _dec_sum(F.col("x") * F.col("x")).alias("nx"),
        )
        .join(F.broadcast(pnorm), "probe_id")
        .select(
            "probe_id",
            ID,
            *carry,
            _cosine_of(F.col("dot"), F.col("nx"), F.col("np")).alias("cosine"),
        )
        .filter(F.col("cosine").isNotNull())
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc(ID))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def cosine_topk_batch(
    emb: DataFrame, probe_ids: list[int], k: int = 10
) -> DataFrame:
    """Exact cosine top-k of each probe in `probe_ids` (the probe
    itself excluded) as (probe_id, vec_id, cosine), in one corpus pass
    (`_probe_topk`) — the ground truth an ANN recall evaluation
    compares against."""
    return _probe_topk(
        emb, probe_ids, k, (), F.col(ID) != F.col("probe_id")
    ).drop("rank")


def semdedup_drops(emb: DataFrame, tau: float) -> DataFrame:
    """SemDeDup-style semantic dedup: within each `label` cluster, a
    vector is DROPPED when a lower-id vector in the same cluster has
    cosine similarity > tau. Returns one row per dropped vector with
    its smallest qualifying duplicate and that pair's exact cosine —
    (label, vec_id, dup_of, cosine).

    Scale shape (the whole point of clustering first): candidate pairs
    are generated per cluster, so the pairwise cost is sum(|cluster|^2),
    never O(n^2) over the corpus — at 100 TB the quantizer (emb_kmeans /
    ivf_centroids) caps cluster sizes and the corpus shuffles ONCE on
    the cluster key. Candidate generation is an Arrow kernel
    (applyInPandas, one float64 X @ X.T per cluster batch — the same
    matmul path as ann_index; measured warm at sf0.1: 1.5s vs 11.5s
    for per-pair zip_with folds) with a tau − 1e-6 acceptance margin:
    numpy-vs-
    decimal summation error is ~1e-10 for 64 dims, so no true hit can
    fall below the margin. Candidates carry their two vectors out of
    the kernel, and only this hit-sized set pays the exact decimal
    rescore (`_cosine_of`) that makes the result hash-stable against the
    SQL oracle — no corpus re-join, no BigDecimal on the full pair set."""
    id_f = emb.schema[ID].dataType.simpleString()
    c_f = emb.schema[LABEL].dataType.simpleString()
    v_f = emb.schema[VEC].dataType.simpleString()
    out_schema = (
        f"{LABEL} {c_f}, {ID} {id_f}, dup_of {id_f}, _va {v_f}, _vb {v_f}"
    )
    # The carried-out vectors must round-trip the DECLARED element type:
    # a hard-coded float32 downcast under an array<double> schema would
    # silently lose the bits the exact decimal rescore depends on.
    vec_np_dtype = np.float32 if v_f == "array<float>" else np.float64
    margin = tau - 1e-6

    def cluster_pairs(key, pdf):
        ids = pdf[ID].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        X = np.stack(pdf[VEC].to_numpy()[order]).astype(np.float64)
        n = np.sqrt((X * X).sum(axis=1))
        ok = n > 0  # zero-norm vectors have no defined cosine
        ids, X, n = ids[ok], X[ok], n[ok]
        if len(ids) < 2:
            return pd.DataFrame(
                {LABEL: [], ID: [], "dup_of": [], "_va": [], "_vb": []}
            )
        S = (X @ X.T) / np.outer(n, n)
        ai, bi = np.nonzero(np.triu(S > margin, k=1))  # ids sorted: a < b
        return pd.DataFrame(
            {
                LABEL: np.full(len(ai), key[0]),
                ID: ids[bi],
                "dup_of": ids[ai],
                "_va": [X[i].astype(vec_np_dtype) for i in ai],
                "_vb": [X[i].astype(vec_np_dtype) for i in bi],
            }
        )

    cand = emb.select(LABEL, ID, VEC).groupBy(LABEL).applyInPandas(
        cluster_pairs, out_schema
    )
    sums = cand.select(
        LABEL,
        ID,
        "dup_of",
        _dot("_va", "_vb", _dec_fold).alias("_dot"),
        _norm2("_va", _dec_fold).alias("_na"),
        _norm2("_vb", _dec_fold).alias("_nb"),
    )
    cosine = _cosine_of(F.col("_dot"), F.col("_na"), F.col("_nb"))
    scored = sums.select(LABEL, ID, "dup_of", cosine.alias("cosine"))
    hit = F.when(F.col("cosine") > tau, F.struct("dup_of", "cosine"))
    return (
        # the tau test rides inside the aggregate: a filter on `cosine`
        # would be pushed below both projections and re-run every fold
        scored.groupBy(LABEL, ID)
        .agg(F.min(hit).alias("_best"))
        .filter(F.col("_best").isNotNull())
        .select(
            LABEL,
            ID,
            F.col("_best.dup_of").alias("dup_of"),
            F.col("_best.cosine").alias("cosine"),
        )
        .orderBy(LABEL, ID)
    )


def kmeans_seed_order_sql(id_sql: str) -> str:
    """ENGINE-PORTABLE seed ordering key for k-means initialization:
    the md5-bit word hash of the id (operators/text.py construction).
    Replaces the r1-era `F.hash` (Spark-private Murmur3) seeding so a
    second engine can derive the SAME k seeds — the change that made
    emb_kmeans hash-oracle-able in r10."""
    from opusdb_spark.operators.text import word_hash48_sql

    return word_hash48_sql(f"CAST({id_sql} AS STRING)", salt="km:")


def kmeans_inertia(
    emb: DataFrame, k: int = 8, iters: int = 5
) -> list[tuple[int, float, int]]:
    """Classic Lloyd k-means for `iters` iterations, returning the
    model-sized convergence trace [(iteration, inertia, n_moved_cells)].
    Per iteration ONE distributed pass: assignment is a whole-stage-
    codegen fold — per vector, k sequential left-fold Σ(a−b)² distances
    against centroid LITERALS, argmin via array_min over (sqd, cell)
    structs (ties → lowest cell) — then posexplode into a single
    groupBy(cell,dim) carrying BOTH the per-dim decimal mean and the
    per-cell decimal inertia share (riding the dim0 == 0 rows).
    Everything collected is O(k × dim) — the model — never data.
    Squared-Euclidean + mean update makes inertia provably
    non-increasing, which the tests pin.

    Replayable by construction (r10, previously rows-only): seeds
    order by the portable md5 hash (kmeans_seed_order_sql), distances
    are SEQUENTIAL left folds (DuckDB list_reduce replays them bitwise
    — premise pinned in tests/test_properties.py), means are exact
    decimal sums cast to double then divided as doubles, and the
    inertia total is an exact decimal sum converted once — so a second
    engine stepping the same recurrence reproduces every centroid,
    assignment, and trace row (see queries/llm.py _kmeans_oracle)."""
    import decimal

    from opusdb_spark.operators.skew import spread

    emb = spread(emb)  # dim× fan-out per iteration; see skew.spread
    seeds = (
        emb.select(ID, VEC)
        .orderBy(F.expr(kmeans_seed_order_sql(ID)).asc(), F.col(ID).asc())
        .limit(k)
        .collect()
    )
    cents = [[float(x) for x in r[1]] for r in seeds]
    trace: list[tuple[int, float, int]] = []
    for it in range(iters):
        d2s = [
            _double_fold(
                F.zip_with(
                    VEC,
                    _literal_array(c),
                    lambda a, b: (a.cast("double") - b)
                    * (a.cast("double") - b),
                )
            )
            for c in cents
        ]
        best = F.array_min(
            F.array(
                *[
                    F.struct(d2.alias("sqd"), F.lit(ci).alias("cell"))
                    for ci, d2 in enumerate(d2s)
                ]
            )
        )
        assigned = emb.select(
            VEC,
            best.getField("cell").alias("cell"),
            best.getField("sqd").alias("sqd"),
        )
        flat = assigned.select(
            "cell", "sqd", F.posexplode(VEC).alias("dim0", "x")
        )
        rows = (
            flat.groupBy("cell", "dim0")
            .agg(
                (
                    # float → DOUBLE → decimal: casting the float
                    # straight to decimal would round its SHORTEST
                    # string form, which a double-side replay cannot
                    # reproduce (same trap _flat guards against)
                    F.sum(F.col("x").cast("double").cast("decimal(27,12)"))
                    .cast("double")
                    / F.count(F.lit(1))
                ).alias("m"),
                F.sum(
                    F.when(F.col("dim0") == 0, F.col("sqd"))
                    .otherwise(0.0)
                    .cast("decimal(27,12)")
                ).alias("inertia_part"),
            )
            .collect()
        )
        # exact decimal total (order-independent), ONE conversion to
        # double — a Python float sum over collect() row order would
        # be nondeterministic in its last bits
        inertia = float(
            sum(
                (r["inertia_part"] for r in rows),
                decimal.Decimal(0),
            )
        )
        new_cents = [list(c) for c in cents]
        for r in rows:
            new_cents[r["cell"]][r["dim0"]] = float(r["m"])
        n_moved = sum(1 for c in range(k) if new_cents[c] != cents[c])
        trace.append((it, inertia, n_moved))
        cents = new_cents
    return trace


def mahalanobis_fixedpoint_udf(
    mu: "np.ndarray", pq: "np.ndarray", d_scale: float, divisor: float
):
    """Arrow UDF: vector → √((x−μ)ᵀ P (x−μ)) on fixed-point grids,
    rounded 6dp. The mean and QUANTIZED precision matrix (int64, the
    persisted model — see llm.py _ensure_maha_model) ship in the
    closure; scoring is two int64 matmuls per Arrow batch whose every
    product and partial sum is an exact integer — replayable
    bit-for-bit by a second engine (the float einsum this replaced
    was BLAS-order-dependent and could never hash-match). Bounds
    asserted: |d|·d_scale < 2^13 and |pq| < 2^27 keep the row sums
    under 2^62."""

    @F.pandas_udf("double")
    def maha(vecs: pd.Series) -> pd.Series:
        if not len(vecs):  # np.stack([]) raises on empty Arrow batches
            return pd.Series([], dtype=float)
        D = np.stack([np.asarray(v, dtype=np.float64) for v in vecs]) - mu
        assert np.abs(D).max() < 0.75, "difference exceeds the int64 grid bound"
        Dq = np.floor(D * d_scale + 0.5).astype(np.int64)
        Y = Dq @ pq  # exact: |entry| ≤ 64·2^13·2^27 < 2^46
        s = (Dq * Y).sum(axis=1)  # exact: ≤ 64·2^13·2^46 < 2^62
        v = np.sqrt(np.maximum(s, 0).astype(np.float64) / divisor)
        return pd.Series(np.floor(v * 1e6 + 0.5) / 1e6)  # ROUND kernel

    return maha


def mmr_select(
    emb: DataFrame,
    probe_id: int,
    k: int = 10,
    lam: float = 0.7,
    pool_n: int = 1024,
) -> DataFrame:
    """Greedy Maximal Marginal Relevance: iteratively pick the vector
    maximizing  lam * rel(v) − (1 − lam) * max_sim(v, selected),
    where rel is cosine to the probe — the diversity-aware selection
    used for dedup-aware retrieval and diverse few-shot/eval-set
    picking (Carbonell & Goldstein 1998).

    Scale shape (pool-restricted since r10): ONE corpus pass computes
    rel for every candidate (double left-folds, whole-stage codegen),
    then TakeOrderedAndProject keeps the top `pool_n` candidates by
    (rel DESC, id ASC) — partition-local heads, no global sort, no
    corpus materialization. The k greedy rounds then run over the
    pool only, which is model-sized by construction (pool_n × dim
    doubles ≈ 0.5 MB), so the iterative phase costs zero corpus scans
    and zero corpus-sized cache writes — the r9 shape (k corpus
    arg-max passes + k corpus-wide persist rewrites) priced at 75 s /
    ratio 7.8 in the 100× probe and could never persist a 100 TB
    corpus k times.

    The pool restriction is an APPROXIMATION (the standard MMR-at-
    scale trade, not a preserved-selection guarantee — ADVICE r10): an
    out-of-pool vector's score is lam·rel − (1−lam)·penalty with a
    clamped-non-negative penalty, so it is bounded by lam·rel_boundary
    and CAN exceed an in-pool candidate's score when every pool member
    carries a large diversity penalty (near-duplicate pools). The
    per-round objective regret is bounded by (1−lam)·max_pool_penalty
    ≤ (1−lam): the pool's boundary member scores at least
    lam·rel_boundary − (1−lam)·penalty, and no outsider can exceed
    lam·rel_boundary. Both regimes are pinned in tests/
    test_operators.py: pick-for-pick agreement with full-corpus numpy
    greedy on the sf corpus and on a seeded corpus > pool_n (with a
    per-round certificate check: picked_score ≥ lam·rel_boundary
    PROVES the round matches unrestricted greedy), and an adversarial
    near-duplicate corpus where divergence is demonstrated and its
    regret asserted within the bound.

    Exactness: rel is `_cosine` under `_double_fold`, and the in-pool
    rounds run driver-side with the same SEQUENTIAL left-fold double
    sums starting at 0.0 (`fold_dot`) — the fold DuckDB's list_reduce
    performs too (premise property-pinned in tests/test_properties.py),
    so the DuckDB oracle replays every cosine, every running max, and
    every arg-max tie-break (score DESC, id ASC, IEEE ==) bit-for-bit."""
    import math

    from opusdb_spark.operators.skew import spread

    def fold_dot(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += x * y
        return s

    emb = spread(emb)  # HOF cosine fan-out on a small-on-disk table
    probe = emb.filter(F.col(ID) == probe_id).select(F.col(VEC).alias("_pvec"))
    probe = probe.select("_pvec", _norm2("_pvec", _double_fold).alias("_np"))
    rel = _cosine(VEC, "_pvec", F.col("_np"), _double_fold)
    # TakeOrderedAndProject: partition-local top-pool_n heads, one
    # pool-sized driver result — the ONLY corpus-shaped work
    pool_rows = _top_by(
        emb.filter(F.col(ID) != probe_id)
        .crossJoin(F.broadcast(probe))
        .select(ID, VEC, rel.alias("_rel")),
        "_rel",
        pool_n,
    ).collect()
    # pool state: [id, vec(list[float]), nx, rel, maxsim]
    pool = []
    for r in pool_rows:
        v = [float(x) for x in r[VEC]]
        pool.append([r[ID], v, fold_dot(v, v), float(r["_rel"]), 0.0])
    picks = []
    for rank in range(min(k, len(pool_rows))):
        best = None
        best_score = None
        for c in pool:
            s = c[3] * lam - c[4] * (1.0 - lam)
            if (
                best is None
                or s > best_score
                or (s == best_score and c[0] < best[0])
            ):
                best, best_score = c, s
        if best is None:
            break
        picks.append((rank + 1, best[0], float(best_score)))
        sel_id, sel_vec, sn = best[0], best[1], best[2]
        pool = [c for c in pool if c[0] != sel_id]
        for c in pool:
            sdot = fold_dot(c[1], sel_vec)
            sim = (
                sdot / math.sqrt(c[2] * sn)
                if (c[2] > 0 and sn > 0)
                else 0.0
            )
            if sim > c[4]:
                c[4] = sim
    spark = emb.sparkSession
    return spark.createDataFrame(
        picks, f"rank int, {ID} long, mmr_score double"
    )


def hard_negatives(
    emb: DataFrame, probe_ids: list[int], k: int = 3
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each probe,
    the k most cosine-similar vectors with a DIFFERENT label — similar
    enough to be hard, labeled differently so they are negatives.

    One corpus pass (`_probe_topk`, as cosine_topk_batch); the label
    rides in the flatten projection (no corpus self-join), and the
    label filter applies BEFORE the top-k so negatives are never
    crowded out by same-label neighbors."""
    pair = (F.col(ID) != F.col("probe_id")) & (
        F.col(LABEL) != F.col(f"probe_{LABEL}")
    )
    return _probe_topk(emb, probe_ids, k, (LABEL,), pair).select(
        "probe_id",
        "rank",
        F.col(ID).alias("negative_id"),
        F.col(LABEL).alias("negative_label"),
        "cosine",
    ).orderBy("probe_id", "rank")
