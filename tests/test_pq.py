"""IVF-PQ contract pins (operators/ann_index.py PQ store + probe).

The compressed path's promises: (1) exact rerank means quantization
can only cost recall, never score accuracy — so with every cell probed
and a corpus-sized rerank pool it must EQUAL brute force bit-for-bit;
(2) the packed BIGINT codes round-trip the numpy encoder; (3) recall
is non-decreasing in rerank depth; (4) both probe-side scans stay
pruned (cell partitions; id stats on the rerank fetch)."""

from __future__ import annotations

import os

import numpy as np
import pyspark.sql.functions as F

from opusdb_spark.operators import ann_index, similarity
from opusdb_spark.sources.formats import read_store
from opusdb_spark.tables import table
from tests.conftest import SF_SMALL


def _index(spark):
    return ann_index.ensure_index(
        spark,
        table(spark, SF_SMALL, "embeddings"),
        ann_index.index_dir_for(SF_SMALL),
        ann_index.source_fingerprint(SF_SMALL),
    )


def test_ivfpq_full_probe_full_rerank_equals_brute_force(spark):
    idx = _index(spark)
    n = table(spark, SF_SMALL, "embeddings").count()
    vec = ann_index.fetch_vector(spark, idx, 0)
    pq = ann_index.ivfpq_probe(
        spark,
        idx,
        vec,
        k=10,
        n_probe=similarity.N_CELLS,
        rerank=n,
        exclude_id=0,
    ).select("vec_id", "cosine")
    exact = similarity.cosine_topk(
        table(spark, SF_SMALL, "embeddings"), probe_id=0, k=10
    ).select("vec_id", "cosine")
    assert [tuple(r) for r in pq.collect()] == [
        tuple(r) for r in exact.collect()
    ]


def test_pq_codes_match_numpy_reference(spark):
    """Unpack a handful of stored codes and re-derive them from the
    persisted codebooks + centroids: argmin over residual subspace
    distances, ties to the lowest index."""
    idx = _index(spark)
    cents = ann_index.load_centroids(idx)
    books = ann_index.load_codebooks(idx)
    d = books.shape[2]
    rows = (
        read_store(spark, os.path.join(idx, "pq"))
        .filter(F.col("vec_id") < 5)
        .join(
            read_store(spark, os.path.join(idx, "by_id")).filter(
                F.col("vec_id") < 5
            ),
            "vec_id",
        )
        .collect()
    )
    assert rows
    for r in rows:
        v = np.asarray(list(r["embedding"]), dtype=np.float64)
        res = v - cents[int(r["cell"])]
        expect = 0
        for m in range(ann_index.PQ_M):
            sub = res[m * d : (m + 1) * d]
            d2 = ((books[m] - sub[None, :]) ** 2).sum(axis=1)
            expect |= int(np.argmin(d2)) << (4 * m)
        assert int(r["codes"]) == expect


def test_pq_recall_monotone_in_rerank(spark):
    from opusdb_spark.queries.llm import (
        llm_pq_compression,
        llm_pq_recall_eval,
    )

    rows = llm_pq_recall_eval(spark, SF_SMALL).collect()
    assert len(rows) == 8  # 4 probes x 2 rerank depths
    by_probe: dict[int, dict[int, float]] = {}
    for r in rows:
        by_probe.setdefault(r["probe_id"], {})[r["rerank"]] = r["recall"]
    # the physical compression readout lives in its own rows-only key
    # since r10 (the recall table is hash-oracled)
    comp = llm_pq_compression(spark, SF_SMALL).collect()[0]
    assert comp["compression"] > 1.0
    for probe_id, recalls in by_probe.items():
        lo, hi = sorted(recalls)
        assert recalls[hi] >= recalls[lo], (
            f"probe {probe_id}: recall fell as rerank grew ({recalls})"
        )


def test_ivfpq_scans_stay_pruned(spark):
    """The candidate scan must be cell-partition-pruned and the rerank
    fetch must push its id set into the by_id scan (the two reads the
    probe makes — neither may touch the whole store)."""
    import re

    idx = _index(spark)
    p = (
        read_store(spark, os.path.join(idx, "pq"))
        .filter(F.col("cell").isin([0, 1]))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", p.replace("\n", " "))
    assert m and "cell" in m.group(1), "pq candidate scan not pruned"
    p2 = (
        read_store(spark, os.path.join(idx, "by_id"))
        .filter(F.col("vec_id").isin([1, 2, 3]))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters:" in p2 and "In(vec_id" in p2.replace("\n", " "), (
        "rerank fetch does not push the id set into the scan"
    )


def test_pq_compression_readout_stays_in_band(spark):
    """llm_pq_compression is rows-only (a physical file-size readout no
    second engine can recompute), so a packing regression would
    otherwise surface only as a silently changed number (VERDICT r10
    ask #6). Pin the physical envelope: the pq/ store packs all
    PQ_M 4-bit codes into ONE BIGINT per vector, so its per-vector
    footprint must stay within parquet-overhead distance of 16 logical
    bytes (vec_id + code), and far under the raw store's ~260 B/vector
    (64×float32 + id). Bounds are generous against footer noise but
    fail loudly if codes unpack to per-subquantizer columns or the
    raw store changes element type."""
    from opusdb_spark.registry import registry

    row = (
        registry()["llm_pq_compression"].fn(spark, SF_SMALL).collect()[0]
    )
    n_vecs = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").count()
    raw_pv = row["raw_bytes"] / n_vecs
    pq_pv = row["pq_bytes"] / n_vecs
    assert 200 <= raw_pv <= 420, f"raw store {raw_pv:.0f} B/vector"
    assert 16 <= pq_pv <= 64, f"pq store {pq_pv:.0f} B/vector"
    assert 4.0 <= row["compression"] <= 16.0, row["compression"]
    assert row["compression"] == round(
        row["raw_bytes"] / max(row["pq_bytes"], 1), 2
    )
