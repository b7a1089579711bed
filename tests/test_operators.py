"""Unit tests for the custom operators, modeled on the reference's test
strategy (SURVEY §5): semantics pinned with small hand-built fixtures,
invariants checked exactly, determinism under re-partitioning replacing
the reference's thread-stress suites.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from opusdb_spark.operators.asof import asof_join
from opusdb_spark.operators import dedup, similarity
from opusdb_spark.operators import text as T
from opusdb_spark.operators import multimodal
from opusdb_spark.registry import registry
from tests.parity import spark_to_pandas, _normalize, _sort_rows

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------- as-of


def _asof_fixture(spark):
    """Versioned-cell fixture (FIXTURES.md B1): refs with history."""
    versions = spark.createDataFrame(
        [  # (ref_id, write_point, value)
            (1, 10, 100.0),
            (1, 20, 200.0),
            (1, 30, 300.0),
            (2, 15, 150.0),
        ],
        "ref_id long, write_point long, value double",
    )
    probes = spark.createDataFrame(
        [  # (ref_id, read_point)
            (1, 5),  # before any version → null (GC'd/absent case)
            (1, 10),  # exactly at a version → inclusive match
            (1, 25),  # between versions → newest ≤
            (1, 99),  # after all → latest
            (2, 14),  # before ref 2's only version → null
            (3, 50),  # unknown ref → null
        ],
        "ref_id long, read_point long",
    )
    return versions, probes


def test_asof_semantics_match_find_version(spark):
    """Pin the reference's find-version rules (stm.clj:55-65): newest
    version ≤ read-point; nil when none qualifies."""
    versions, probes = _asof_fixture(spark)
    out = asof_join(
        probes,
        versions,
        on="ref_id",
        left_time="read_point",
        right_time="write_point",
        right_values=["value"],
    )
    got = {
        (r.ref_id, r.read_point): (r.asof_time, r.value) for r in out.collect()
    }
    assert got[(1, 5)] == (None, None)
    assert got[(1, 10)] == (10, 100.0)  # inclusive ≤
    assert got[(1, 25)] == (20, 200.0)
    assert got[(1, 99)] == (30, 300.0)
    assert got[(2, 14)] == (None, None)
    assert got[(3, 50)] == (None, None)
    assert out.count() == probes.count(), "as-of join must be 1:1 on probes"


def test_asof_tolerance(spark):
    """Bounded lookback = the MVCC history cap re-expressed as a time
    tolerance: matches older than the bound resolve to null."""
    versions, probes = _asof_fixture(spark)
    out = asof_join(
        probes,
        versions,
        on="ref_id",
        left_time="read_point",
        right_time="write_point",
        right_values=["value"],
        tolerance=F.lit(5),
    )
    got = {(r.ref_id, r.read_point): r.value for r in out.collect()}
    assert got[(1, 10)] == 100.0  # age 0 ≤ 5
    assert got[(1, 25)] == 200.0  # age 5 ≤ 5 (inclusive)
    assert got[(1, 99)] is None  # age 69 > 5 → dropped


def test_asof_forward_and_nearest_directions(spark):
    """Forward = smallest write_point ≥ read_point (inclusive);
    nearest = strictly-closer side wins, exact tie prefers backward."""
    versions, probes = _asof_fixture(spark)
    kw = dict(
        on="ref_id",
        left_time="read_point",
        right_time="write_point",
        right_values=["value"],
    )
    fwd = {
        (r.ref_id, r.read_point): (r.asof_time, r.value)
        for r in asof_join(probes, versions, direction="forward", **kw).collect()
    }
    assert fwd[(1, 5)] == (10, 100.0)  # next version ahead
    assert fwd[(1, 10)] == (10, 100.0)  # ≥ is inclusive
    assert fwd[(1, 25)] == (30, 300.0)
    assert fwd[(1, 99)] == (None, None)  # nothing ahead → null
    assert fwd[(2, 14)] == (15, 150.0)
    assert fwd[(3, 50)] == (None, None)

    near = {
        (r.ref_id, r.read_point): (r.asof_time, r.value)
        for r in asof_join(probes, versions, direction="nearest", **kw).collect()
    }
    assert near[(1, 5)] == (10, 100.0)  # only a forward match exists
    assert near[(1, 10)] == (10, 100.0)
    assert near[(1, 25)] == (20, 200.0)  # dist 5 back vs 5 fwd → backward
    assert near[(1, 99)] == (30, 300.0)  # only backward exists
    assert near[(2, 14)] == (15, 150.0)
    assert near[(3, 50)] == (None, None)


# ---------------------------------------------------------------- dedup


def _docs_fixture(spark):
    base = "the quick brown fox jumps over the lazy dog " * 6
    near = base.replace("lazy", "sleepy", 1)  # single-word edit → near-dup
    far = "completely different content about spark query engines " * 6
    return spark.createDataFrame(
        [
            (1, base.strip()),
            (2, base.strip()),  # exact dup of 1
            (3, near.strip()),  # near dup of 1
            (4, far.strip()),  # unrelated
        ],
        "doc_id long, text string",
    )


def test_exact_dedup_keeps_min_doc_id(spark):
    docs = _docs_fixture(spark)
    kept = dedup.exact_dedup_keep_min(docs)
    ids = sorted(r.doc_id for r in kept.collect())
    assert ids == [1, 3, 4], "doc 2 (exact dup of 1) must drop, min id kept"


def test_minhash_lsh_finds_near_dups(spark):
    docs = _docs_fixture(spark)
    pairs = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in dedup.minhash_lsh_dedup(docs, 0.5).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0, "exact dup = jaccard 1"
    assert (1, 3) in pairs, "one-word edit should collide in ≥1 band"
    assert not any(4 in p for p in pairs), "unrelated doc must not pair"


def test_simhash_near_dups(spark):
    docs = _docs_fixture(spark)
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dedup.simhash_near_dups(docs, max_hamming=3).collect()
    }
    assert pairs.get((1, 2)) == 0, "identical text → identical fingerprint"
    assert (1, 3) in pairs, "near dup within hamming 3"
    assert not any(4 in p for p in pairs)


def test_neardup_components_merge_transitive_pairs(spark):
    """A~B, B~C must collapse into ONE cluster (pairwise dedup alone
    would keep both A and C); disconnected pairs stay separate."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    comp = {r.doc_id: r.component for r in dedup.neardup_components(pairs).collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[10] == comp[11] == 10
    assert comp[1] != comp[10]


def test_neardup_components_long_chain(spark):
    """Convergence beyond one hop: a 9-node path collapses to min id."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 9)], "doc_a long, doc_b long"
    )
    comp = {r.doc_id: r.component for r in dedup.neardup_components(pairs).collect()}
    assert set(comp.values()) == {1}
    assert len(comp) == 9


def test_simhash_deterministic_across_partitioning(spark):
    docs = _docs_fixture(spark)
    a = {r.doc_id: r.simhash for r in dedup.simhash_fingerprints(docs.repartition(1)).collect()}
    b = {r.doc_id: r.simhash for r in dedup.simhash_fingerprints(docs.repartition(7)).collect()}
    assert a == b


# ----------------------------------------------------------------- skew


def test_salted_join_row_identical_to_plain(spark):
    from opusdb_spark.operators import skew

    big = spark.createDataFrame(
        [(1, i) for i in range(50)] + [(2, 99), (3, 7)], "k long, v long"
    )  # key 1 is hot
    small = spark.createDataFrame([(1, "a"), (2, "b"), (4, "d")], "k long, tag string")
    plain = sorted((r.k, r.v, r.tag) for r in big.join(small, "k").collect())
    salted = sorted((r.k, r.v, r.tag) for r in skew.salted_join(big, small, "k", 4).collect())
    assert salted == plain


def test_salted_join_rejects_small_side_outer(spark):
    from opusdb_spark.operators import skew

    big = spark.createDataFrame([(1, 1)], "k long, v long")
    small = spark.createDataFrame([(1, "a")], "k long, tag string")
    with pytest.raises(ValueError, match="null-extended"):
        skew.salted_join(big, small, "k", 4, how="full")
    with pytest.raises(ValueError):
        skew.salted_join(big, small, "k", 4, how="right")


def test_spread_widens_small_narrow_scan(spark, tmp_path):
    """A small single-file scan (the empty-byte-range-split fiction)
    must be repartitioned up to defaultParallelism — the whole point
    of the byte guard."""
    from opusdb_spark.operators import skew

    p = str(tmp_path / "docs.parquet")
    spark.range(1000).coalesce(1).write.parquet(p)
    df = spark.read.parquet(p)
    out = skew.spread(df)
    assert (
        out.rdd.getNumPartitions()
        >= spark.sparkContext.defaultParallelism
    )
    assert out.count() == 1000


def test_spread_is_noop_after_a_shuffle(spark, tmp_path):
    """Downstream of a real exchange the empty-split fiction cannot
    occur; spread() must NOT stack a redundant repartition (the plan
    would otherwise gain one full shuffle per call)."""
    from opusdb_spark.operators import skew

    p = str(tmp_path / "docs.parquet")
    spark.range(1000).withColumnRenamed("id", "k").coalesce(1).write.parquet(p)
    agg = spark.read.parquet(p).groupBy("k").count()
    out = skew.spread(agg)
    assert out is agg, "post-shuffle frame must be returned unchanged"
    # an explicit repartition-by-expression is also an exchange,
    # as is a global sort
    repart = spark.read.parquet(p).repartition("k")
    assert skew.spread(repart) is repart
    ordered = spark.read.parquet(p).orderBy("k")
    assert skew.spread(ordered) is ordered
    # but a narrow projection/filter does NOT count as a shuffle...
    narrow = spark.read.parquet(p).filter("k >= 0").select("k")
    assert skew.spread(narrow) is not narrow
    # ...nor does a BROADCAST join (the streamed side is never
    # redistributed — suppressing the widen would resurrect the
    # single-task gram-hashing failure on the fact side), nor the
    # narrow coalesce()
    from pyspark.sql import functions as F

    dim = spark.range(5).withColumnRenamed("id", "k")
    bj = spark.read.parquet(p).join(F.broadcast(dim), "k")
    assert skew.spread(bj) is not bj
    co = spark.read.parquet(p).coalesce(1)
    assert skew.spread(co) is not co


def test_empty_docs_never_pair_in_fuzzy_dedup(spark):
    """m empty docs must NOT produce m² degenerate near-dup pairs."""
    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, ""), (4, "real text with actual words here")],
        "doc_id long, text string",
    )
    assert dedup.minhash_lsh_dedup(docs).count() == 0
    assert dedup.simhash_near_dups(docs).count() == 0


def test_components_raise_when_rounds_exceed_cap(spark):
    """max_iter=1 cannot reach a fixpoint on a long chain (even the
    O(log n) star rounds need several): must fail loudly, never return
    split clusters."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 64)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="converge"):
        dedup.neardup_components(pairs, max_iter=1)


def test_two_phase_agg_matches_plain(spark):
    from opusdb_spark.operators import skew

    df = spark.createDataFrame(
        [("x", i) for i in range(100)] + [("y", 5)], "k string, v long"
    )
    got = {
        r.k: (r.n, r.s, r.mn, r.mx)
        for r in skew.two_phase_agg(
            df, "k", [("v", "count", "n"), ("v", "sum", "s"), ("v", "min", "mn"), ("v", "max", "mx")], 4
        ).collect()
    }
    assert got == {"x": (100, 4950, 0, 99), "y": (1, 5, 5, 5)}


# ----------------------------------------------------------- similarity


def test_cosine_topk_self_similarity(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [1.0, 0.0, 0.0]),  # identical direction → cos 1
            (2, [0.0, 1.0, 0.0]),  # orthogonal → cos 0
            (3, [-1.0, 0.0, 0.0]),  # opposite → cos -1
            (4, [1.0, 1.0, 0.0]),  # 45° → cos ≈ 0.7071
        ],
        "vec_id long, embedding array<float>",
    )
    rows = similarity.cosine_topk(emb, probe_id=0, k=4).collect()
    order = [r.vec_id for r in rows]
    assert order == [1, 4, 2, 3]
    assert rows[0].cosine == pytest.approx(1.0)
    assert rows[1].cosine == pytest.approx(2**-0.5, rel=1e-6)
    assert rows[2].cosine == pytest.approx(0.0, abs=1e-9)
    assert rows[3].cosine == pytest.approx(-1.0)


def test_pack_sequences_matches_reference_and_respects_capacity(spark):
    """Greedy packing: distributed applyInPandas result must equal the
    sequential reference per group; no sequence exceeds capacity unless
    it is a single oversized doc."""
    from opusdb_spark.operators import packing

    rows = [
        ("en", 1, 100), ("en", 2, 100), ("en", 3, 100),  # 100+100 | 100
        ("en", 4, 300),                                   # oversized → own seq
        ("en", 5, 50),
        ("de", 1, 256), ("de", 2, 1),                     # exact fit | next
    ]
    docs = spark.createDataFrame(rows, "lang string, doc_id long, n_tokens long")
    got = {
        (r.lang, r.doc_id): r.seq_id
        for r in packing.pack_sequences(docs, 256).collect()
    }
    assert got == {
        ("en", 1): 0, ("en", 2): 0, ("en", 3): 1,
        ("en", 4): 2, ("en", 5): 3,
        ("de", 1): 0, ("de", 2): 1,
    }
    assert packing.pack_greedy([100, 100, 100, 300, 50], 256) == [0, 0, 1, 2, 3]
    # capacity invariant on the real corpus path
    from opusdb_spark.tables import table
    from opusdb_spark.operators import text as T
    from pyspark.sql import functions as F

    corpus = table(spark, SF, "documents").select(
        "lang", "doc_id", T.n_words(F.col("text")).alias("n_tokens")
    )
    seqs = (
        packing.pack_sequences(corpus, 256)
        .groupBy("lang", "seq_id")
        .agg(F.sum("n_tokens").alias("tot"), F.count(F.lit(1)).alias("n"))
    )
    bad = seqs.filter((F.col("tot") > 256) & (F.col("n") > 1)).count()
    assert bad == 0, "multi-doc sequence exceeded capacity"


def test_stored_probe_buckets_match_signature_expressions(spark):
    """The sigs/ store lookup (the production probe path) must return
    exactly the buckets the numpy signature kernel computes — and the
    two lsh_probe paths must therefore return identical top-k rows."""
    from opusdb_spark.operators import ann_index
    from opusdb_spark.tables import table

    emb = table(spark, SF, "embeddings")
    idx = ann_index.ensure_index(
        spark, emb, ann_index.index_dir_for(SF), ann_index.source_fingerprint(SF)
    )
    vec = ann_index.fetch_vector(spark, idx, 0)
    stored = sorted(ann_index.stored_buckets(spark, idx, 0))
    computed = sorted(ann_index._probe_buckets(spark, vec, idx))
    assert stored == computed
    via_store = [
        (r.vec_id, r.cosine)
        for r in ann_index.lsh_probe(spark, idx, vec, 10, exclude_id=0, probe_id=0).collect()
    ]
    via_expr = [
        (r.vec_id, r.cosine)
        for r in ann_index.lsh_probe(spark, idx, vec, 10, exclude_id=0).collect()
    ]
    assert via_store == via_expr


def test_ivf_probe_recall_on_real_embeddings(spark):
    from opusdb_spark.operators import ann_index
    from opusdb_spark.tables import table

    emb = table(spark, SF, "embeddings")
    idx = ann_index.ensure_index(
        spark, emb, ann_index.index_dir_for(SF), ann_index.source_fingerprint(SF)
    )
    vec = ann_index.fetch_vector(spark, idx, 0)
    exact = [r.vec_id for r in similarity.cosine_topk(emb, 0, 10).collect()]
    approx = [
        r.vec_id
        for r in ann_index.ivf_probe(spark, idx, vec, 10, exclude_id=0).collect()
    ]
    assert exact[0] == approx[0], "top-1 must survive IVF cell pruning"
    assert len(set(exact) & set(approx)) >= 5, "recall@10 collapsed"


def test_ivf_centroids_deterministic(spark):
    from opusdb_spark.tables import table

    emb = table(spark, SF, "embeddings")
    c1 = similarity.ivf_centroids(emb.repartition(3))
    c2 = similarity.ivf_centroids(emb.repartition(11))
    assert (c1 == c2).all(), "model must not depend on partitioning"


# ----------------------------------------------------------------- text


def test_langid_on_obvious_text(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog is in the house"),
            (2, "der Hund und die Katze ist nicht zu Hause"),
            (3, "zzz qqq xxx"),  # no stopwords → undetermined
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.pred
        for r in df.select("doc_id", T.predicted_lang(F.col("text")).alias("pred")).collect()
    }
    assert got[1] == "en"
    assert got[2] == "de"
    assert got[3] == "und"


def test_token_counts(spark):
    df = spark.createDataFrame([(1, "Hello, world! 42 times")], "id long, text string")
    row = df.select(
        T.n_words(F.col("text")).alias("w"),
        T.n_tokens_regex(F.col("text")).alias("t"),
    ).first()
    assert row.w == 4
    # Hello , world ! 42 times → 6 regex tokens
    assert row.t == 6


def test_rolling_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "c b a")], "id long, text string"
    )
    fps = {
        r.id: r.fp
        for r in df.select("id", T.rolling_fingerprint(F.col("text")).alias("fp")).collect()
    }
    assert fps[1] == fps[2], "same sequence → same fingerprint"
    assert fps[1] != fps[3], "reordered words must fingerprint differently"


# ------------------------------------------------------------ multimodal


def test_multimodal_feature_extraction(spark):
    media = multimodal.synthesize_media(spark, n=32)
    feats = multimodal.extract_features(media)
    rows = feats.collect()
    assert len(rows) == 32
    assert all(0.0 <= r.mean_luma <= 255.0 for r in rows)
    assert all(r.n_bytes > 0 for r in rows)


def test_multimodal_resize_fanout(spark):
    media = multimodal.synthesize_media(spark, n=16)
    thumbs = multimodal.resize_plan(media)
    per = {r.media_id: r.n for r in thumbs.groupBy("media_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    expected = {i: 1 + i % 8 for i in range(16)}
    assert per == expected, "each media row must fan out to n_frames thumbs"


def test_jpeg_roundtrip_restart_color_and_rejection():
    """operators/jpeg.py is a REAL baseline codec (r11): decode∘encode
    stays within a PSNR bound (lossy — pixel identity is the wrong
    pin), quality orders reconstruction error, restart-marker streams
    decode identically to unsegmented ones, an interleaved YCbCr
    4:4:4 scan yields the luma plane (chroma entropy-decoded and
    discarded), decode is bitwise deterministic, and the
    out-of-profile guard rejects progressive (SOF2) instead of
    mis-decoding it."""
    import numpy as np

    from opusdb_spark.operators import jpeg

    rng = np.random.RandomState(3)
    xx, yy = np.meshgrid(np.arange(40), np.arange(56))
    smooth = (
        ((np.sin(xx / 7.0) + np.cos(yy / 9.0)) * 60 + 128)
        .clip(0, 255)
        .astype(np.uint8)
    )

    def psnr(a, b):
        mse = float(((a.astype(float) - b) ** 2).mean())
        return 10 * np.log10(255**2 / max(mse, 1e-9))

    p100 = psnr(jpeg.decode_jpeg(jpeg.encode_jpeg(smooth, 100)), smooth)
    p70 = psnr(jpeg.decode_jpeg(jpeg.encode_jpeg(smooth, 70)), smooth)
    assert p100 > 55 and p70 > 40 and p100 > p70, (p100, p70)

    ref = jpeg.decode_jpeg(jpeg.encode_jpeg(smooth, 90))
    for r in (1, 4):
        got = jpeg.decode_jpeg(jpeg.encode_jpeg(smooth, 90, restart=r))
        assert (got == ref).all(), "restart segmentation changed pixels"
    a = jpeg.decode_jpeg(jpeg.encode_jpeg(smooth, 85))
    b = jpeg.decode_jpeg(jpeg.encode_jpeg(smooth, 85))
    assert a.tobytes() == b.tobytes(), "decode must be deterministic"

    rgb = rng.randint(0, 256, (25, 37, 3)).astype(np.uint8)
    dec = jpeg.decode_jpeg(jpeg.encode_jpeg_color(rgb, quality=95))
    y = np.clip(np.floor(jpeg.rgb_to_ycbcr(rgb)[0] + 0.5), 0, 255)
    assert dec.shape == (25, 37)
    assert psnr(dec, y) > 35, "interleaved scan must recover luma"

    # dispatch through the public entry point
    via = multimodal.decode_image(jpeg.encode_jpeg(smooth, 92), 40, 56)
    assert via.shape == smooth.shape

    # spectral-selection progressive must decode IDENTICALLY to the
    # baseline stream (same coefficients, same reconstruction) — EOB
    # runs included (the flat image's AC bands are all-zero, so every
    # block rides a multi-block EOBn run through the custom table)
    flat = np.full((24, 24), 130, np.uint8)
    for img in (smooth, flat):
        for q in (90, 40):
            assert (
                jpeg.decode_jpeg(jpeg.encode_jpeg_progressive(img, q))
                == jpeg.decode_jpeg(jpeg.encode_jpeg(img, q))
            ).all()
    assert (
        jpeg.decode_jpeg(
            jpeg.encode_jpeg_progressive(
                smooth, 90, bands=((1, 2), (3, 9), (10, 63))
            )
        )
        == jpeg.decode_jpeg(jpeg.encode_jpeg(smooth, 90))
    ).all()
    # out-of-profile frames still reject rather than mis-decode:
    # patch SOF2 (0xC2) to SOF10 (0xCA, arithmetic-coded progressive)
    arith = bytearray(jpeg.encode_jpeg_progressive(smooth, 90))
    i = bytes(arith).find(b"\xff\xc2")
    arith[i + 1] = 0xCA
    with pytest.raises(NotImplementedError):
        jpeg.decode_jpeg(bytes(arith))


def test_jpeg_successive_approximation():
    """r12 (VERDICT r11 ask #4): successive-approximation progressive
    JPEG, both directions. The coefficient reconstruction is exact once
    every refinement level lands, so decode of an SA stream must be
    PIXEL-IDENTICAL to decode of the plain baseline stream at the same
    quality — across DC/AC level splits, band splits, and image shapes
    that exercise long zero runs with interleaved history coefficients
    (the ZRL + correction-bit interplay)."""
    import numpy as np

    from opusdb_spark.operators import jpeg

    rng = np.random.RandomState(41)
    xx, yy = np.meshgrid(np.arange(40), np.arange(56))
    smooth = (
        ((np.sin(xx / 7.0) + np.cos(yy / 9.0)) * 60 + 128)
        .clip(0, 255)
        .astype(np.uint8)
    )
    noisy = rng.randint(0, 256, (33, 41)).astype(np.uint8)
    impulses = np.full((48, 40), 90, np.uint8)
    for _ in range(5):  # isolated impulses: sparse AC, runs > 15
        impulses[rng.randint(48), rng.randint(40)] = 255
    checker = (np.indices((24, 24)).sum(0) % 2 * 255).astype(np.uint8)

    for img in (smooth, noisy, impulses, checker):
        for q in (92, 40):
            base = jpeg.decode_jpeg(jpeg.encode_jpeg(img, q))
            for dc_al, ac_al in ((1, 1), (0, 2), (3, 0), (2, 3)):
                sa = jpeg.decode_jpeg(
                    jpeg.encode_jpeg_progressive(
                        img, q, dc_al=dc_al, ac_al=ac_al
                    )
                )
                assert (sa == base).all(), (img.shape, q, dc_al, ac_al)
    # band splits compose with SA levels
    base = jpeg.decode_jpeg(jpeg.encode_jpeg(smooth, 90))
    for bands in (((1, 2), (3, 9), (10, 63)), ((1, 63),)):
        sa = jpeg.decode_jpeg(
            jpeg.encode_jpeg_progressive(
                smooth, 90, bands=bands, dc_al=2, ac_al=2
            )
        )
        assert (sa == base).all(), bands


def test_jpeg_sa_hand_built_vector():
    """The encoder can't vouch for itself (a self-consistent-but-
    spec-divergent encoder/decoder pair would pass every round-trip),
    so pin the DECODER against a stream assembled BY HAND from T.81's
    coding rules — same method as the Adam7/PNG vectors. One 8×8
    block, all-ones quant table, four scans walked bit by bit below.

    True coefficients (zigzag index: value): 0: 6, 1: +5, 4: −3,
    10: +1. Scans:
      1. DC first, Al=1: 6>>1 = 3, diff 3 → category 2. Annex-K DC
         canonical codes: cat0='00', cats 1-5 are the 3-bit codes
         '010'..'110', so cat2='011'; extra bits '11' (+3).
      2. DC refine, Al=0: one raw bit = 6&1 = 0.
      3. AC first, band 1-63, Al=1: point-transformed band is
         k1=+2, k4=−1 (k10's magnitude 1 underflows at Al=1).
         Flat 9-bit AC table: symbol (r<<4)|s sits at index r*10+s−1,
         ZRL at 160, EOBn at 161+n — each code word IS its index.
         k1: (0,2) → idx 1 → '000000001' + '10' (+2);
         k4: (2,1) → idx 21-1=20 → '000010100' + '0' (−1);
         tail all zero → EOB0 → idx 161 → '010100001'.
      4. AC refine, Ah=1, Al=0: k1 (|5|>>0=5) and k4 (3) are history
         → correction bits 5&1=1, 3&1=1; k10 is newly nonzero after
         a zero-history run of 7 (k2,3,5..9) → symbol (7,1) → idx 70
         → '001000110' + sign '1', then the two buffered correction
         bits '1','1' (position order), then EOB0 '010100001'.
    """
    import struct

    import numpy as np

    from opusdb_spark.operators import jpeg

    def pack(bits: str) -> bytes:
        bits = bits + "1" * (-len(bits) % 8)
        out = bytearray()
        for i in range(0, len(bits), 8):
            b = int(bits[i : i + 8], 2)
            assert b != 0xFF, "hand vector must stay stuffing-free"
            out.append(b)
        return bytes(out)

    def sos(ss, se, ah, al):
        return jpeg._seg(
            0xFFDA, b"\x01\x01\x00" + bytes([ss, se, (ah << 4) | al])
        )

    stream = (
        b"\xff\xd8"
        + jpeg._seg(0xFFDB, b"\x00" + bytes([1] * 64))
        + jpeg._seg(0xFFC2, struct.pack(">BHHB", 8, 8, 8, 1) + b"\x01\x11\x00")
        + jpeg._PROG_DHT_SEG
        + sos(0, 0, 0, 1) + pack("011" + "11")
        + sos(0, 0, 1, 0) + pack("0")
        + sos(1, 63, 0, 1)
        + pack("000000001" + "10" + "000010100" + "0" + "010100001")
        + sos(1, 63, 1, 0)
        + pack("001000110" + "1" + "11" + "010100001")
        + b"\xff\xd9"
    )
    nat = np.zeros(64)
    for k, v in ((0, 6), (1, 5), (4, -3), (10, 1)):
        nat[int(jpeg.ZIGZAG[k])] = v
    expect = np.clip(
        np.floor(jpeg._D8.T @ nat.reshape(8, 8) @ jpeg._D8 + 128.0 + 0.5),
        0,
        255,
    ).astype(np.uint8)
    got = jpeg.decode_jpeg(stream)
    assert (got == expect).all()


def test_png_roundtrip_all_filters_and_profiles():
    """decode_png is a REAL decoder (r11): gray and RGB planes survive
    an encode/decode round-trip with every scanline filter type
    exercised (cycle_filters rotates 0-4 across rows), RGB collapses
    to the same ITU-601 luma as the Netpbm path, and decode_image
    dispatches on the PNG signature. Also pins the unsupported-profile
    guard (16-bit depth must raise, not mis-decode)."""
    import struct
    import zlib

    import numpy as np

    rng = np.random.RandomState(7)
    gray = rng.randint(0, 256, (23, 31)).astype(np.uint8)  # ≥5 rows: all filters
    for cyc in (False, True):
        for inter in (False, True):  # sequential AND Adam7
            got = multimodal.decode_png(
                multimodal.encode_png(gray, cyc, interlace=inter)
            )
            assert (got == gray).all(), (cyc, inter)
    rgb = rng.randint(0, 256, (17, 13, 3)).astype(np.uint8)
    want = multimodal._parse_netpbm(multimodal.encode_ppm(rgb))
    for inter in (False, True):
        got = multimodal.decode_png(
            multimodal.encode_png(rgb, cycle_filters=True, interlace=inter)
        )
        assert (got == want).all(), "PNG and PPM luma must share one formula"
    # dispatch through the public entry point
    via = multimodal.decode_image(
        multimodal.encode_png(gray, cycle_filters=True), 31, 23
    )
    assert (via == gray).all()
    # alpha-bearing color types (no repo encoder writes them — build
    # the streams by hand): gray+alpha (4) returns the gray channel,
    # RGBA (6) collapses RGB to luma, alpha ignored in both
    ga = rng.randint(0, 256, (6, 5, 2)).astype(np.uint8)
    raw = b"".join(b"\x00" + ga[y].tobytes() for y in range(6))
    blob = (
        b"\x89PNG\r\n\x1a\n"
        + multimodal._png_chunk(
            b"IHDR", struct.pack(">IIBBBBB", 5, 6, 8, 4, 0, 0, 0)
        )
        + multimodal._png_chunk(b"IDAT", zlib.compress(raw))
        + multimodal._png_chunk(b"IEND", b"")
    )
    assert (multimodal.decode_png(blob) == ga[..., 0]).all()
    rgba = np.dstack([rgb, rng.randint(0, 256, rgb.shape[:2]).astype(np.uint8)])
    raw = b"".join(b"\x00" + rgba[y].tobytes() for y in range(rgba.shape[0]))
    blob = (
        b"\x89PNG\r\n\x1a\n"
        + multimodal._png_chunk(
            b"IHDR",
            struct.pack(">IIBBBBB", rgba.shape[1], rgba.shape[0], 8, 6, 0, 0, 0),
        )
        + multimodal._png_chunk(b"IDAT", zlib.compress(raw))
        + multimodal._png_chunk(b"IEND", b"")
    )
    assert (multimodal.decode_png(blob) == want).all(), "RGBA luma"
    # unsupported profile: 16-bit depth
    ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0)
    blob = (
        b"\x89PNG\r\n\x1a\n"
        + multimodal._png_chunk(b"IHDR", ihdr)
        + multimodal._png_chunk(b"IDAT", zlib.compress(b"\x00" * 10))
        + multimodal._png_chunk(b"IEND", b"")
    )
    with pytest.raises(NotImplementedError):
        multimodal.decode_png(blob)


# ------------------------------------------------------- determinism


@pytest.mark.parametrize(
    "name",
    [
        "agg_q1",
        "join_multiway",
        "win_latest_version",
        "llm_dedup_exact",
        "mvcc_conservation",
        "join_salted_skew",
        "agg_percentile_exact",
        "join_theta",
        "llm_train_val_split",
        "llm_shuffle_shard",
        "llm_seq_pack",
        "ts_gapfill",
        "llm_decontaminate",
        "llm_bm25_topk",
        "mvcc_merge_upsert",
        "llm_vocab_topk",
        "llm_sample_per_group",
        "events_zscore_outliers",
        "emb_label_centroids",
        "agg_incremental_merge",
        "win_cume_percent",
        "fn_bitwise",
        "llm_bigram_lm",
        "dq_constraints",
        "profile_columns",
        "agg_bucketed_noshuffle",
        "join_bloom_pruned",
        "udtf_python_api",
        "udf_cogrouped",
        "sub_lateral",
        "scd2_history",
        "ts_ohlc",
        "llm_dedup_editdist",
        # round 4: rewritten plans + new operators
        "events_rfm_segments",
        "llm_similarity_topk",
        "llm_substring_dedup",
        "llm_entropy_filter",
        "llm_url_dedup",
        "fn_url_parse",
        "emb_covariance",
        "emb_pca_power",
        "emb_outlier_mahalanobis",
        "multimodal_phash_dedup",
        "ts_interpolate",
        "events_cohort_ltv",
        "events_pattern_match",
        "llm_winnowing_overlap",
        "tpch_q7",
        "tpch_q13",
        "tpch_q18",
        "llm_corpus_report",
        # round 4, second batch: tpch tail + semantic dedup + graph
        "tpch_q2",
        "tpch_q9",
        "tpch_q21",
        "tpch_q22",
        "llm_semdedup",
        "llm_soft_dedup_weights",
        "graph_pagerank",
        "graph_triangle_count",
        "scan_manifest_prune",
        "events_sessionize",
        "llm_perplexity_buckets",
        "join_asof_forward",
        "join_asof_nearest",
        "llm_dsir_weights",
        "llm_ngram_novelty",
        "llm_weighted_sample",
        "dq_referential_integrity",
        "llm_cluster_topics",
        "events_seasonality",
        "events_ab_ztest",
        "mvcc_vacuum_report",
        "llm_quality_classifier_score",
        "join_asof_tolerance",
        "join_pit_features",
        "events_cumulative_users",
        "events_revenue_pareto",
        "emb_hard_negatives",
    ],
)
def test_determinism_under_repartition(name, spark):
    """The rebuild's analog of the reference's concurrency-stress tests
    (stm_test.clj:222-237): identical results regardless of parallelism."""

    def run(parts):
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        try:
            pdf = _sort_rows(_normalize(spark_to_pandas(registry()[name].fn(spark, SF))))
            return hashlib.sha256(
                pdf.to_csv(float_format="%.17g").encode()
            ).hexdigest()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", "8")

    assert run(2) == run(16)


def test_minhash_signature_store_is_ingest_once(spark, tmp_path):
    """A corpus_store is written exactly once per fingerprint: a second
    call with the same params reads the existing parquet instead of
    recomputing (the ingest/query split the dedup family relies on),
    and a changed param rebuilds it."""
    import os
    import shutil

    from opusdb_spark.operators import dedup
    from opusdb_spark.sources.formats import (
        corpus_scratch_path,
        corpus_store,
        read_store,
    )

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "pack my box with five dozen liquor jugs")],
        "doc_id long, text string",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    sf_dir = str(tmp_path)

    def sigs(v):
        return corpus_store(
            "minhash_sigs", sf_dir, ("documents",),
            lambda p: dedup.minhash_signatures(docs).write.parquet(p),
            v=v,
        )

    try:
        store = sigs(1)
        assert read_store(spark, store).count() == 2
        marker = os.path.join(store, "_fingerprint.json")
        mtime1 = os.path.getmtime(marker)
        assert sigs(1) == store
        assert os.path.getmtime(marker) == mtime1, "store rewritten on reuse"
        assert read_store(spark, store).count() == 2
        # changed fingerprint -> rebuild
        sigs(2)
        assert os.path.getmtime(marker) != mtime1
    finally:
        shutil.rmtree(corpus_scratch_path("minhash_sigs", sf_dir), ignore_errors=True)


def test_decontaminate_never_flags_benchmark_docs(spark):
    out = registry()["llm_decontaminate"].fn(spark, SF).collect()
    assert len(out) > 0
    assert all(r.doc_id % 97 != 0 for r in out), "benchmark slice must not appear"
    assert all(r.n_shared_grams >= r.n_bench_docs >= 1 for r in out)


def test_bm25_ranked_and_bounded(spark):
    rows = registry()["llm_bm25_topk"].fn(spark, SF).collect()
    assert 0 < len(rows) <= 20
    scores = [r.bm25 for r in rows]
    assert scores == sorted(scores, reverse=True), "descending by score"
    assert all(s > 0 for s in scores)


def test_netpbm_codec_roundtrip():
    import numpy as np

    rng = np.random.RandomState(7)
    plane = rng.randint(0, 256, (13, 21)).astype(np.uint8)
    assert (multimodal._parse_netpbm(multimodal.encode_pgm(plane)) == plane).all()
    rgb = rng.randint(0, 256, (9, 5, 3)).astype(np.uint8)
    luma = multimodal._parse_netpbm(multimodal.encode_ppm(rgb))
    r, g, b = (rgb[..., i].astype(np.uint32) for i in range(3))
    assert (luma == ((299 * r + 587 * g + 114 * b) // 1000).astype(np.uint8)).all()
    # comments + arbitrary whitespace in the header must parse
    wonky = b"P5\n# a comment\n 21\t13 #x\n255\n" + plane.tobytes()
    assert (multimodal._parse_netpbm(wonky) == plane).all()


def test_area_resize_mean_pools():
    import numpy as np

    plane = np.arange(64, dtype=np.uint8).reshape(8, 8)
    small = multimodal.area_resize(plane, 4)
    assert small.shape == (4, 4)
    assert small[0, 0] == int(plane[:2, :2].mean())
    assert small[3, 3] == int(plane[6:, 6:].mean())


def test_video_frames_roundtrip_and_are_distinct():
    import numpy as np

    rng = np.random.RandomState(7)
    planes = [rng.randint(0, 256, (6, 5)).astype(np.uint8) for _ in range(3)]
    blob = b"".join(multimodal.encode_pgm(p) for p in planes)
    back = multimodal.parse_frames(blob)
    assert len(back) == 3
    assert all((a == b).all() for a, b in zip(planes, back))
    assert not (back[0] == back[1]).all()  # frames genuinely differ


def test_frame_sample_keeps_every_stride_th_frame(spark):
    media = multimodal.synthesize_media(spark, n=24)
    sampled = multimodal.sample_frames(media, stride=2)
    per = {
        r.media_id: r.n
        for r in sampled.groupBy("media_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # ceil(n_frames / stride) sampled frames per media row
    assert per == {i: (1 + i % 8 + 1) // 2 for i in range(24)}
    # video rows decode per-frame: sampled frames have distinct lumas
    vid = [
        r
        for r in sampled.collect()
        if r.kind == "video" and r.media_id % 3 == 2
    ]
    by_media: dict[int, set] = {}
    for r in vid:
        by_media.setdefault(r.media_id, set()).add(r.mean_luma)
    multi = [m for m, lumas in by_media.items() if len(lumas) > 1]
    assert multi, "multi-frame videos must yield differing per-frame lumas"


def test_resize_thumbs_differ_across_video_frames(spark):
    media = multimodal.synthesize_media(spark, n=16)
    thumbs = multimodal.resize_plan(media)
    rows = [r for r in thumbs.collect() if r.media_id == 14]  # video, 7 frames
    assert len(rows) == 1 + 14 % 8
    assert len({bytes(r.thumb) for r in rows}) > 1, "per-frame thumbs"


def test_cosine_topk_batch_matches_single_probe(spark):
    from opusdb_spark.tables import table

    emb = table(spark, SF, "embeddings")
    batch = similarity.cosine_topk_batch(emb, [0, 3], k=5)
    got = {
        pid: [(r.vec_id, r.cosine) for r in sorted(rows, key=lambda x: (-x.cosine, x.vec_id))]
        for pid, rows in (
            (0, [r for r in batch.collect() if r.probe_id == 0]),
            (3, [r for r in batch.collect() if r.probe_id == 3]),
        )
    }
    for pid in (0, 3):
        single = [
            (r.vec_id, r.cosine)
            for r in similarity.cosine_topk(emb, pid, 5).collect()
        ]
        assert got[pid] == single, f"batch/single disagree for probe {pid}"


def test_ivf_full_probe_equals_brute_force(spark):
    """Probing ALL cells makes IVF exhaustive: its top-k (vec_id, cosine)
    rows must equal the brute-force ground truth exactly — pins that
    the persisted index partitions the corpus without loss or
    duplication, and that a literal probe scores to the same doubles
    as the broadcast probe row. LSH returns a different candidate set,
    but every id it shares with the exact top-k must carry the same
    cosine: one scorer, one number."""
    from opusdb_spark.operators import ann_index
    from opusdb_spark.tables import table

    emb = table(spark, SF, "embeddings")
    idx = ann_index.ensure_index(
        spark, emb, ann_index.index_dir_for(SF), ann_index.source_fingerprint(SF)
    )
    vec = ann_index.fetch_vector(spark, idx, 0)
    full = ann_index.ivf_probe(
        spark, idx, vec, k=10, n_probe=similarity.N_CELLS, exclude_id=0
    )
    exact = similarity.cosine_topk(emb, 0, 50).collect()
    assert [(r.vec_id, r.cosine) for r in full.collect()] == [
        (r.vec_id, r.cosine) for r in exact[:10]
    ]
    lsh = {
        r.vec_id: r.cosine
        for r in ann_index.lsh_probe(
            spark, idx, vec, 50, exclude_id=0, probe_id=0
        ).collect()
    }
    shared = [(r.vec_id, r.cosine) for r in exact if r.vec_id in lsh]
    assert shared, "LSH shares no id with the exact top-50"
    assert shared == [(i, lsh[i]) for i, _ in shared]


def test_ivf_pooled_scoring_equals_full_decimal_scan(spark):
    """The r13 two-phase probe (approx double prefilter → exact decimal
    rescore of the pool) must return bit-identical (id, cosine) rows to
    the pre-r13 formulation that decimal-folds EVERY candidate — the
    equivalence the pool-margin adjudication promises, checked on the
    real corpus including the cosine doubles."""
    import os

    from pyspark.sql import functions as _F

    from opusdb_spark.operators import ann_index
    from opusdb_spark.sources.formats import read_store
    from opusdb_spark.tables import table

    emb = table(spark, SF, "embeddings")
    idx = ann_index.ensure_index(
        spark, emb, ann_index.index_dir_for(SF), ann_index.source_fingerprint(SF)
    )
    vec = ann_index.fetch_vector(spark, idx, 0)
    pooled = ann_index.ivf_probe(spark, idx, vec, k=10, exclude_id=0)
    # the pre-r13 shape: full decimal fold over every probed candidate
    import numpy as np

    cents = ann_index.load_centroids(idx)
    cn = cents / (np.linalg.norm(cents, axis=1, keepdims=True) + 1e-12)
    v = np.asarray(vec, dtype=np.float64)
    vn = v / (np.linalg.norm(v) + 1e-12)
    cells = [int(c) for c in np.argsort(-(cn @ vn))[: similarity.N_PROBE]]
    full = (
        read_store(spark, os.path.join(idx, "ivf"))
        .filter(_F.col("cell").isin(cells))
        .filter(_F.col("vec_id") != 0)
        .select(
            "vec_id",
            similarity._cosine(
                "embedding", *similarity._literal_probe(vec), similarity._dec_fold
            ).alias("cosine"),
        )
        .filter(_F.col("cosine").isNotNull())
        .orderBy(_F.desc("cosine"), _F.asc("vec_id"))
        .limit(10)
    )
    got = [(r.vec_id, r.cosine) for r in pooled.collect()]
    want = [(r.vec_id, r.cosine) for r in full.collect()]
    assert got == want and got, "pooled probe diverged from full scan"


def test_literal_probe_norm_is_one_folded_constant(spark):
    """A literal probe's exact norm must equal the decimal fold the
    broadcast probe row computes, and Catalyst must fold it to one
    constant: a higher-order function over a literal array is never
    constant-folded, so that form would re-run a 64-term decimal fold
    on every candidate of the approximate phase."""
    from opusdb_spark.tables import table

    row = table(spark, SF, "embeddings").filter(F.col("vec_id") == 0).first()
    p, norm = similarity._literal_probe(row.embedding)
    df = spark.range(1).select(
        norm.alias("lit"),
        similarity._norm2(p, similarity._dec_fold).alias("hof"),
    )
    plan = df.select("lit")._jdf.queryExecution().optimizedPlan().toString()
    assert "aggregate" not in plan and "lambda" not in plan, plan
    row = df.first()
    assert row.lit == row.hof > 0


def test_top_by_evaluates_score_once(spark):
    """`_top_by`'s NULL filter must stay above the limit: pushed below
    the projection that computes the score, it makes every row evaluate
    the score (a higher-order-function cosine in every caller) twice.
    NULL scores are still dropped, even where fewer than n rows score."""
    df = spark.range(6).select(
        F.col("id").alias("vec_id"),
        F.when(F.col("id") % 2 == 0, F.sqrt(F.col("id") + 0.5)).alias("s"),
    )
    top = similarity._top_by(df, "s", 5)
    plan = top._jdf.queryExecution().optimizedPlan().toString()
    assert plan.upper().count("SQRT(") == 1, plan
    assert [r.vec_id for r in top.collect()] == [4, 2, 0]


def test_incremental_pairs_match_batch_pairs_cross_subset(spark):
    """The incremental path must find exactly the batch-vs-corpus edges
    the full batch dedup finds: restricting the full pair graph to
    (batch, base) cross pairs equals lsh_incremental_pairs output."""
    from opusdb_spark.tables import table

    docs = table(spark, SF, "documents")
    sigs = dedup.minhash_signatures(dedup.spread(docs))
    sigs = sigs.localCheckpoint(eager=False)
    batch = sigs.filter(F.col("doc_id") % 10 == 0)
    base = sigs.filter(F.col("doc_id") % 10 != 0)
    inc = {
        (r.new_doc, r.dup_of, round(r.est_jaccard, 9))
        for r in dedup.lsh_incremental_pairs(batch, base, 0.5).collect()
    }
    full = dedup.minhash_lsh_dedup(docs, 0.5, sig=sigs).collect()
    expect = set()
    for r in full:
        for new, old in ((r.doc_a, r.doc_b), (r.doc_b, r.doc_a)):
            if new % 10 == 0 and old % 10 != 0:
                expect.add((new, old, round(r.est_jaccard, 9)))
    assert inc == expect
    assert expect, "fixture must contain cross batch/base near-dups"


def test_hll_union_of_partials_equals_single_sketch(spark):
    """HLL merge is lossless: unioning per-day sketches estimates the
    same value as one sketch over all rows — the property that makes
    ingest-time pre-aggregation safe at any re-merge granularity."""
    from opusdb_spark.tables import table

    ev = table(spark, SF, "events").select(
        "event_type", F.to_date("ts").alias("day"), "user_id"
    )
    merged = {
        r.event_type: r.est
        for r in ev.groupBy("event_type", "day")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        .collect()
    }
    direct = {
        r.event_type: r.est
        for r in ev.groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est"))
        .collect()
    }
    assert merged == direct


# ------------------------------------------- round-3 query semantics


def test_keep_best_prefers_longest_then_min_doc_id(spark):
    reg = registry()
    # norm key collapses case/padding; longest member wins, tie → min id
    docs = spark.createDataFrame(
        [
            (1, "Hello World", "en", "a", 11),
            (2, "hello world", "en", "b", 11),
            (3, "  hello world  ", "en", "c", 15),
            (4, "unique", "en", "a", 6),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    import tempfile, os
    with tempfile.TemporaryDirectory() as d:
        docs.coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
        out = {
            r.keep_doc_id: (r.n_copies, r.n_sources)
            for r in reg["llm_dedup_keep_best"].fn(spark, d).collect()
        }
    # doc 3 has n_chars=15 (longest raw) but same norm key → wins the cluster
    assert out == {3: (3, 3), 4: (1, 1)}


def test_interpolate_linear_between_observations(spark):
    reg = registry()
    import tempfile, os
    from datetime import datetime
    ev = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 0, 0, 30), 7, "error", 10.0, "{}"),
            (2, datetime(2024, 1, 1, 0, 3, 10), 7, "error", 40.0, "{}"),
            (3, datetime(2024, 1, 1, 0, 1, 5), 7, "click", 999.0, "{}"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    with tempfile.TemporaryDirectory() as d:
        ev.coalesce(1).write.parquet(os.path.join(d, "events.parquet"))
        rows = {
            r.minute.minute: (r.n_events, r.observed, r.v_interp)
            for r in reg["ts_interpolate"].fn(spark, d).collect()
        }
    assert rows[0] == (1, True, 10.0)
    assert rows[3] == (1, True, 40.0)
    # minutes 1 and 2 interpolate linearly along the 3-minute gap
    assert rows[1] == (0, False, 20.0)
    assert rows[2] == (0, False, 30.0)


def test_attribution_last_touch_and_cold_start(spark):
    reg = registry()
    import tempfile, os
    from datetime import datetime
    t0 = datetime(2024, 1, 1)
    mk = lambda i, m, u, et, v: (i, datetime(2024, 1, 1, 0, m), u, et, v, "{}")
    ev = spark.createDataFrame(
        [
            mk(1, 0, 1, "view", 0.0),
            mk(2, 1, 1, "click", 0.0),
            mk(3, 2, 1, "purchase", 30.0),   # credited to click (last touch)
            mk(4, 0, 2, "purchase", 20.0),   # cold conversion → none
            mk(5, 1, 2, "view", 0.0),
            mk(6, 2, 2, "purchase", 5.0),    # credited to view
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    with tempfile.TemporaryDirectory() as d:
        ev.coalesce(1).write.parquet(os.path.join(d, "events.parquet"))
        got = {
            r.touch_type: (r.n_purchases, r.revenue)
            for r in reg["events_attribution"].fn(spark, d).collect()
        }
    assert got == {"click": (1, 30.0), "none": (1, 20.0), "view": (1, 5.0)}


def test_compaction_conserves_rows_and_reduces_files(spark):
    reg = registry()
    row = reg["sink_compact_small_files"].fn(spark, SF).collect()[0]
    assert row.compacted
    assert row.rows_before == row.rows_after
    assert row.n_files_after < row.n_files_before


def test_clustered_write_skips_most_files(spark):
    reg = registry()
    row = reg["sink_clustered_write"].fn(spark, SF).collect()[0]
    # 8 range partitions over ~7 years of shipdates: a 1-month predicate
    # must overlap at most 2 of the 8 clustered files
    assert row.n_files == 8
    assert row.n_files_overlapping <= 2
    assert row.rows_in_month > 0


def test_kmeans_inertia_monotone_nonincreasing(spark):
    reg = registry()
    rows = sorted(
        reg["emb_kmeans"].fn(spark, SF).collect(), key=lambda r: r.iteration
    )
    assert len(rows) == 5
    inert = [r.inertia for r in rows]
    assert all(b <= a + 1e-9 for a, b in zip(inert, inert[1:])), (
        f"Lloyd inertia must never increase: {inert}"
    )
    assert rows[0].n_moved_cells > 0, "first iteration must move centroids"


def test_ewma_matches_pandas_reference(spark):
    reg = registry()
    got = {
        r.event_id: r.ewma
        for r in reg["udaf_ewma"].fn(spark, SF).collect()
    }
    import pandas as pd

    ev = pd.read_parquet(f"{SF}/events.parquet")[
        ["event_id", "ts", "event_type", "value"]
    ]
    for _, g in ev.groupby("event_type"):
        g = g.sort_values(["ts", "event_id"])
        ref = g["value"].ewm(alpha=0.1, adjust=False).mean().round(6)
        for eid, want in zip(g["event_id"], ref):
            assert got[eid] == want


def test_bpe_train_matches_python_reference(spark):
    """The distributed merge loop must learn the exact merge sequence a
    textbook single-process BPE learns on the same word frequencies."""
    from collections import Counter

    import pandas as pd

    from opusdb_spark.operators import bpe
    from opusdb_spark.tables import table as _t

    got = bpe.bpe_train(_t(spark, SF, "documents"), n_merges=8)

    texts = pd.read_parquet(f"{SF}/documents.parquet")["text"]
    freq = Counter(w for t in texts for w in t.split(" ") if w)
    vocab = {w: list(w) for w in freq}
    want = []
    for rank in range(8):
        pairs = Counter()
        for w, syms in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += freq[w]
        if not pairs:
            break
        # same tie-break as the engine: count desc, then (l, r) asc
        (l, r), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        want.append((rank, l, r, l + r, c))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    assert got == want


def test_bpe_train_batched_is_disjoint_and_consistent(spark):
    """The batched path (merges_per_pass=8) must (a) produce batches
    whose symbols — left, right, merged — never collide within a pass,
    and (b) agree with the exact sequential loop on a corpus whose top
    pairs are naturally disjoint; on any corpus, every committed merge
    must carry the pair count the pre-batch table assigned it."""
    from collections import Counter

    import pandas as pd

    from opusdb_spark.operators import bpe
    from opusdb_spark.tables import table as _t

    batched = bpe.bpe_train(
        _t(spark, SF, "documents"), n_merges=16, merges_per_pass=8
    )
    assert len(batched) == 16
    assert [m[0] for m in batched] == list(range(16))

    # (a) the selection primitive: picked pairs never share a symbol —
    # left, right, or the merged token — and respect rank order; a
    # candidate whose merged token collides with a later pair's symbol
    # is skipped too (('a','b') blocks ('ab','x'))
    ranked = [
        ("a", "b", 10),
        ("a", "c", 9),   # blocked: shares 'a'
        ("ab", "x", 8),  # blocked: 'ab' is rank-0's merged token
        ("c", "d", 7),
        ("d", "e", 6),   # blocked: shares 'd'
        ("e", "e", 5),
    ]
    assert bpe._disjoint_prefix(ranked, 8) == [
        ("a", "b", 10),
        ("c", "d", 7),
        ("e", "e", 5),
    ]
    assert bpe._disjoint_prefix(ranked, 2) == [
        ("a", "b", 10),
        ("c", "d", 7),
    ]

    # (b) count fidelity: rank-0 merge equals the global argmax of the
    # raw word-frequency pair table (same as the exact path's rank 0)
    texts = pd.read_parquet(f"{SF}/documents.parquet")["text"]
    freq = Counter(w for t in texts for w in t.split(" ") if w)
    pairs = Counter()
    for w, n in freq.items():
        syms = list(w)
        for a, b in zip(syms, syms[1:]):
            pairs[(a, b)] += n
    (l, r), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
    assert batched[0][1:] == (l, r, l + r, c)


def test_bpe_batched_equals_sequential_on_disjoint_corpus(spark):
    """On a corpus whose frequent pairs share no symbols, batching is
    EXACT: merges_per_pass=4 must learn the identical merge table as
    the reference one-merge-per-pass loop."""
    from opusdb_spark.operators import bpe

    docs = spark.createDataFrame(
        [("ab " * 9 + "cd " * 7 + "ef " * 5 + "gh " * 3,)] * 2,
        "text string",
    )
    seq = bpe.bpe_train(docs, n_merges=4, merges_per_pass=1)
    bat = bpe.bpe_train(docs, n_merges=4, merges_per_pass=4)
    assert seq == bat



def test_minhash_calibration_covers_all_pairs(spark):
    from opusdb_spark.queries import llm as L

    reg = registry()
    cal = reg["llm_minhash_calibration"].fn(spark, SF).collect()
    n_pairs_total = sum(r.n_pairs for r in cal)
    assert n_pairs_total == L._minhash_pairs(spark, SF).count(), (
        "every candidate pair must land in exactly one estimate bucket"
    )
    for r in cal:
        assert 0.0 <= r.mean_exact <= 1.0
        assert r.mean_abs_err < 0.25, (
            f"estimator error implausibly large in bucket {r.est_bucket}"
        )


def test_audio_energy_matches_numpy_reference(spark):
    import numpy as np

    from opusdb_spark.operators import multimodal

    media = multimodal.synthesize_media(spark, n=32)
    got = {
        r.media_id: (r.n_samples, r.n_windows, r.mean_rms, r.max_rms, r.n_silent)
        for r in multimodal.audio_energy(media).collect()
    }
    rows = media.filter("kind = 'audio'").collect()
    assert got and len(got) == len(rows)
    for r in rows:
        x = np.frombuffer(bytes(r.content), dtype=np.uint8).astype(np.float64) - 128.0
        if len(x) < 256:
            x = np.pad(x, (0, 256 - len(x)))
        n_win = 1 + (len(x) - 256) // 128
        rms = np.array([
            np.sqrt((x[i * 128:i * 128 + 256] ** 2).mean()) for i in range(n_win)
        ])
        want = (
            len(x), n_win, round(float(rms.mean()), 6),
            round(float(rms.max()), 6), int((rms < 64.0).sum()),
        )
        assert got[r.media_id] == want


def test_bpe_apply_matches_python_encode(spark):
    from opusdb_spark.operators import bpe
    from opusdb_spark.tables import table as _t

    docs = _t(spark, SF, "documents")
    merges = bpe.bpe_train(docs, n_merges=4)
    got = {
        r.doc_id: r.n_tokens
        for r in bpe.bpe_apply(docs, merges).select("doc_id", "n_tokens").collect()
    }
    ranked = [(l, r) for _, l, r, _, _ in merges]
    import pandas as pd

    pdf = pd.read_parquet(f"{SF}/documents.parquet")[["doc_id", "text"]]

    def enc(w):
        syms = list(w)
        for l, r in ranked:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return len(syms)

    for did, text in zip(pdf["doc_id"], pdf["text"]):
        assert got[did] == sum(enc(w) for w in text.split(" ") if w)


def test_cosine_topk_survives_zero_vectors(spark):
    """A zero-filled embedding (failed encode) must be excluded, not
    abort the scan with an ANSI divide-by-zero."""
    rows = [(0, [1.0, 0.0, 2.0]), (1, [0.0, 0.0, 0.0]), (2, [1.0, 1.0, 1.0]),
            (3, [2.0, 0.0, 4.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = [(r.vec_id) for r in similarity.cosine_topk(emb, 0, 10).collect()]
    assert got == [3, 2], "zero vector dropped; colinear vec 3 ranks first"
    # zero PROBE: every cosine undefined -> empty result, no crash
    assert similarity.cosine_topk(emb, 1, 10).count() == 0


def test_markov_rows_are_probability_distributions(spark):
    reg = registry()
    rows = reg["events_markov_transitions"].fn(spark, SF).collect()
    assert rows
    by_src = {}
    for r in rows:
        by_src.setdefault(r.src, []).append(r.p)
        assert 0.0 < r.p <= 1.0
    for src, ps in by_src.items():
        assert abs(sum(ps) - 1.0) < 5e-6 * len(ps) + 1e-9, (
            f"row {src} must sum to 1 (got {sum(ps)})"
        )


def test_temperature_mix_targets_capped_and_exact(spark):
    reg = registry()
    rows = reg["llm_temperature_mix"].fn(spark, SF).collect()
    assert rows
    total = sum(r.n_source for r in rows)
    for r in rows:
        assert r.n_kept == min(r.target, r.n_source)
        assert r.target <= r.n_source, "targets are capped at source size"
    assert sum(r.target for r in rows) <= total // 2 + len(rows), (
        "floor effects aside, targets must not exceed the half-corpus budget"
    )


def test_rfm_segments_conserve_purchasers(spark):
    from opusdb_spark.tables import table as _t

    reg = registry()
    segs = reg["events_rfm_segments"].fn(spark, SF).collect()
    n_users = sum(r.n_users for r in segs)
    want = (
        _t(spark, SF, "events")
        .filter("event_type = 'purchase'")
        .select("user_id")
        .distinct()
        .count()
    )
    assert n_users == want, "every purchaser lands in exactly one segment"
    for r in segs:
        assert 1 <= r.r_seg <= 4 and 1 <= r.f_seg <= 4 and 1 <= r.m_seg <= 4


def test_countmin_never_undercounts(spark):
    reg = registry()
    rows = reg["agg_countmin_topk"].fn(spark, SF).collect()
    assert len(rows) == 10
    for r in rows:
        assert r.cms_estimate >= r.exact, "CMS is one-sided: never undercounts"
        assert r.overcount == r.cms_estimate - r.exact


def test_asof_join_same_time_column_name_both_sides(spark):
    """left_time == right_time (both 'ts') must work, not crash on a
    duplicate column in the union."""
    left = spark.createDataFrame(
        [(1, 10), (1, 25), (2, 5)], "k long, ts long"
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 20, 200.0), (2, 7, 70.0)],
        "k long, ts long, v double",
    )
    got = {
        (r.k, r.ts): (r.asof_time, r.v)
        for r in asof_join(
            left, right, on="k", left_time="ts", right_time="ts",
            right_values=["v"],
        ).collect()
    }
    assert got == {
        (1, 10): (10, 100.0),
        (1, 25): (20, 200.0),
        (2, 5): (None, None),
    }


def test_simhash_rejects_unsupported_hamming_threshold(spark):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="recall"):
        dedup.simhash_near_dups(
            spark.createDataFrame([(1, "x")], "doc_id long, text string"),
            max_hamming=4,
        )


# ---------------------------------------- distributed exact NTILE


@pytest.mark.parametrize("n_rows", [3, 5, 6, 8, 97, 100])
def test_global_ntile_matches_native_ntile(spark, n_rows):
    """with_global_ntiles must be bit-identical to NTILE(4) OVER
    (ORDER BY metric DESC, id) — including the uneven-bucket rule
    (first N mod 4 tiles get the extra row) and heavy ties (metric
    has only 3 distinct values, so the id tie-break decides)."""
    from pyspark.sql import Window

    from opusdb_spark.operators.ranking import with_global_ntiles

    df = spark.range(n_rows).select(
        F.col("id"), (F.col("id") % 3).cast("double").alias("metric")
    )
    got = with_global_ntiles(
        df,
        [("seg", [F.desc("metric"), F.asc("id")], F.col("metric"), True)],
        n=4,
        n_buckets=8,
    )
    want = df.select(
        "id",
        F.ntile(4)
        .over(Window.orderBy(F.desc("metric"), F.asc("id")))
        .alias("seg"),
    )
    g = {r["id"]: r["seg"] for r in got.select("id", "seg").collect()}
    w = {r["id"]: r["seg"] for r in want.collect()}
    assert g == w


# ---------------------------------------- perceptual-hash image dedup


def test_phash_finds_planted_image_dups(spark):
    """Every id%4==1 image is a ±2-noise copy of id-1: all 32 planted
    pairs must surface at Hamming ≤ 10, and unrelated random images
    must not flood in (their expected distance is ~32 bits)."""
    from opusdb_spark.operators import multimodal

    media = multimodal.synthesize_image_corpus(spark, n=128)
    pairs = multimodal.phash_near_dups(
        multimodal.with_phash(media), max_hamming=10
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    planted = {(i - 1, i) for i in range(1, 128, 4)}
    assert planted <= got, f"missed planted pairs: {planted - got}"
    extras = got - planted
    assert len(extras) <= 4, f"too many chance collisions: {extras}"


def test_phash_deterministic_across_partitioning(spark):
    from opusdb_spark.operators import multimodal

    media = multimodal.synthesize_image_corpus(spark, n=64)
    h1 = {
        r["media_id"]: r["phash"]
        for r in multimodal.with_phash(media).collect()
    }
    h2 = {
        r["media_id"]: r["phash"]
        for r in multimodal.with_phash(media.repartition(13)).collect()
    }
    assert h1 == h2


def test_phash_hamming_is_exact_popcount(spark):
    """The banded join must agree with brute-force Hamming on the
    planted pairs (no band is allowed to drop a true pair at d<16)."""
    from opusdb_spark.operators import multimodal

    media = multimodal.synthesize_image_corpus(spark, n=64)
    hashed = multimodal.with_phash(media).collect()
    hs = {r["media_id"]: r["phash"] for r in hashed}
    brute = {
        (a, b): bin(((hs[a] ^ hs[b]) & ((1 << 64) - 1))).count("1")
        for a in hs
        for b in hs
        if a < b
    }
    want = {p: d for p, d in brute.items() if d <= 10}
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in multimodal.phash_near_dups(
            multimodal.with_phash(media), max_hamming=10
        ).collect()
    }
    assert got == want


def test_mahalanobis_matches_numpy_reference(spark):
    """The distributed covariance + fixed-point Arrow scoring must
    agree with a single-machine FLOAT numpy recomputation of the same
    regularized Mahalanobis distances to within the 2^-12 difference
    grid's error budget (~1e-3 on unit-scale scores — r11: the exact
    einsum became exact-integer matmuls for oracle replayability), and
    the top-20 must be the numpy top-20 under the same (distance desc,
    vec_id) order."""
    import numpy as np

    reg = registry()
    sf = SF
    rows = reg["emb_outlier_mahalanobis"].fn(spark, sf).collect()
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").collect()
    ids = np.array([r["vec_id"] for r in emb])
    X = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in emb])
    mu = X.mean(axis=0)
    Xc = X - mu
    # the query consumes emb_covariance's 6-dp-rounded matrix — round
    # here too, or inversion amplifies the grid difference to ~1e-4
    C = np.round((Xc.T @ Xc) / len(X), 6)
    lam = 1e-6 * float(np.trace(C)) / 64
    P = np.linalg.inv(C + lam * np.eye(64))
    d = np.sqrt(np.maximum(np.einsum("ij,jk,ik->i", X - mu, P, X - mu), 0))
    order = sorted(zip(ids, d), key=lambda t: (-round(t[1], 6), t[0]))[:20]
    want = [(int(i), round(float(v), 6)) for i, v in order]
    got = [(r["vec_id"], r["mahalanobis"]) for r in rows]
    for (wi, wv), (gi, gv) in zip(want, got):
        assert wi == gi
        assert abs(wv - gv) < 2e-3, (wi, wv, gv)


def test_mahalanobis_fixedpoint_is_exact_integer_arithmetic(spark):
    """The premise behind _maha_oracle's hash-exactness: the Arrow
    kernel's int64 matmuls compute the SAME integer a big-int (python
    arbitrary-precision) replay of dqᵀ·Pq·dq computes from the
    persisted model — i.e. no int64 overflow, no float rounding
    anywhere before the final int→double conversion. Replays every
    returned score from the artifact with exact arithmetic."""
    import math

    import numpy as np
    import pyarrow.parquet as paq

    from opusdb_spark.queries.llm import (
        _MAHA_D_SCALE,
        _MAHA_DIV,
        _ensure_maha_model,
    )

    reg = registry()
    sf = SF
    rows = reg["emb_outlier_mahalanobis"].fn(spark, sf).collect()
    mdir = _ensure_maha_model(spark, sf)
    pt = paq.read_table(f"{mdir}/precision.parquet").to_pandas()
    P = {}
    for i, j, pq in zip(pt["i"], pt["j"], pt["pq"]):
        P[(int(i), int(j))] = int(pq)
    mt = paq.read_table(f"{mdir}/mu.parquet").to_pandas()
    mu = {int(i): float(m) for i, m in zip(mt["i"], mt["mu"])}
    emb = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in spark.read.parquet(f"{sf}/embeddings.parquet").collect()
    }
    for r in rows:
        x = emb[r["vec_id"]]
        dq = [
            int(math.floor((float(x[i - 1]) - mu[i]) * _MAHA_D_SCALE + 0.5))
            for i in range(1, 65)
        ]
        s = sum(  # exact big-int quadratic form
            dq[i - 1] * P[(i, j)] * dq[j - 1]
            for i in range(1, 65)
            for j in range(1, 65)
        )
        assert abs(s) < 2**62, "int64 headroom premise violated"
        v = math.sqrt(max(s, 0) / _MAHA_DIV)
        assert r["mahalanobis"] == math.floor(v * 1e6 + 0.5) / 1e6


# ---------------------------------------- reference log-format source


def test_opusdb_log_roundtrip_and_reference_scan_order(tmp_path):
    """Writer/reader replicate log_mgr.clj byte-exactly: backward fill,
    boundary int, newest->oldest per the reference's Seqable scan
    (blocks last->first, records boundary->end; log_mgr_test.clj
    pins the same behaviors at block size 400)."""
    from opusdb_spark.sources import opusdb_log as olog

    path = str(tmp_path / "t.log")
    recs = [f"record-{i}".encode() for i in range(50)]
    olog.write_log(path, recs, block_size=400)
    size = (tmp_path / "t.log").stat().st_size
    assert size % 400 == 0 and size > 400, "expected multi-block spill"
    # reference scan: newest -> oldest
    blocks = []
    raw = (tmp_path / "t.log").read_bytes()
    for i in range(size // 400):
        blocks.append(olog.read_block(raw[i * 400 : (i + 1) * 400], 400))
    newest_first = [
        rec for blk in reversed(blocks) for (_off, rec) in blk
    ]
    assert newest_first == list(reversed(recs))


def test_opusdb_log_empty_and_tiny(tmp_path):
    from opusdb_spark.sources import opusdb_log as olog

    p = str(tmp_path / "e.log")
    olog.write_log(p, [], block_size=400)
    raw = (tmp_path / "e.log").read_bytes()
    assert len(raw) == 400
    assert olog.read_block(raw, 400) == []
    p2 = str(tmp_path / "one.log")
    olog.write_log(p2, [b"x"], block_size=400)
    raw2 = (tmp_path / "one.log").read_bytes()
    assert olog.read_block(raw2, 400) == [(395, b"x")]


def test_opusdb_log_datasource_partitions_per_block(spark, tmp_path):
    """One InputPartition per block — the block-parallel recovery scan
    the self-delimiting layout enables."""
    from opusdb_spark.sources import opusdb_log as olog

    path = str(tmp_path / "p.log")
    olog.write_log(
        path, [f"r{i}".encode() for i in range(200)], block_size=400
    )
    n_blocks = (tmp_path / "p.log").stat().st_size // 400
    assert n_blocks > 1
    olog.register(spark)
    df = (
        spark.read.format("opusdb_log")
        .option("path", path)
        .option("block_size", "400")
        .load()
    )
    assert df.rdd.getNumPartitions() == n_blocks
    assert df.count() == 200
    assert df.select("block_index").distinct().count() == n_blocks


def test_opusdb_log_writer_one_file_per_partition(spark, tmp_path):
    """df.write.format('opusdb_log') must produce one log file per
    partition, each independently parseable, with NO record lost or
    duplicated across the fan-out."""
    from opusdb_spark.sources import opusdb_log as olog

    out = str(tmp_path / "sink")
    olog.register(spark)
    df = spark.range(120).select(
        F.concat(F.lit("r"), F.col("id").cast("string"))
        .cast("binary")
        .alias("record")
    ).repartition(5)
    df.write.format("opusdb_log").option("path", out).option(
        "block_size", "400"
    ).mode("append").save()
    files = sorted(p.name for p in (tmp_path / "sink").iterdir())
    assert len(files) == 5 and all(f.endswith(".log") for f in files)
    back = (
        spark.read.format("opusdb_log")
        .option("path", out)
        .option("block_size", "400")
        .load()
    )
    got = sorted(
        bytes(r["record"]).decode() for r in back.collect()
    )
    assert got == sorted(f"r{i}" for i in range(120))


def test_opusdb_log_writer_commit_is_atomic(spark, tmp_path):
    """Task output must stay INVISIBLE until commit: write() lands in a
    temp name the reader's *.log glob skips, commit() renames into
    place, abort() removes the temp — so a crashed or speculative task
    can never leave a torn part-*.log behind."""
    from pyspark.sql import Row

    from opusdb_spark.sources import opusdb_log as olog

    out = str(tmp_path / "sink")
    writer = olog.OpusdbLogWriter({"path": out, "block_size": "400"})

    class _Ctx:
        def partitionId(self):
            return 0

        def taskAttemptId(self):
            return 7

    import pyspark

    orig = pyspark.TaskContext.get
    pyspark.TaskContext.get = staticmethod(lambda: _Ctx())
    try:
        msg = writer.write(iter([Row(record=b"rec-a"), Row(record=b"rec-b")]))
    finally:
        pyspark.TaskContext.get = orig

    files = sorted(p.name for p in (tmp_path / "sink").iterdir())
    assert files == [
        f"part-00000.log.tmp-{writer.job_tag}-7"
    ], "pre-commit file must be temp, tagged by job then attempt"
    assert not olog.OpusdbLogReader(
        {"path": out, "block_size": "400"}
    )._files(), "reader must not see uncommitted temp output"

    writer.commit([msg])
    files = sorted(p.name for p in (tmp_path / "sink").iterdir())
    assert files == ["part-00000.log"], "commit must atomically rename"

    # a second (aborted) attempt's temp is cleaned without touching the
    # committed file
    pyspark.TaskContext.get = staticmethod(lambda: _Ctx())
    try:
        msg2 = writer.write(iter([Row(record=b"late-dup")]))
    finally:
        pyspark.TaskContext.get = orig
    writer.abort([msg2])
    files = sorted(p.name for p in (tmp_path / "sink").iterdir())
    assert files == ["part-00000.log"], "abort must remove only its temp"


def test_opusdb_log_commit_all_or_nothing(tmp_path):
    """If any winning attempt's temp vanished before commit() (e.g. a
    foreign sweep reaped it), commit must raise BEFORE renaming
    anything — a partially-renamed sink would break the job-level
    atomicity the two-phase writer promises."""
    import os

    import pytest
    from pyspark.sql import Row

    from opusdb_spark.sources import opusdb_log as olog

    out = str(tmp_path / "sink")
    writer = olog.OpusdbLogWriter({"path": out, "block_size": "400"})

    class _Ctx:
        def __init__(self, pid):
            self.pid = pid

        def partitionId(self):
            return self.pid

        def taskAttemptId(self):
            return self.pid

    import pyspark

    orig = pyspark.TaskContext.get
    msgs = []
    try:
        for pid in (0, 1):
            pyspark.TaskContext.get = staticmethod(
                lambda pid=pid: _Ctx(pid)
            )
            msgs.append(writer.write(iter([Row(record=b"rec")])))
    finally:
        pyspark.TaskContext.get = orig

    os.remove(msgs[1].tmp)  # simulate a foreign reap of one staged tmp
    with pytest.raises(FileNotFoundError):
        writer.commit(msgs)
    names = sorted(p.name for p in (tmp_path / "sink").iterdir())
    assert "part-00000.log" not in names, (
        "no partition may be renamed when the commit fails its "
        "up-front existence check"
    )
    assert f"part-00000.log.tmp-{writer.job_tag}-0" in names, (
        "surviving staged tmp must be left in place for retry"
    )


def test_opusdb_log_commit_sweep_is_job_scoped(tmp_path):
    """commit()'s orphan sweep may only reap THIS job's leftover
    attempt temps: a concurrent writer's freshly-staged attempt must
    survive (deleting it would fail that job's commit after its tasks
    succeeded), while a day-stale temp from a crashed job is reaped
    (the horizon is 24 h — past any plausible job duration, so a
    straggler-heavy concurrent job's early-staged temps are safe)."""
    import os
    import time

    from pyspark.sql import Row

    from opusdb_spark.sources import opusdb_log as olog

    out = str(tmp_path / "sink")
    a = olog.OpusdbLogWriter({"path": out, "block_size": "400"})
    b = olog.OpusdbLogWriter({"path": out, "block_size": "400"})

    class _Ctx:
        def __init__(self, att):
            self.att = att

        def partitionId(self):
            return 0

        def taskAttemptId(self):
            return self.att

    import pyspark

    orig = pyspark.TaskContext.get
    try:
        pyspark.TaskContext.get = staticmethod(lambda: _Ctx(1))
        msg_a = a.write(iter([Row(record=b"job-a")]))
        # job A also leaves a LOSING attempt's temp behind
        pyspark.TaskContext.get = staticmethod(lambda: _Ctx(2))
        a.write(iter([Row(record=b"job-a-loser")]))
        # job B stages but has not committed yet
        pyspark.TaskContext.get = staticmethod(lambda: _Ctx(9))
        msg_b = b.write(iter([Row(record=b"job-b")]))
    finally:
        pyspark.TaskContext.get = orig

    # a crashed job's ancient temp
    stale = os.path.join(out, "part-00000.log.tmp-deadbeef0000-3")
    with open(stale, "wb") as f:
        f.write(b"x")
    old = time.time() - 25 * 3600
    os.utime(stale, (old, old))

    a.commit([msg_a])
    names = sorted(p.name for p in (tmp_path / "sink").iterdir())
    assert f"part-00000.log.tmp-{b.job_tag}-9" in names, (
        "concurrent job's staged attempt must survive A's sweep"
    )
    assert not any(a.job_tag in n for n in names if ".tmp-" in n), (
        "A's losing attempt must be swept"
    )
    assert "part-00000.log.tmp-deadbeef0000-3" not in names, (
        "day-stale crash leftover must be reaped"
    )
    # B's commit still succeeds (its temp was not deleted)
    b.commit([msg_b])
    assert (tmp_path / "sink" / "part-00000.log").exists()


def test_opusdb_log_append_equals_single_session(tmp_path):
    """Reopen-and-continue (make-log-mgr, log_mgr.clj:69-86) must be
    byte-for-byte identical to writing everything in one session."""
    from opusdb_spark.sources import opusdb_log as olog

    recs = [f"item-{i}".encode() for i in range(70)]
    a = tmp_path / "a.log"
    olog.write_log(str(a), recs, block_size=400)
    b = tmp_path / "b.log"
    olog.write_log(str(b), recs[:30], block_size=400)
    olog.append_log(str(b), recs[30:], block_size=400)
    assert a.read_bytes() == b.read_bytes()


def test_opusdb_log_stream_reads_exact_delta(spark, tmp_path):
    """The streaming offset (n_blocks, boundary) must hand batch 2
    exactly the appended records — none lost, none re-read."""
    from opusdb_spark.sources import opusdb_log as olog

    src = tmp_path / "src"
    src.mkdir()
    path = str(src / "t.log")
    olog.write_log(path, [f"x{i}".encode() for i in range(50)], 400)
    olog.register(spark)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run():
        q = (
            spark.readStream.format("opusdb_log")
            .option("path", str(src))
            .option("block_size", "400")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    schema = "file string, block_index int, offset int, record binary"
    run()
    first = {
        bytes(r["record"]).decode()
        for r in spark.read.schema(schema).parquet(out).collect()
    }
    assert first == {f"x{i}" for i in range(50)}
    olog.append_log(path, [f"x{i}".encode() for i in range(50, 75)], 400)
    run()
    rows = spark.read.schema(schema).parquet(out).collect()
    all_recs = [bytes(r["record"]).decode() for r in rows]
    assert len(all_recs) == 75, "duplicate or lost records across batches"
    assert set(all_recs) == {f"x{i}" for i in range(75)}


def test_opusdb_log_missing_path_fails_batch_but_streams_empty(spark, tmp_path):
    """A batch scan of a log that is not there is an error; only the
    stream reader treats a not-yet-created log as an empty stream (a
    tail may start before the first append). Both readers and the
    writer require a path."""
    from opusdb_spark.sources import opusdb_log as olog

    missing = str(tmp_path / "absent.log")
    olog.register(spark)
    with pytest.raises(Exception, match="absent.log"):
        spark.read.format("opusdb_log").option("path", missing).load().count()
    with pytest.raises(FileNotFoundError):
        olog.OpusdbLogReader({"path": missing}).partitions()
    tail = olog.OpusdbLogStreamReader({"path": missing})
    rows, end = tail.read(tail.initialOffset())
    assert list(rows) == [] and end == {}
    for cls in (
        olog.OpusdbLogReader,
        olog.OpusdbLogWriter,
        olog.OpusdbLogStreamReader,
    ):
        with pytest.raises(ValueError, match="requires a path"):
            cls({})


def test_mmr_select_matches_numpy_greedy(spark):
    """mmr_select's picks must equal an independent numpy greedy MMR
    (same lambda, same id tie-break) on the sf0.001 corpus."""
    import numpy as np

    from opusdb_spark.operators.similarity import mmr_select
    from opusdb_spark.tables import table as _table

    emb = _table(spark, SF, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    X = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    order = np.argsort(ids)
    ids, X = ids[order], X[order]
    norms = np.linalg.norm(X, axis=1)
    probe = X[ids == 0][0]
    pn = np.linalg.norm(probe)
    mask = (ids != 0) & (norms > 0)
    cids, CX, cn = ids[mask], X[mask], norms[mask]
    rel = (CX @ probe) / (cn * pn)
    lam = 0.7
    maxsim = np.zeros(len(cids))
    alive = np.ones(len(cids), dtype=bool)
    expect = []
    for _ in range(10):
        score = np.where(alive, lam * rel - (1 - lam) * maxsim, -np.inf)
        best = np.lexsort((cids, -score))[0]
        expect.append(int(cids[best]))
        alive[best] = False
        sims = (CX @ CX[best]) / (cn * cn[best])
        maxsim = np.maximum(maxsim, sims)
    got = [
        r.vec_id
        for r in mmr_select(emb, probe_id=0, k=10, lam=0.7)
        .orderBy("rank")
        .collect()
    ]
    assert got == expect


def _numpy_mmr_greedy(ids, X, probe, k, lam):
    """Unrestricted full-corpus greedy MMR (clamped penalty, score
    DESC / id ASC tie-break) — the reference mmr_select approximates."""
    import numpy as np

    norms = np.linalg.norm(X, axis=1)
    pn = np.linalg.norm(probe)
    mask = norms > 0
    cids, CX, cn = ids[mask], X[mask], norms[mask]
    rel = (CX @ probe) / (cn * pn)
    maxsim = np.zeros(len(cids))
    alive = np.ones(len(cids), dtype=bool)
    picks, scores = [], []
    for _ in range(k):
        score = np.where(alive, lam * rel - (1 - lam) * maxsim, -np.inf)
        best = np.lexsort((cids, -score))[0]
        picks.append(int(cids[best]))
        scores.append(float(score[best]))
        alive[best] = False
        sims = (CX @ CX[best]) / (cn * cn[best])
        maxsim = np.maximum(maxsim, np.maximum(sims, 0.0))
    return picks, scores


def test_mmr_pool_restriction_on_corpus_larger_than_pool(spark):
    """ADVICE r10: the sf corpora (500 vectors) fit inside the default
    pool_n=1024, so the pool-restricted regime was never exercised
    against unrestricted greedy. Run a seeded 400-vector corpus with
    pool_n=64 and (a) compare picks against full-corpus numpy greedy,
    (b) check the per-round optimality certificate — a restricted
    pick whose score strictly exceeds lam*rel(pool boundary) is
    PROVABLY identical to the unrestricted pick, because an
    out-of-pool candidate's clamped-penalty score is ≤ lam*rel and
    rel ≤ the boundary's. On isotropic data the certificate holds
    every round, so agreement here is a theorem check, not luck."""
    import numpy as np

    from opusdb_spark.operators.similarity import mmr_select

    rng = np.random.default_rng(7)
    n, dim, pool_n, k, lam = 400, 16, 64, 10, 0.7
    X = rng.standard_normal((n, dim)).astype(np.float32).astype(np.float64)
    ids = np.arange(n, dtype=np.int64)
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in X[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    out = (
        mmr_select(emb, probe_id=0, k=k, lam=lam, pool_n=pool_n)
        .orderBy("rank")
        .collect()
    )
    got = [r.vec_id for r in out]

    probe = X[0]
    cand_mask = ids != 0
    expect, _ = _numpy_mmr_greedy(ids[cand_mask], X[cand_mask], probe, k, lam)
    assert len(got) == k

    # Certificate: rel at the pool boundary (pool_n-th by rel DESC,
    # id ASC among candidates).
    norms = np.linalg.norm(X[cand_mask], axis=1)
    rel = (X[cand_mask] @ probe) / (norms * np.linalg.norm(probe))
    boundary_rel = np.sort(rel)[::-1][pool_n - 1]
    for r in out:
        assert r.mmr_score > lam * boundary_rel, (
            "certificate failed — restricted pick not provably optimal; "
            "tighten the corpus seed or assert the regret bound instead"
        )
    assert got == expect  # certificate held ⇒ this must follow


def test_mmr_pool_divergence_bounded_on_adversarial_corpus(spark):
    """ADVICE r10, the divergence regime: when every pool member
    carries a large diversity penalty (a near-duplicate pool), an
    out-of-pool vector with lower relevance but near-zero penalty CAN
    win unrestricted greedy — the pool restriction is an
    approximation. Construct exactly that corpus: 10 near-identical
    fillers (rel≈0.9, mutual sim≈1) crowd out an outsider (rel=0.8,
    sim≈0.46 to fillers) from a pool_n=8 pool. Assert the divergence
    happens AND its objective regret respects the documented bound:
    per-round regret ≤ (1−lam)·max_pool_penalty ≤ (1−lam)."""
    import numpy as np

    from opusdb_spark.operators.similarity import mmr_select

    lam, pool_n, k = 0.7, 8, 3
    rows = [(0, [1.0, 0.0, 0.0, 0.0])]  # probe
    for i in range(1, 11):  # fillers: rel ≈ 0.9, mutually ≈ identical
        rows.append((i, [0.9 - i * 1e-6, np.sqrt(0.19), i * 1e-7, 0.0]))
    rows.append((100, [0.8, -0.6, 0.0, 0.0]))  # outsider: rel 0.8
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    X = np.array([r[1] for r in rows], dtype=np.float64)
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(ids, X)],
        "vec_id long, embedding array<double>",
    )
    out = (
        mmr_select(emb, probe_id=0, k=k, lam=lam, pool_n=pool_n)
        .orderBy("rank")
        .collect()
    )
    got = [r.vec_id for r in out]
    cand = ids != 0
    expect, escores = _numpy_mmr_greedy(ids[cand], X[cand], X[0], k, lam)

    assert 100 not in got, "outsider is outside the top-8 rel pool"
    assert 100 in expect, "unrestricted greedy must pick the outsider"
    assert got != expect
    # Regret at the first divergent round, within the documented bound.
    first = next(i for i in range(k) if got[i] != expect[i])
    restricted_score = out[first].mmr_score
    regret = escores[first] - restricted_score
    assert 0 < regret <= (1 - lam)


def test_gram_queries_survive_short_documents(spark, tmp_path):
    """Documents with <3 whitespace tokens must be profiled (dropped
    from gram output), not crash the ANSI session with
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT (review finding r4: element_at
    beyond the array end on short docs; now try_element_at)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": ["hello world", "", "one", "a b c d e f g"],
            "lang": ["en"] * 4,
            "source": ["src0"] * 4,
            "n_chars": [11, 0, 3, 13],
        }
    )
    pq.write_table(
        pa.Table.from_pandas(docs), str(tmp_path / "documents.parquet")
    )
    reg = registry()
    for name in (
        "llm_dedup_ngram_jaccard",
        "llm_decontaminate",
        "llm_bigram_lm",
        "llm_ngram_novelty",
        "llm_boilerplate_strip",
    ):
        reg[name].fn(spark, str(tmp_path)).count()  # must not raise


def test_table_handles_memoized_no_repeat_footer_jobs(spark):
    """Every schema-inferring spark.read.parquet launches one
    footer-read JOB — 55-130 ms of scheduler floor per call on this VM
    — and register_views used to pay that 10× per query build (the
    r8→r11 'TPC-H drift', see bench.py's post-mortem). Pin the r12
    fix: a REPEAT register_views over unchanged files must launch
    ZERO jobs, and a repeat read_store must return the same handle
    until the store's stat changes."""
    import numpy as np
    import pandas as pd

    from opusdb_spark.sources.formats import read_store
    from opusdb_spark.tables import register_views

    st = spark.sparkContext.statusTracker()
    register_views(spark, SF)  # warm: resolves every schema once
    spark.sparkContext.setJobGroup("memo_probe", "repeat register_views")
    register_views(spark, SF)
    spark.sparkContext.setJobGroup("idle", "idle")
    assert st.getJobIdsForGroup("memo_probe") == [], (
        "repeat register_views launched footer jobs — table memo broken"
    )

    # read_store: same handle while the stat holds, fresh after rewrite
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        p = f"{d}/store.parquet"
        spark.createDataFrame(pd.DataFrame({"x": np.arange(5)})).write.parquet(p)
        a, b = read_store(spark, p), read_store(spark, p)
        assert a is b, "unchanged store must reuse the resolved handle"
        spark.createDataFrame(
            pd.DataFrame({"x": np.arange(7)})
        ).write.mode("overwrite").parquet(p)
        c = read_store(spark, p)
        assert c is not a, "rewritten store must re-resolve"
        assert c.count() == 7


def test_logreg_classifier_matches_numpy(spark):
    """train_logreg's weights and trace must match an independent
    numpy batch-GD implementation on the same hashed features."""
    import numpy as np

    from opusdb_spark.operators import classifier
    from opusdb_spark.queries.pipeline import _CLF_BUCKET
    from opusdb_spark.tables import table as _table

    docs = _table(spark, SF, "documents")
    y = F.when(F.col("source").isin("src0", "src1", "src2"), 1).otherwise(0)
    feats, labels = classifier.doc_features(docs, _CLF_BUCKET, y)
    rows = feats.collect()
    ids = sorted({r.doc_id for r in rows})
    idx = {d: i for i, d in enumerate(ids)}
    X = np.zeros((len(ids), classifier.N_BUCKETS))
    yv = np.zeros(len(ids))
    for r in rows:
        X[idx[r.doc_id], r.b] = r.x
        yv[idx[r.doc_id]] = r.y
    w = np.zeros(classifier.N_BUCKETS)
    b = 0.0
    n = len(ids)
    expect = []
    for _ in range(5):
        # the trainer snaps p to the 6-dp grid inside the loop (r12,
        # classifier.py docstring) — the reference must too, or the
        # recurrences drift apart legitimately
        p = np.round(1.0 / (1.0 + np.exp(-(X @ w + b))), 6)
        loss = -np.mean(
            yv * np.log(np.maximum(p, 1e-12))
            + (1 - yv) * np.log(np.maximum(1 - p, 1e-12))
        )
        acc = float(np.mean((p >= 0.5) == (yv == 1)))
        expect.append((round(float(loss), 6), round(acc, 6)))
        w = w - (X.T @ (p - yv)) / n
        b = b - float(np.sum(p - yv)) / n
    model, trace = classifier.train_logreg(spark, feats, labels)
    got = [(t["loss"], t["accuracy"]) for t in trace]
    assert [
        (round(l, 4), round(a, 4)) for l, a in got
    ] == [(round(l, 4), round(a, 4)) for l, a in expect]
    assert np.allclose(model[:-1], w, atol=1e-6)
    assert abs(model[-1] - b) < 1e-6
    assert trace[-1]["accuracy"] >= trace[0]["accuracy"] - 1e-9


# ------------------------------------------------ runtime bloom filter
def test_bloom_semi_reduce_no_false_negatives_any_sizing(spark):
    """The pruned fact must contain EVERY matching row regardless of
    filter sizing — false positives only. Probe with a deliberately
    tiny filter (high FP rate) and a generous one: both joins must
    produce identical results, and the pruned row count must sit
    between |matching rows| and |fact|."""
    from opusdb_spark.operators import runtime_filter as rtf
    from opusdb_spark.tables import table
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    li = table(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    dim = (
        table(spark, sf, "orders")
        .filter(F.col("o_totalprice") > 300000)
        .select("o_orderkey")
    )
    exact = li.join(
        dim, li["l_orderkey"] == dim["o_orderkey"], "left_semi"
    )
    n_exact, n_fact = exact.count(), li.count()
    assert 0 < n_exact < n_fact
    n_dim = dim.count()
    for bits_per_key in (2, 32):  # ~55% FP vs ~0.05% FP at k=4
        m_bits = max(rtf._MIN_BITS, bits_per_key * n_dim)
        bloom = rtf.bloom_build(dim, "o_orderkey", m_bits)
        pruned = rtf.bloom_prune(li, "l_orderkey", bloom, m_bits)
        n_pruned = pruned.count()
        assert n_exact <= n_pruned <= n_fact
        joined = pruned.join(
            dim, pruned["l_orderkey"] == dim["o_orderkey"], "left_semi"
        )
        assert joined.count() == n_exact, (
            f"bits_per_key={bits_per_key}: bloom dropped matching rows"
        )


def test_bloom_prune_empty_dim_prunes_everything(spark):
    """An empty dimension must yield an all-zero filter that rejects
    every fact row (the inner join would be empty anyway — the filter
    may not crash or pass rows through)."""
    from opusdb_spark.operators import runtime_filter as rtf
    from opusdb_spark.tables import table
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    li = table(spark, sf, "lineitem").select("l_orderkey")
    dim = (
        table(spark, sf, "orders")
        .filter(F.col("o_totalprice") < -1)
        .select("o_orderkey")
    )
    pruned = rtf.bloom_semi_reduce(li, "l_orderkey", dim, "o_orderkey")
    assert pruned.count() == 0


# ------------------------------------- driver-side FS chokepoint helpers


def test_list_store_files_contract(tmp_path):
    """The single driver-side listing seam: sorted (path, size) pairs,
    suffix-filtered, missing path -> empty (a store never built prunes
    to nothing), recursive and flat modes."""
    import os

    from opusdb_spark.sources.formats import list_store_files

    root = tmp_path / "store"
    (root / "sub").mkdir(parents=True)
    (root / "b.parquet").write_bytes(b"x" * 10)
    (root / "a.parquet").write_bytes(b"x" * 20)
    (root / "_fingerprint.json").write_bytes(b"{}")
    (root / "sub" / "c.parquet").write_bytes(b"x" * 5)

    flat = list_store_files(str(root), recursive=False)
    assert [os.path.basename(p) for p, _ in flat] == ["a.parquet", "b.parquet"]
    assert [s for _, s in flat] == [20, 10]

    rec = list_store_files(str(root))
    assert len(rec) == 3 and rec == sorted(rec)

    assert list_store_files(str(tmp_path / "never_built")) == []


def test_effective_max_split_bytes_tracks_spark_formula(spark):
    """effective split = min(maxPartitionBytes, max(openCost,
    bytesPerCore)) — the guard threshold must follow the conf, not a
    hardcoded 128 MB (with a small openCost a small store's real split
    is a few MB)."""
    from opusdb_spark.sources.formats import effective_max_split_bytes

    par = max(spark.sparkContext.defaultParallelism, 1)
    open_cost = 4 << 20
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(128 << 20))
    spark.conf.set("spark.sql.files.openCostInBytes", str(open_cost))
    try:
        # tiny store: bytesPerCore below openCost -> openCost floor
        assert effective_max_split_bytes(spark, [1000]) == open_cost
        # huge store: bytesPerCore above maxPartitionBytes -> capped
        assert (
            effective_max_split_bytes(spark, [(256 << 20) * par])
            == 128 << 20
        )
        # middle: exactly bytesPerCore
        sizes = [(16 << 20)] * par
        total = sum(sizes) + open_cost * len(sizes)
        assert effective_max_split_bytes(spark, sizes) == total // par
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
        spark.conf.unset("spark.sql.files.openCostInBytes")


# ------------------------------------------- continuous-aggregate rollup


def test_rollup_refresh_is_partition_surgical(spark, tmp_path):
    """refresh_rollup must rewrite ONLY the day partitions the delta
    touches: untouched day directories keep their files byte-identical
    (at 100 TB this is the difference between folding a batch and
    re-reading a year), new days appear, and merged partials equal a
    full recompute bit-for-bit."""
    import os
    from datetime import datetime

    from pyspark.sql import functions as F

    from opusdb_spark.operators import rollup

    def ev(rows):
        return spark.createDataFrame(
            rows,
            "ts timestamp, event_type string, value double, user_id long",
        )

    base = ev(
        [
            (datetime(2024, 1, d, h), t, float(d * 10 + h), d * 100 + h)
            for d in (1, 2, 3)
            for h in (0, 12)
            for t in ("a", "b")
        ]
    )
    store = str(tmp_path / "roll")
    rollup.build_rollup(base, store)

    def snapshot(day):
        p = os.path.join(store, f"day=2024-01-0{day}")
        return sorted(
            (f, os.path.getmtime(os.path.join(p, f)),
             os.path.getsize(os.path.join(p, f)))
            for f in os.listdir(p)
            if f.endswith(".parquet")
        )

    before = {d: snapshot(d) for d in (1, 2, 3)}

    # delta: folds into day 3, opens day 4; days 1-2 untouched
    delta = ev(
        [
            (datetime(2024, 1, 3, 6), "a", 1000.0, 999),
            (datetime(2024, 1, 4, 6), "c", 7.0, 7),
        ]
    )
    days = rollup.refresh_rollup(spark, store, delta)
    assert sorted(str(d) for d in days) == ["2024-01-03", "2024-01-04"]

    for d in (1, 2):
        assert snapshot(d) == before[d], f"day {d} was rewritten"
    assert snapshot(3) != before[3]
    assert os.path.isdir(os.path.join(store, "day=2024-01-04"))

    got = {
        (str(r.day), r.event_type): (
            r.n_events,
            r.sum_value_dec,
            r.min_value,
            r.max_value,
            r.n_users,
            tuple(sorted(r.value_ddsketch.items())),
        )
        for r in rollup.read_rollup(spark, store)
        .withColumn("n_users", F.hll_sketch_estimate("users_hll"))
        .collect()
    }
    # the quantile-sketch map must merge losslessly through the
    # full_outer refresh path too: compare against a from-scratch
    # partial build over the combined events (same _partial_agg)
    full_sketch = {
        (str(r.day), r.event_type): tuple(
            sorted(r.value_ddsketch.items())
        )
        for r in rollup._partial_agg(base.unionByName(delta)).collect()
    }
    full = {
        (str(r.day), r.event_type): (
            r.n_events,
            r.sum_value_dec,
            r.min_value,
            r.max_value,
            r.n_users,
            full_sketch[(str(r.day), r.event_type)],
        )
        for r in base.unionByName(delta)
        .groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(27,6)")).alias(
                "sum_value_dec"
            ),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .collect()
    }
    assert got == full


def test_rollup_refresh_empty_delta_is_noop(spark, tmp_path):
    from datetime import datetime

    from opusdb_spark.operators import rollup

    base = spark.createDataFrame(
        [(datetime(2024, 1, 1, 0), "a", 1.0, 1)],
        "ts timestamp, event_type string, value double, user_id long",
    )
    store = str(tmp_path / "roll")
    rollup.build_rollup(base, store)
    empty = base.filter("value < 0")
    assert rollup.refresh_rollup(spark, store, empty) == []
    assert rollup.read_rollup(spark, store).count() == 1


def test_rollup_backfill_replaces_only_restated_days(spark, tmp_path):
    """backfill_rollup must REPLACE (not merge) the restated day's
    partition and leave every other day's files byte-identical."""
    import os
    from datetime import date, datetime

    from pyspark.sql import functions as F

    from opusdb_spark.operators import rollup

    base = spark.createDataFrame(
        [
            (datetime(2024, 1, d, 0), "a", float(d), d)
            for d in (1, 2, 3)
        ],
        "ts timestamp, event_type string, value double, user_id long",
    )
    store = str(tmp_path / "roll")
    rollup.build_rollup(base, store)

    def snapshot(day):
        p = os.path.join(store, f"day=2024-01-0{day}")
        return sorted(
            (f, os.path.getmtime(os.path.join(p, f)))
            for f in os.listdir(p)
            if f.endswith(".parquet")
        )

    before = {d: snapshot(d) for d in (1, 2, 3)}
    corrected = base.withColumn(
        "value",
        F.when(
            F.to_date("ts") == F.lit(date(2024, 1, 2)),
            F.col("value") * 10,
        ).otherwise(F.col("value")),
    )
    rollup.backfill_rollup(spark, store, corrected, [date(2024, 1, 2)])

    assert snapshot(1) == before[1] and snapshot(3) == before[3]
    assert snapshot(2) != before[2]
    got = {
        str(r.day): float(r.sum_value_dec)
        for r in rollup.read_rollup(spark, store).collect()
    }
    assert got == {"2024-01-01": 1.0, "2024-01-02": 20.0, "2024-01-03": 3.0}


def test_rollup_refresh_keeps_one_parquet_schema(spark, tmp_path):
    """Build writes SUM(decimal(27,6)) which Spark widens to (37,6);
    refresh merges at (27,6). Both sites must emit the SAME store
    type, or partitions disagree and reads crash once a refreshed
    file becomes the schema-inference sample — the regression here
    refreshes the FIRST day (the sampled partition) and reads back."""
    from datetime import datetime

    from opusdb_spark.operators import rollup

    def ev(rows):
        return spark.createDataFrame(
            rows,
            "ts timestamp, event_type string, value double, user_id long",
        )

    store = str(tmp_path / "roll")
    rollup.build_rollup(
        ev([(datetime(2024, 1, d, 0), "a", 1.5, d) for d in (1, 2, 3)]),
        store,
    )
    rollup.refresh_rollup(
        spark, store, ev([(datetime(2024, 1, 1, 6), "a", 2.5, 9)])
    )
    rows = rollup.read_rollup(spark, store).collect()  # must not raise
    assert {str(r.day): float(r.sum_value_dec) for r in rows} == {
        "2024-01-01": 4.0,
        "2024-01-02": 1.5,
        "2024-01-03": 1.5,
    }


def test_rollup_refresh_batch_id_makes_replay_idempotent(spark, tmp_path):
    """A replayed foreachBatch delivery (same batch_id) must be
    skipped — folding it twice would double-count; a LATER batch_id
    folds normally."""
    from datetime import datetime

    from opusdb_spark.operators import rollup

    def ev(v):
        return spark.createDataFrame(
            [(datetime(2024, 1, 1, 0), "a", v, 1)],
            "ts timestamp, event_type string, value double, user_id long",
        )

    store = str(tmp_path / "roll")
    assert rollup.refresh_rollup(spark, store, ev(1.0), batch_id=0)
    assert rollup.refresh_rollup(spark, store, ev(1.0), batch_id=0) == []
    assert rollup.refresh_rollup(spark, store, ev(2.0), batch_id=1)
    rows = rollup.read_rollup(spark, store).collect()
    assert len(rows) == 1 and float(rows[0].sum_value_dec) == 3.0


def test_rollup_backfill_removes_fully_voided_day(spark, tmp_path):
    """A restated day whose corrected slice has NO rows (all events
    voided) produces no partial row; dynamic overwrite alone would
    leave the stale partition — backfill must delete it."""
    from datetime import date, datetime

    from opusdb_spark.operators import rollup

    base = spark.createDataFrame(
        [(datetime(2024, 1, d, 0), "a", float(d), d) for d in (1, 2)],
        "ts timestamp, event_type string, value double, user_id long",
    )
    store = str(tmp_path / "roll")
    rollup.build_rollup(base, store)
    voided = base.filter("value < 0")  # day 2's correction: nothing left
    rollup.backfill_rollup(spark, store, voided, [date(2024, 1, 2)])
    rows = rollup.read_rollup(spark, store).collect()
    assert {str(r.day) for r in rows} == {"2024-01-01"}


def test_rollup_refresh_surfaces_foreign_store_errors(spark, tmp_path):
    """A store that exists but cannot be read as this rollup's schema
    (e.g. an HOURLY store refreshed at day grain) must raise, NEVER be
    mistaken for 'first batch' and silently overwritten."""
    from datetime import datetime

    import pytest

    from opusdb_spark.operators import rollup

    base = spark.createDataFrame(
        [(datetime(2024, 1, 1, 5), "a", 1.0, 1)],
        "ts timestamp, event_type string, value double, user_id long",
    )
    store = str(tmp_path / "roll")
    rollup.build_rollup(base, store, grain="hour")
    with pytest.raises(Exception):
        rollup.refresh_rollup(spark, store, base)  # day grain vs hourly
    # the hourly store survives untouched
    assert rollup.read_rollup(spark, store, grain="hour").count() == 1


def test_psi_drift_detects_planted_shift(spark, tmp_path):
    """dq_psi_drift must flag a distribution that actually moved: the
    second time-half's values are shifted +200 for one type and left
    identical for another — the shifted type must read 'shifted'
    (PSI >= 0.25) and the stationary one 'stable' (PSI < 0.1)."""
    from datetime import datetime, timedelta

    from opusdb_spark.queries.pipeline import dq_psi_drift

    t0 = datetime(2024, 1, 1)
    rows = []
    for i in range(400):
        ts = t0 + timedelta(hours=i)
        late = i >= 200
        # 'moved': uniform-ish 0-100 early, 200-300 late; 'flat': same
        # 0-100 distribution in both halves
        rows.append((ts, "moved", float(i % 100) + (200.0 if late else 0.0)))
        rows.append((ts, "flat", float(i % 100)))
    df = spark.createDataFrame(
        rows, "ts timestamp, event_type string, value double"
    ).withColumn("event_id", F.monotonically_increasing_id())
    sf_dir = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{sf_dir}/events.parquet")

    got = {
        r["event_type"]: (r["psi"], r["verdict"])
        for r in dq_psi_drift(spark, sf_dir).collect()
    }
    assert got["flat"][1] == "stable", got
    assert got["moved"][1] == "shifted", got
    assert got["moved"][0] > got["flat"][0]


def test_scene_cuts_recover_planted_boundaries(spark):
    """The shot detector must recover EXACTLY the planted scene
    boundaries of the scene-structured synthetic video: scene length is
    3 + media_id % 3, so the cut frames are every multiple of it (the
    frame where a new base image replaced the old one)."""
    from opusdb_spark.operators import multimodal

    media = multimodal.synthesize_scene_video(spark, n=12)
    cuts = multimodal.scene_cuts(media, threshold=20.0).collect()
    got: dict[int, list[int]] = {}
    n_frames: dict[int, int] = {}
    for r in cuts:
        n_frames[r["media_id"]] = max(
            n_frames.get(r["media_id"], 0), r["frame_id"] + 1
        )
        if r["is_cut"]:
            got.setdefault(r["media_id"], []).append(r["frame_id"])
    assert len(n_frames) == 12
    for mid in n_frames:
        scene_len = 3 + mid % 3
        expect = [
            f for f in range(1, 8 + mid % 8) if f % scene_len == 0
        ]
        assert sorted(got.get(mid, [])) == expect, (
            mid,
            scene_len,
            got.get(mid),
        )


def test_frame_deltas_match_reference_decode(spark):
    """The distributed detector's deltas equal the pure-numpy reference
    kernel over the same blobs (same decode, same float math)."""
    from opusdb_spark.operators import multimodal

    media = multimodal.synthesize_scene_video(spark, n=6)
    rows = media.collect()
    dist = {
        (r["media_id"], r["frame_id"]): r["delta"]
        for r in multimodal.scene_cuts(media).collect()
    }
    for r in rows:
        for f, d in multimodal.frame_deltas_np(r["content"]):
            assert dist[(r["media_id"], f)] == round(d, 6)


def test_scene_cuts_keep_single_frame_media_visible(spark):
    """A media with ONE decodable frame has no deltas, but must still
    appear in the detector output (frame-0 row, NULL delta, no cut) —
    a per-media rollup over cut rows alone would silently drop it."""
    from opusdb_spark.operators import multimodal

    # synthesize_media emits genuine 1-frame videos (n_frames = 1+i%8)
    media = multimodal.synthesize_media(spark, n=24).filter(
        "kind = 'video'"
    )
    expected = {
        r["media_id"]: r["n_frames"] for r in media.collect()
    }
    rows = multimodal.scene_cuts(media).collect()
    got: dict[int, int] = {}
    for r in rows:
        got[r["media_id"]] = got.get(r["media_id"], 0) + 1
        if r["frame_id"] == 0:
            assert r["delta"] is None and not r["is_cut"]
    assert got == expected  # one row per frame, nobody dropped


def test_mmr_select_pool_restriction_matches_numpy(spark):
    """With pool_n smaller than the corpus, mmr_select must equal
    numpy greedy MMR restricted to the top-pool_n relevance pool
    (rel DESC, id ASC) — the r10 scale shape: one corpus pass, then
    pool-sized rounds."""
    import numpy as np

    from opusdb_spark.operators.similarity import mmr_select
    from opusdb_spark.tables import table as _table

    emb = _table(spark, SF, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    X = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    order = np.argsort(ids)
    ids, X = ids[order], X[order]
    norms = np.linalg.norm(X, axis=1)
    probe = X[ids == 0][0]
    pn = np.linalg.norm(probe)
    mask = (ids != 0) & (norms > 0)
    cids, CX, cn = ids[mask], X[mask], norms[mask]
    rel = (CX @ probe) / (cn * pn)
    pool_n = 16
    top = np.lexsort((cids, -rel))[:pool_n]
    cids, CX, cn, rel = cids[top], CX[top], cn[top], rel[top]
    lam = 0.7
    maxsim = np.zeros(len(cids))
    alive = np.ones(len(cids), dtype=bool)
    expect = []
    for _ in range(10):
        score = np.where(alive, lam * rel - (1 - lam) * maxsim, -np.inf)
        best = np.lexsort((cids, -score))[0]
        expect.append(int(cids[best]))
        alive[best] = False
        sims = (CX @ CX[best]) / (cn * cn[best])
        maxsim = np.maximum(maxsim, sims)
    got = [
        r.vec_id
        for r in mmr_select(emb, probe_id=0, k=10, lam=0.7, pool_n=pool_n)
        .orderBy("rank")
        .collect()
    ]
    assert got == expect


def test_delete_vectors_sidecar_invalidates_on_store_rebuild(spark):
    """A store rebuilt with unchanged SOURCES but a different physical
    layout (lost marker, other-session rebuild with different splits)
    re-shuffles (file_path, row_index) positions; the sidecar must be
    invalidated by the store's layout fingerprint, or the anti-join
    suppresses the wrong rows (advisor finding, r9)."""
    import json
    import os
    import shutil

    from opusdb_spark.sources.formats import corpus_scratch_path, stat_fingerprint
    from opusdb_spark.tables import table as _table

    q = registry()["scan_delete_vectors"].fn
    expect = sorted(map(tuple, q(spark, SF).collect()))

    store = corpus_scratch_path("dv_orders", SF)
    # simulate a foreign rebuild: same sources, same (valid) marker,
    # DIFFERENT physical layout — positions now mean different rows
    shutil.rmtree(store)
    (
        _table(spark, SF, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartition(3)
        .write.mode("overwrite")
        .parquet(store)
    )
    fp = stat_fingerprint(f"{SF}/orders.parquet", layout="dv_store")
    with open(os.path.join(store, "_fingerprint.json"), "w") as f:
        json.dump(json.loads(json.dumps(fp)), f)

    got = sorted(map(tuple, q(spark, SF).collect()))
    assert got == expect


# -------------------------- handle-memo staleness regression
# The rollup store is refreshed IN PLACE (dynamic partition overwrite)
# yet read through the one read_store memo; these tests FAIL if any
# future change lets a memoized handle serve a pre-refresh listing.


def test_rollup_memo_sees_in_place_refresh(spark, tmp_path):
    """read_rollup is handle-memoized through read_store. Every
    maintenance mode (refresh fold, backfill replace, clear-and-
    rebuild) must invalidate the memo in the SAME session — a stale hit
    here is a silent wrong answer."""
    import shutil
    from datetime import date, datetime

    from pyspark.sql import functions as F

    from opusdb_spark.operators import rollup

    def ev(rows):
        return spark.createDataFrame(
            rows,
            "ts timestamp, event_type string, value double, user_id long",
        )

    store = str(tmp_path / "roll_memo")
    base = ev(
        [
            (datetime(2024, 1, d, h), "a", float(d), d)
            for d in (1, 2)
            for h in (0, 12)
        ]
    )
    rollup.build_rollup(base, store)

    def day_counts():
        return {
            str(r.day): r.n_events
            for r in rollup.read_rollup(spark, store)
            .groupBy("day")
            .agg(F.sum("n_events").alias("n_events"))
            .collect()
        }

    assert day_counts() == {"2024-01-01": 2, "2024-01-02": 2}
    # unchanged store -> the memoized handle: no footer-read job
    sc = spark.sparkContext
    sc.setJobGroup("rollup_memo_probe", "repeat read_rollup")
    rollup.read_rollup(spark, store)
    sc.setJobGroup("idle", "idle")
    assert sc.statusTracker().getJobIdsForGroup("rollup_memo_probe") == [], (
        "repeat read_rollup on an unchanged store launched jobs"
    )

    # in-place fold: dynamic partition overwrite of day 2 only
    rollup.refresh_rollup(
        spark, store, ev([(datetime(2024, 1, 2, 6), "a", 9.0, 99)])
    )
    assert day_counts() == {"2024-01-01": 2, "2024-01-02": 3}, (
        "read_rollup served a pre-refresh listing after an in-place "
        "partition fold"
    )

    # backfill replace: day 1 recomputed from corrected raw
    rollup.backfill_rollup(
        spark,
        store,
        ev([(datetime(2024, 1, 1, 3), "a", 5.0, 5)]),
        [date(2024, 1, 1)],
    )
    assert day_counts() == {"2024-01-01": 1, "2024-01-02": 3}

    # clear-and-rebuild (the scratch_sink lifecycle): the memoized
    # pre-clear handle pins now-deleted part-file names and would
    # throw (or worse, silently read nothing) if served
    shutil.rmtree(store)
    rollup.build_rollup(
        ev([(datetime(2024, 1, 7, 0), "b", 1.0, 1)]), store
    )
    assert day_counts() == {"2024-01-07": 1}, (
        "read_rollup served a handle from before the store was cleared"
    )


def test_rollup_read_sees_foreign_in_place_rewrite(spark, tmp_path):
    """A rollup store rewritten in place by an external writer (not
    through build/refresh/backfill) must be seen by the next read in
    the same session."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from opusdb_spark.operators import rollup

    store = str(tmp_path / "roll_foreign")
    ev = spark.createDataFrame(
        [(datetime(2024, 3, 1, 0), "a", 1.0, 1)],
        "ts timestamp, event_type string, value double, user_id long",
    )
    rollup._partial_agg(ev).write.partitionBy("day").mode(
        "overwrite"
    ).parquet(store)
    r1 = rollup.read_rollup(spark, store)
    assert r1.agg(F.sum("n_events")).first()[0] == 1
    # foreign in-place rewrite: next read must see it
    ev2 = spark.createDataFrame(
        [
            (datetime(2024, 3, 1, 0), "a", 1.0, 1),
            (datetime(2024, 3, 1, 5), "a", 2.0, 2),
        ],
        "ts timestamp, event_type string, value double, user_id long",
    )
    rollup._partial_agg(ev2).write.partitionBy("day").mode(
        "overwrite"
    ).parquet(store)
    assert (
        rollup.read_rollup(spark, store).agg(F.sum("n_events")).first()[0]
        == 2
    )


def test_ann_rebuild_is_seen_by_sub_store_reads(spark, tmp_path):
    """An index rebuilt under a different fingerprint in the SAME
    session must be what the next sub-store read sees — never the
    memoized handle of the previous build."""
    import os

    from opusdb_spark.operators import ann_index
    from opusdb_spark.sources.formats import read_store
    from opusdb_spark.tables import table

    def emb(n):
        return table(spark, SF, "embeddings").filter(F.col("vec_id") < n)

    idx = str(tmp_path / "ann")
    fp = {**ann_index.source_fingerprint(SF), "rows": 400}
    ann_index.ensure_index(spark, emb(400), idx, fp)
    by_id = os.path.join(idx, "by_id")
    assert read_store(spark, by_id).count() == 400
    assert ann_index.fetch_vector(spark, idx, 350)

    ann_index.ensure_index(spark, emb(300), idx, {**fp, "rows": 300})
    assert read_store(spark, by_id).count() == 300, (
        "sub-store read served the previous build"
    )
    with pytest.raises(KeyError):
        ann_index.fetch_vector(spark, idx, 350)
    assert not [n for n in os.listdir(tmp_path) if ".tmp-" in n], (
        "rebuild left its staging dir behind"
    )


def test_read_store_tag_survives_same_tick_rewrite(spark, tmp_path):
    """ADVICE r12: read_store's invalidation must not depend on
    filesystem timestamp granularity. A delete-and-rewrite whose
    top-level (mtime_ns, size) pair is forced back to the pre-rewrite
    values — the coarse-timestamp-tick collision — must still miss the
    memo, because the child-stat fingerprint (and inode) changed."""
    import os

    from opusdb_spark.sources.formats import read_store, store_stat_tag

    store = str(tmp_path / "wo_store")
    spark.range(3).coalesce(1).write.parquet(store)
    st0 = os.stat(store)
    tag0 = store_stat_tag(store)
    h1 = read_store(spark, store)
    assert read_store(spark, store) is h1  # memo hit while unchanged

    # rewrite in place: new part-file names, then force the directory
    # mtime back to the original tick (size of a dir inode is layout-
    # dependent and typically unchanged anyway)
    spark.range(5).coalesce(1).write.mode("overwrite").parquet(store)
    os.utime(store, ns=(st0.st_atime_ns, st0.st_mtime_ns))
    st1 = os.stat(store)
    assert st1.st_mtime_ns == st0.st_mtime_ns  # collision simulated
    assert store_stat_tag(store) != tag0, (
        "child-stat fingerprint failed to distinguish the rewrite"
    )
    h2 = read_store(spark, store)
    assert h2 is not h1, "read_store served the pre-rewrite listing"
    assert h2.count() == 5


def test_runtime_confs_pin_arrow_byte_cap():
    """The Arrow byte-cap (session.py RUNTIME_CONFS) guards a measured
    19× JVM→Python transfer cliff on binary-blob tables: batches above
    netty's 16 MB pooled-chunk limit fall into unpooled copy-on-grow
    allocations. A perf cliff can't be unit-timed reliably, so pin the
    CONF: it must be present and strictly below the 16 MB limit (with
    2× headroom for vector-grow overshoot)."""
    from opusdb_spark.session import RUNTIME_CONFS

    cap = RUNTIME_CONFS.get("spark.sql.execution.arrow.maxBytesPerBatch")
    assert cap is not None, "arrow byte cap dropped from RUNTIME_CONFS"
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "b": 1}
    v = cap.strip().lower()
    mult = units.get(v[-1], 1)
    num = v[:-1] if v[-1] in units else v
    assert int(num) * mult <= (8 << 20), (
        f"arrow byte cap {cap} leaves <2x headroom under the 16 MB "
        "netty pooled-chunk limit"
    )
