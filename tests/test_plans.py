"""Physical-plan quality gates — the 100 TB story is in the plan.

Each test asserts the *shape* of the executed plan, not timing:
filters reach the parquet scan, projections prune the read schema,
small dims broadcast, top-k avoids global sorts, windows use group
limits. A regression here is a silent 100× at scale even when sf0.01
results stay correct.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opusdb_spark.plans import explain_str as plan
from opusdb_spark.registry import registry
from opusdb_spark.tables import table

SF = "/root/testdata/sf0.001"

_Q = registry()


def test_filter_pushdown_reaches_scan(spark):
    p = plan(_Q["scan_filter_pushdown"].fn(spark, SF))
    assert "PushedFilters:" in p
    assert "GreaterThanOrEqual(l_shipdate" in p.replace("\n", " ")


def test_column_pruning(spark):
    p = plan(_Q["scan_prune"].fn(spark, SF))
    read_schema = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in read_schema
    assert "l_extendedprice" not in read_schema, "pruned column still read"
    assert "l_comment" not in read_schema


def test_q1_prunes_untouched_columns(spark):
    p = plan(_Q["agg_q1"].fn(spark, SF))
    read_schema = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "l_partkey" not in read_schema, "agg_q1 reads columns it never uses"
    assert "l_suppkey" not in read_schema


def test_broadcast_join_used_for_small_dim(spark):
    p = plan(_Q["join_broadcast"].fn(spark, SF))
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p


def test_multiway_broadcasts_dims(spark):
    p = plan(_Q["join_multiway"].fn(spark, SF))
    assert "BroadcastHashJoin" in p, "dims should broadcast, not shuffle"


def test_sort_merge_hint_respected(spark):
    p = plan(_Q["join_sort_merge"].fn(spark, SF))
    assert "SortMergeJoin" in p


def test_topk_uses_take_ordered(spark):
    p = plan(_Q["topk_global"].fn(spark, SF))
    assert "TakeOrderedAndProject" in p, "global top-k must not be a full sort"


def test_window_topk_uses_group_limit(spark):
    p = plan(_Q["win_topk_group"].fn(spark, SF))
    assert "WindowGroupLimit" in p, "rn<=k filter should push into the window"


def test_q1_whole_stage_codegen(spark):
    # With AQE the codegen spans only appear in the *final* plan, so
    # execute first, then read the executed plan.
    df = _Q["agg_q1"].fn(spark, SF)
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    # "*(n)" prefixes mark whole-stage-codegen stages in plan strings.
    assert "*(1)" in p, "agg pipeline fell out of codegen"
    assert "*(2)" in p, "final aggregate fell out of codegen"


def test_q1_partial_aggregation(spark):
    p = plan(_Q["agg_q1"].fn(spark, SF), mode="simple")
    # partial_ functions before the exchange = map-side combine
    assert "partial_" in p, "no map-side partial aggregation"


def test_semi_join_planned_as_semi(spark):
    p = plan(_Q["join_semi"].fn(spark, SF))
    assert "LeftSemi" in p


def test_scan_events_single_shuffle(spark):
    p = plan(_Q["scan_events_ordered"].fn(spark, SF), mode="simple")
    assert p.count("Exchange") <= 1, "ordered scan needs exactly one range exchange"


def test_asof_join_single_shuffle_per_side(spark):
    """The as-of join must not explode into a range join: one union, one
    window (one hash partitioning on the key), no nested-loop join."""
    p = plan(_Q["join_asof"].fn(spark, SF), mode="simple")
    assert "NestedLoop" not in p
    assert "CartesianProduct" not in p
    assert "Window" in p


def test_asof_nearest_single_exchange(spark):
    """operators/asof.py claims nearest's two directional carries share
    ONE shuffle (same key partitioning, two sort orders → Catalyst
    reuses the Exchange). That reuse is conf- and version-sensitive; if
    it silently breaks the operator costs 2× shuffle at scale and
    nothing else fails. Pin it on clean scans (no upstream shuffle so
    the count isolates the windows — join_asof_nearest the query adds
    one prep aggregation Exchange on top)."""
    from opusdb_spark.operators.asof import asof_join

    ev = table(spark, SF, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id").alias("p_event"),
        F.col("value").alias("p_value"),
    )
    df = asof_join(
        views,
        purchases,
        on="user_id",
        left_time="ts",
        right_time="ts",
        right_values=["p_event", "p_value"],
        direction="nearest",
    )
    p = plan(df, mode="simple")
    assert p.count("Exchange") == 1, (
        f"nearest as-of should shuffle ONCE on the key; plan has "
        f"{p.count('Exchange')} Exchanges:\n{p}"
    )
    assert p.count("Window") == 2, "both directional carries must plan"


def test_fuzzy_dedup_never_all_pairs(spark):
    """Candidate generation must stay bucket-local: an accidental
    cross/nested-loop join is the O(n²) cliff at corpus scale."""
    p = plan(_Q["llm_dedup_fuzzy"].fn(spark, SF), mode="simple")
    assert "CartesianProduct" not in p
    assert "NestedLoop" not in p


def test_simhash_dedup_never_all_pairs(spark):
    p = plan(_Q["llm_dedup_simhash"].fn(spark, SF), mode="simple")
    assert "CartesianProduct" not in p
    assert "NestedLoop" not in p


def test_lsh_similarity_candidates_need_no_join(spark):
    # With the persisted index, candidate generation is a partition-
    # pruned scan of the probe's buckets — no join of any kind in the
    # probe plan (the pre-index shape needed a bucket equi-join; the
    # pruning itself is pinned in test_ann_probes_are_partition_pruned).
    p = plan(_Q["llm_simsearch_lsh"].fn(spark, SF), mode="simple")
    assert "CartesianProduct" not in p
    assert "Join" not in p, "probe path should be a pruned scan, not a join"


def test_exact_dedup_single_shuffle(spark):
    p = plan(_Q["llm_dedup_exact"].fn(spark, SF), mode="simple")
    assert p.count("Exchange") <= 1, "hash dedup is one groupBy shuffle"


def test_wordcount_partial_aggregation(spark):
    p = plan(_Q["llm_wordcount"].fn(spark, SF), mode="simple")
    assert "partial_" in p, "word counts must combine map-side"


def test_theta_join_is_banded_equi_join(spark):
    """The ±band self-join must run as a bucket hash join, not a
    nested loop over all pairs."""
    p = plan(_Q["join_theta"].fn(spark, SF), mode="simple")
    assert "NestedLoop" not in p
    assert "CartesianProduct" not in p


def test_bucketed_join_has_no_exchange(spark):
    """Bucketed scans must satisfy the join's distribution: the sort-
    merge join runs with ZERO Exchange below it (the one organizing
    shuffle was paid at write time; every later join on the key rides
    free). Only the final groupBy on a different key may shuffle."""
    df = _Q["join_bucketed_colocated"].fn(spark, SF)
    p = plan(df, mode="simple")
    join_part = p.split("SortMergeJoin")[-1]
    assert "SortMergeJoin" in p
    assert "Exchange" not in join_part, "bucketed join still shuffles"
    assert p.count("Exchange") <= 1, "only the priority groupBy may shuffle"


def test_partitioned_join_uses_dynamic_pruning(spark):
    """The fact scan must carry a dynamicpruning subquery on its
    partition column — at scale, reading one status directory instead
    of the table."""
    p = plan(_Q["join_partition_pruned"].fn(spark, SF))
    assert "dynamicpruning" in p, "DPP did not engage on the partition column"


def test_correlated_subquery_decorrelated(spark):
    # r13: the correlated aggregate is evaluated as a single-pass
    # window over l_partkey (subqueries._SUB_CORRELATED_WINDOW) — one
    # lineitem scan, one hash exchange, a Window, and NO join or
    # per-row subplan. The DuckDB oracle keeps the correlated form, so
    # the subquery semantics stay value-checked end-to-end.
    p = plan(_Q["sub_correlated"].fn(spark, SF), mode="simple")
    assert "Window" in p
    assert "Join" not in p, "window form must not re-introduce a join"
    assert p.count("Exchange") == 1, "one hash shuffle of the fact"
    assert "Subquery" not in p or "SubqueryExec" not in p


def test_ann_probes_are_partition_pruned(spark):
    """Persisted-ANN probes must read ONLY the probe's bucket/cell
    partitions: the index scan carries literal PartitionFilters on
    (table_id, bucket) / cell. At 100 TB this is the difference between
    touching L directories and re-hashing the corpus per query."""
    import re

    from opusdb_spark.operators import ann_index
    from opusdb_spark.tables import table as _t

    sf = SF
    idx = ann_index.ensure_index(
        spark,
        _t(spark, sf, "embeddings"),
        ann_index.index_dir_for(sf),
        ann_index.source_fingerprint(sf),
    )
    vec = ann_index.fetch_vector(spark, idx, 0)

    p_lsh = plan(ann_index.lsh_probe(spark, idx, vec, 10, exclude_id=0))
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", p_lsh.replace("\n", " "))
    assert m and "table_id" in m.group(1) and "bucket" in m.group(1), (
        "LSH probe scan is not partition-pruned"
    )

    p_ivf = plan(ann_index.ivf_probe(spark, idx, vec, 10, exclude_id=0))
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", p_ivf.replace("\n", " "))
    assert m and "cell" in m.group(1), "IVF probe scan is not partition-pruned"


def test_ann_probe_vector_fetch_pushes_id_filter(spark):
    """The by-id probe fetch must push the id equality into the scan
    (min/max row-group pruning on the sorted store)."""
    import os

    from opusdb_spark.operators import ann_index
    from pyspark.sql import functions as _F

    idx = ann_index.index_dir_for(SF)
    df = (
        spark.read.parquet(os.path.join(idx, "by_id"))
        .filter(_F.col("vec_id") == 0)
    )
    p = plan(df)
    assert "PushedFilters:" in p and "EqualTo(vec_id,0)" in p.replace("\n", " ")


def test_conservation_has_no_global_row_window(spark, monkeypatch):
    """Past the adaptive single-sort threshold the conservation running
    sum must be a two-level prefix sum: every window ordered over write
    points carries a partition column (per-key deltas, per-range local
    prefixes). The only partition-less window allowed is the
    range-offset one, which orders by _grp over <= n_ranges aggregated
    rows (model-sized) — a partition-less window ordered by the raw
    write_point would serialize every write point through one task at
    scale. The threshold is shrunk here to force the scale path on sf
    data; the default path at small spans is pinned below."""
    import re

    from opusdb_spark import mvcc as M

    monkeypatch.setattr(M, "_SINGLE_SORT_MAX_VERSIONS", 1)
    df = _Q["mvcc_conservation"].fn(spark, SF)
    p = df._jdf.queryExecution().executedPlan().toString()
    bad = [
        m
        for m in re.finditer(r"windowspecdefinition\((\w+)#\d+L? ASC", p)
        if m.group(1) == "write_point"
    ]
    assert not bad, "found a partition-less window ordered over all write points"
    assert "windowspecdefinition(_grp" in p, "per-range local prefix window missing"


def test_conservation_small_span_takes_single_sort_path(spark):
    """Under the threshold (the sf test data) the adaptive choice is the
    plain single-task running sum — no range machinery, no internal
    actions, one lazy plan: the same call AQE makes when it coalesces a
    tiny aggregate to one partition."""
    df = _Q["mvcc_conservation"].fn(spark, SF)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "_grp" not in p, "range decomposition engaged below threshold"
    assert "windowspecdefinition(write_point" in p


def test_bm25_broadcasts_terms_no_cartesian(spark):
    """BM25's query-term list is model-sized: it must broadcast into
    the tf computation, and the only nested-loop join allowed is the
    1-row stats attach — never a data×data cartesian."""
    p = plan(_Q["llm_bm25_topk"].fn(spark, SF))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "TakeOrderedAndProject" in p, "top-20 must be TakeOrdered, not global sort"


def test_decontaminate_is_gram_equi_join(spark):
    """Decontamination candidates come from a shared-gram equi-join —
    any nested-loop/cartesian here is the all-pairs scan that cannot
    run at 100 TB."""
    p = plan(_Q["llm_decontaminate"].fn(spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_bucketed_agg_has_no_exchange(spark):
    """groupBy on the bucket key must be satisfied by the bucketed scan
    itself — any Exchange means the ingest-time organizing shuffle is
    being paid again per query."""
    p = plan(_Q["agg_bucketed_noshuffle"].fn(spark, SF))
    assert "Exchange" not in p, "bucketed aggregation re-shuffled"


def test_bloom_filter_injected_when_fact_cannot_broadcast(spark):
    """join_bloom_pruned's 100 TB contract: with the dim too selective
    to broadcast (forced here via autoBroadcastJoinThreshold=-1, which
    is simply true at scale) and the bloom size gates scaled down to
    sf-test data (at 100 TB the fact side clears the default 10GB gate
    on its own), the optimizer must inject a runtime bloom filter from
    the filtered dim into the fact scan side. All confs are SCOPED —
    the query itself mutates nothing (ADVICE r2)."""
    from opusdb_spark.session import scoped_confs

    with scoped_confs(
        spark,
        {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "50MB",
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold": "0",
        },
    ):
        df = _Q["join_bloom_pruned"].fn(spark, SF)
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in opt, "no runtime bloom filter injected"


def test_zscore_stats_side_broadcasts(spark):
    """The per-type stats aggregate is tiny and must broadcast into the
    events scan side — a shuffle join here would move the fact table
    for a 5-row stats attach."""
    p = plan(_Q["events_zscore_outliers"].fn(spark, SF))
    assert "BroadcastHashJoin" in p


def test_vocab_topk_is_take_ordered(spark):
    p = plan(_Q["llm_vocab_topk"].fn(spark, SF))
    assert "TakeOrderedAndProject" in p, "global top-50 must not full-sort"


def test_lateral_subquery_decorrelates(spark):
    """The LATERAL aggregate must decorrelate to one agg+join — a
    correlated re-scan per order row cannot run at scale."""
    p = plan(_Q["sub_lateral"].fn(spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_chunk_split_is_shuffle_free(spark):
    """Chunking is scan-stage array algebra: split → explode(sequence)
    → slice, with zero Exchange — at scale it pipelines inside the
    parquet scan, one task per input split."""
    from opusdb_spark.queries.pipeline import llm_chunk_split

    p = plan(llm_chunk_split(spark, SF))
    assert "Exchange" not in p, "chunking must not shuffle"
    assert "Generate" in p  # the explode over chunk starts


def test_perplexity_score_joins_on_bigram_not_all_pairs(spark):
    """LM scoring is equi-joins + hash aggregates only: no window, no
    cartesian, no Python UDF in the plan."""
    from opusdb_spark.queries.pipeline import llm_perplexity_score

    p = plan(llm_perplexity_score(spark, SF))
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    assert "Window" not in p
    assert "PythonUDF" not in p.replace("ArrowEvalPython", "")


def _n_exchange_nodes(p: str) -> int:
    import re

    return len(re.findall(r"^\(\d+\) Exchange", p, re.M))


def test_gopher_rules_pure_codegen_single_shuffle(spark):
    # quality rules are array expressions, never Python: one agg shuffle
    p = plan(_Q["llm_gopher_rules"].fn(spark, SF))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert _n_exchange_nodes(p) <= 1, "one agg exchange expected"


def test_attribution_single_window_shuffle(spark):
    # per-user window shuffle + the 5-row agg exchange, nothing else
    p = plan(_Q["events_attribution"].fn(spark, SF))
    assert "Window" in p
    assert _n_exchange_nodes(p) <= 2


def test_time_travel_diff_single_aggregate_no_join(spark):
    # both snapshots from ONE groupBy: no Join operator, one shuffle
    p = plan(_Q["mvcc_time_travel_diff"].fn(spark, SF))
    assert "Join" not in p, "diff must not join two snapshot builds"
    assert _n_exchange_nodes(p) == 1
    assert "LessThanOrEqual(event_id,7000)" in p.replace("\n", " "), (
        "new-point bound must reach the parquet scan"
    )


def test_mode_two_level_agg_no_window(spark):
    p = plan(_Q["agg_mode"].fn(spark, SF))
    assert "Window" not in p, "mode must not window the raw rows"
    assert "BatchEvalPython" not in p


def test_keep_best_single_shuffle_no_window(spark):
    p = plan(_Q["llm_dedup_keep_best"].fn(spark, SF))
    assert "Window" not in p, "keep rule must ride the groupBy, not a window"
    assert _n_exchange_nodes(p) <= 1


def test_cached_reuse_scans_memory_not_parquet_twice(spark):
    # the buffer-pool contract: both readers hit the in-memory relation
    df = _Q["scan_cached_reuse"].fn(spark, SF)
    df.count()  # populate the cache
    p = plan(df)
    assert p.count("InMemoryTableScan") >= 2, (
        "both aggregates must read the cached projection"
    )
    spark.catalog.clearCache()


def test_similarity_topk_shuffle_free_scan(spark):
    # rewritten cosine scoring: 1-row broadcast + per-row folds + local
    # top-k — the only allowed exchange is the probe broadcast
    p = plan(_Q["llm_similarity_topk"].fn(spark, SF))
    assert "TakeOrderedAndProject" in p
    assert _n_exchange_nodes(p) == 0, (
        "scoring must not shuffle; the probe rides a BroadcastExchange"
    )
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_streaks_no_global_sort(spark):
    # gaps-and-islands runs keyed windows + keyed aggs only
    p = plan(_Q["win_streaks"].fn(spark, SF))
    assert "TakeOrderedAndProject" not in p
    for line in p.splitlines():
        if line.strip().startswith("Arguments: [d") and "true" in line:
            raise AssertionError(f"global sort found: {line}")


def test_rfm_segments_no_single_partition_ntile(spark):
    """The three quartile assignments must never serialize the
    purchasers table through one task: every window over a user metric
    carries the bucket partition column; the only partition-less
    windows are the offset/total ones over the <= 32 aggregated bucket
    counts (model-sized). A bare `ntile(4) over (order by metric)` —
    the r3 scale-killer — shows up as a windowspecdefinition whose
    FIRST argument is the metric itself."""
    df = _Q["events_rfm_segments"].fn(spark, SF)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "ntile(" not in p, "native single-partition ntile crept back"
    for metric in ("last_ts", "freq", "monetary"):
        assert f"windowspecdefinition({metric}" not in p, (
            f"partition-less window over all users' {metric}"
        )
    assert "windowspecdefinition(_b" in p, "bucket-partitioned rank missing"


def test_tpch_q6_all_predicates_pushed(spark):
    """Q6 is the canonical pushdown probe: shipdate range, discount
    range, and quantity bound must all reach the parquet scan."""
    p = plan(_Q["tpch_q6"].fn(spark, SF))
    flat = p.replace("\n", " ")
    assert "PushedFilters:" in p
    for frag in ("GreaterThanOrEqual(l_shipdate", "LessThan(l_quantity"):
        assert frag in flat, f"predicate not pushed: {frag}"


def test_tpch_q8_dims_broadcast_single_fact_shuffle(spark):
    """The 8-way star join must broadcast every dimension — the only
    Exchange allowed on the fact path is the final aggregation's."""
    p = plan(_Q["tpch_q8"].fn(spark, SF))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p, "a dim fell back to shuffle join"


def test_semdedup_candidates_from_cluster_kernel(spark):
    """Semantic-dedup candidates must come from the per-cluster Arrow
    kernel (one FlatMapGroupsInPandas over a cluster-keyed exchange) —
    never a pairwise self-join of the corpus."""
    p = plan(_Q["llm_semdedup"].fn(spark, SF))
    assert "FlatMapGroupsInPandas" in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p, "corpus self-join crept in"


def test_tpch_q11_threshold_subquery_evaluated_once(spark):
    """Q11's global threshold comes from OVER () window aggregates, so
    the 4-table join+agg subtree `t` exists ONCE in the plan. Catalyst
    inlines CTEs: the scalar-subquery form re-ran the join per
    reference (3 lineitem scans, 9.5 s vs 1.0 s at sf0.1). Pinned by
    counting lineitem scans — exactly one."""
    p = plan(_Q["tpch_q11"].fn(spark, SF))
    assert "BroadcastNestedLoopJoin" not in p
    assert p.count("lineitem.parquet") == 1, (
        "q11 must scan lineitem exactly once"
    )
    assert "Window" in p


def test_tpch_q18_single_fact_pass(spark):
    """Q18's per-order quantity sum is computed once and reused as the
    output column — the textbook IN-subquery form re-aggregated
    lineitem a second time (two fact scans + two l_orderkey
    shuffles)."""
    p = plan(_Q["tpch_q18"].fn(spark, SF))
    assert p.count("lineitem.parquet") == 1, (
        "q18 must scan lineitem exactly once"
    )


def test_winnowing_reads_fingerprint_store_not_documents(spark):
    """The overlap query reads the ingest-once parquet store, never
    re-runs gram hashing over documents — and since the r13 array-
    domain pair rewrite (DF cap and pair generation share ONE
    groupBy(h)) it scans the store exactly once, with no broadcast
    join of the fingerprint stream."""
    p = plan(_Q["llm_winnowing_overlap"].fn(spark, SF))
    assert "winnow_fps_" in p, "plan does not read the fingerprint store"
    assert "documents.parquet" not in p, (
        "winnowing re-derived fingerprints from documents at query time"
    )
    assert p.count("winnow_fps_") == 1, (
        "overlap must consult the fingerprint store exactly once — the "
        "freq/semi-join shape re-scanned it four times"
    )
    assert "BroadcastHashJoin" not in p, (
        "pair generation must stay in the array domain, not broadcast "
        "the fingerprint stream"
    )


def test_decontaminate_broadcasts_bench_vocab(spark):
    """Decontamination must filter the corpus gram stream with a
    BROADCAST of the eval-sized benchmark vocabulary (map-side, before
    any corpus-sized shuffle) — at 100 TB shuffling non-eval grams is
    the dominant wasted byte volume."""
    p = plan(_Q["llm_decontaminate"].fn(spark, SF))
    assert "BroadcastExchange" in p or "BroadcastHashJoin" in p, (
        "bench gram vocabulary is not broadcast"
    )


def test_cte_query_runs_cte_body_once(spark):
    """Q15's revenue CTE feeds both the join and the global max —
    Catalyst inlines CTEs, so the textbook scalar-subquery max would
    re-run the lineitem aggregation. The OVER () form scans lineitem
    exactly once."""
    p = plan(_Q["cte_query"].fn(spark, SF))
    assert p.count("lineitem.parquet") == 1, (
        "cte_query must scan lineitem exactly once"
    )


def test_tpch_q20_nested_in_plans_as_semi_joins(spark):
    p = plan(_Q["tpch_q20"].fn(spark, SF))
    assert "LeftSemi" in p, "nested IN chain did not plan as semi joins"
    assert "CartesianProduct" not in p


def test_graph_iterations_reuse_cached_edge_state(spark):
    """The PageRank loop and the triangle self-joins must read the
    persisted model-sized edge state (InMemoryTableScan), not re-run
    the fact-table edge aggregation once per reference — at 100 TB
    that difference is one corpus pass versus four."""
    for key in ("graph_pagerank", "graph_triangle_count"):
        p = plan(_Q[key].fn(spark, SF))
        assert "InMemoryTableScan" in p or "InMemoryRelation" in p, key


def test_manifest_prune_scans_strict_file_subset(spark):
    """The manifest-pruned scan must open strictly fewer parquet files
    than the clustered layout holds — data skipping has to actually
    skip — while the rows still equal the plain filtered scan."""
    import os

    from opusdb_spark.sources.formats import corpus_scratch_path

    df = _Q["scan_manifest_prune"].fn(spark, SF)
    n_read = len(df.inputFiles())
    layout = corpus_scratch_path("manifest_clustered", SF)
    n_layout = len(
        [f for f in os.listdir(layout) if f.endswith(".parquet")]
    )
    assert 0 < n_read < n_layout, (n_read, n_layout)


def test_tpch_q2_scalar_min_decorrelated(spark):
    """The correlated scalar-MIN subquery must decorrelate into a
    grouped min-aggregate joined back on the correlation key — never a
    per-row rescan of the inner 4-table chain."""
    p = plan(_Q["tpch_q2"].fn(spark, SF))
    flat = p.replace("\n", " ")
    assert "min(s_acctbal" in flat, "decorrelated min-aggregate missing"
    assert "BroadcastNestedLoopJoin" not in p, "subquery re-executed per row"


def test_tpch_q4_exists_plans_as_semi_join(spark):
    p = plan(_Q["tpch_q4"].fn(spark, SF))
    assert "LeftSemi" in p, "EXISTS did not plan as a semi join"
    flat = p.replace("\n", " ")
    assert "GreaterThanOrEqual(o_orderdate" in flat, "date range not pushed"
    assert "EqualTo(l_returnflag,R)" in flat, "inner filter not pushed"


def test_tpch_q19_disjunction_pushed_to_both_scans(spark):
    """The three cross-table OR branches must be CNF-split so each scan
    gets its own per-table disjunction (brand/size on part, quantity on
    lineitem) — the classic partial-pushdown probe."""
    p = plan(_Q["tpch_q19"].fn(spark, SF))
    flat = p.replace("\n", " ")
    assert "Or(Or(And(GreaterThanOrEqual(l_quantity,1.0)" in flat, (
        "lineitem-side disjunction not pushed"
    )
    assert "EqualTo(p_brand,Brand#1)" in flat, "part-side disjunction not pushed"
    assert "BroadcastHashJoin" in p


def test_tpch_q21_semi_and_anti_with_residual(spark):
    """EXISTS and NOT EXISTS over the same correlation key must plan as
    one LeftSemi and one LeftAnti with the <> residual as the join
    condition — not nested-loop re-scans of lineitem."""
    p = plan(_Q["tpch_q21"].fn(spark, SF))
    assert "LeftSemi" in p
    assert "LeftAnti" in p
    assert "BroadcastNestedLoopJoin" not in p


def test_tpch_q22_anti_join_and_scalar_threshold_pushed(spark):
    """NOT EXISTS plans as LeftAnti; the scalar-AVG threshold is
    evaluated once and pushed into the customer scan as a filter."""
    p = plan(_Q["tpch_q22"].fn(spark, SF))
    assert "LeftAnti" in p
    flat = p.replace("\n", " ")
    assert "GreaterThan(c_acctbal,ScalarSubquery" in flat, (
        "threshold subquery not pushed into the scan"
    )


def test_bloom_prune_filters_fact_before_join(spark):
    """The explicit bloom semi-join reduction must (a) broadcast the
    ONE-row filter (BroadcastNestedLoopJoin over a single-row build is
    the expected physical shape for a broadcast cross join), (b) test
    the filter bits with codegen expressions (element_at + shiftleft)
    in a Filter that sits BELOW the exact join, and (c) never shuffle
    the bloom words themselves beyond their model-sized build."""
    p = plan(_Q["join_bloom_prune"].fn(spark, SF), mode="simple")
    flat = p.replace("\n", " ")
    assert "shiftleft" in flat, "bit-test filter missing from the plan"
    assert "element_at" in flat, "bloom word lookup missing"
    # (b) the bit-test Filter sits BELOW the exact equi-join: the
    # simple plan renders top-down (children indented after parents),
    # so "below the join" means the shiftleft bit test appears LATER
    # in the text than the equi-join node that consumes it.
    join_pos = min(
        (
            i
            for i in (
                flat.find("SortMergeJoin"),
                flat.find("BroadcastHashJoin"),
                flat.find("ShuffledHashJoin"),
            )
            if i >= 0
        ),
        default=-1,
    )
    assert join_pos >= 0, "no exact equi-join in the plan"
    assert flat.index("shiftleft") > join_pos, (
        "bit-test filter is not below the exact equi-join"
    )


def test_rollup_daily_reads_store_not_raw_events(spark):
    """The continuous-aggregate query's scale claim is that query time
    never pays the raw event scan: its plan must read ONLY the
    day-partitioned rollup store (a `rollup_daily_*` FileScan), with
    events.parquet nowhere in the read path — the store build happens
    at ingest (ensure_written), outside this plan."""
    df = _Q["events_rollup_daily"].fn(spark, SF)
    p = plan(df, mode="formatted")
    assert "rollup_daily_" in p, "plan must scan the rollup store"
    assert "events.parquet" not in p, (
        "query-time plan must not re-read raw events"
    )


def test_rollup_quantiles_read_store_not_raw_events(spark):
    """The store-served percentile query must read the rollup store's
    sketch column only — never raw events — and its walk must stay on
    the exploded bucket relation (sketch-sized)."""
    df = _Q["events_rollup_quantiles"].fn(spark, SF)
    p = plan(df, mode="formatted")
    assert "rollup_daily_" in p, "plan must scan the rollup store"
    assert "events.parquet" not in p, (
        "query-time plan must not re-read raw events"
    )


def test_kmv_set_ops_reads_sketch_state_not_raw_events(spark):
    """The KMV set-operation query's scale claim (the r8 weak-item
    fix) is the ingest/query split: union/intersection/Jaccard for
    every type pair are served from the ingest-once sketch state
    (counts + k-row sketches + precomputed exact intersects), with
    events.parquet nowhere in the read path — the single corpus pass
    happens at ingest (ensure_written), outside this plan."""
    df = _Q["agg_kmv_set_ops"].fn(spark, SF)
    p = plan(df, mode="formatted")
    assert "kmv_state_" in p, "plan must scan the KMV sketch state"
    assert "events.parquet" not in p, (
        "query-time plan must not re-read raw events"
    )


def test_rollup_cascade_reads_hourly_store_only(spark):
    """The cascade (daily from hourly partials) must likewise read only
    the hourly store, and its distinct-user column must come from
    sketch union (hll_union_agg), not a raw-event count distinct."""
    df = _Q["events_rollup_cascade"].fn(spark, SF)
    p = plan(df, mode="formatted")
    assert "rollup_hourly_" in p
    assert "events.parquet" not in p
    assert "hll_union_agg" in p, "cascade must union sketches"


def test_funnel_is_one_user_shuffle_no_joins(spark):
    """The ordered funnel's scale claim: however many steps deep, the
    fact table shuffles ONCE on user_id (the three step-time windows
    share a single Exchange+Sort) and there is no per-step self-join —
    the textbook funnel-as-N-joins plan multiplies the fact scan by
    the step count."""
    import re

    df = _Q["events_funnel_conversion"].fn(spark, SF)
    p = plan(df, mode="formatted")
    user_ex = re.findall(r"hashpartitioning\(user_id", p)
    assert len(user_ex) == 1, f"expected 1 user_id exchange, got {len(user_ex)}"
    assert "Join" not in p, "funnel must not self-join the fact table"
    # exactly one scan of the events fact
    assert p.count("events.parquet") == 1


def test_cohort_retention_is_one_fact_shuffle_no_joins(spark):
    """Cohort retention folds first-seen AND distinct-active-weeks into
    ONE user-keyed aggregation (collect_set bounded by the calendar),
    so the fact table shuffles once and the retention math runs on
    cohort cells — no fact-fact join, one fact scan."""
    import re

    df = _Q["events_cohort_retention"].fn(spark, SF)
    p = plan(df, mode="formatted")
    user_ex = re.findall(r"hashpartitioning\(user_id", p)
    assert len(user_ex) == 1, f"expected 1 user_id exchange, got {len(user_ex)}"
    assert "Join" not in p
    assert p.count("events.parquet") == 1


def test_stratified_split_uses_window_group_limit(spark):
    """The per-stratum top-k must push the rank filter into the sort
    (WindowGroupLimit): no language stratum is ever fully sorted, the
    top-k-per-group shape that survives 100 TB strata."""
    df = _Q["llm_stratified_split"].fn(spark, SF)
    p = plan(df, mode="formatted")
    assert "WindowGroupLimit" in p


def test_twap_lead_window_is_bucket_keyed(spark):
    """The TWAP LEAD must never run on a window keyed by event_type
    alone: 5 distinct types ⇒ 5 tasks sort the whole fact table at any
    cluster size. The bucket-split lowering keys the fact-scale window
    on (event_type, hour-bucket) and stitches bucket boundaries from a
    model-sized broadcast table."""
    import re

    df = _Q["events_time_weighted_avg"].fn(spark, SF)
    p = plan(df, mode="formatted")
    assert re.search(
        r"hashpartitioning\(event_type[^)]*bucket", p
    ), "fact-scale LEAD window must be (event_type, bucket)-keyed"
    # no window may sort the raw fact per type only: a Window whose
    # partition spec is just event_type but whose ORDER carries the
    # row-level (ts, event_id) keys is the 5-task ceiling
    win_sorts = [
        w
        for w in re.findall(r"windowspecdefinition\([^)]*\)", p)
        if "event_id" in w and "bucket" not in w
    ]
    assert not win_sorts, f"a window still sorts the fact per type only: {win_sorts}"
    # the boundary stitch is a broadcast, not a shuffle join
    assert "BroadcastHashJoin" in p


def test_schema_drift_narrow_distincts_and_pushdown(spark):
    """r13 shape (OPTIMIZATION_r13.md): the base conditional-aggregation
    pass plus one NARROW-KEY two-level aggregation per exact distinct —
    4 column-pruned scans in place of the old single scan's Expand ×7
    row blow-up (hashing 7× corpus-sized wide rows dominated the wall),
    and the window filter must reach the scan as plain ts RANGE
    predicates (a to_date(ts) filter is opaque to parquet min/max
    stats). Still never a per-BATCH rescan: both halves' profiles come
    out of each pass via the `half` conditional."""
    df = _Q["dq_schema_drift"].fn(spark, SF)
    p = plan(df, mode="formatted")
    assert p.count("events.parquet") == 4, "base + 3 narrow distincts"
    assert "Expand" not in p, "multi-distinct Expand must stay gone"
    # range predicates on ts pushed to the parquet scan
    assert "PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts," in p


def test_mv_join_reads_store_partials_and_prunes(spark):
    """Delta-rule view maintenance, store-sized since r10: the base
    view's contribution must come from the persisted `_partials`
    sidecar (NO full view re-scan — the r9 weak item), both delta
    branches must partition-prune the (late, bk17)-partitioned fact
    store, and the late-dimension batch must broadcast — the plan
    properties that keep maintenance cost delta-shaped at 100 TB."""
    import re

    df = _Q["mv_join_incremental"].fn(spark, SF)
    p = plan(df, mode="formatted")
    assert "_partials" in p, "base partials sidecar absent from the plan"
    assert (
        p.count("mv_join_") == 1
    ), "base view data files re-scanned — readout must be store-sized"
    assert "mv_fact_" in p, "fact side must read the partitioned store"
    assert re.search(
        r"PartitionFilters: \[[^\]]*late", p
    ), "late-fact branch must partition-prune"
    assert re.search(
        r"PartitionFilters: \[[^\]]*bk17[^\]]*= 0", p
    ), "late-dim probe must prune to the bk17=0 buckets"
    assert "mv_dim_" in p, "dimension side must read the partitioned store"
    assert re.search(
        r"PartitionFilters: \[[^\]]*bk13[^\]]*= 0", p
    ), "delta-fact's dimension probe must prune to the bk13=0 buckets"
    assert "BroadcastHashJoin" in p, "dimension delta must broadcast"


def test_delete_vectors_read_is_broadcast_anti(spark):
    """Merge-on-read deletes must cost one broadcast ANTI join on the
    read path — a shuffled anti-join would tax every read with a full
    fact shuffle for a KB-scale delete sidecar."""
    df = _Q["scan_delete_vectors"].fn(spark, SF)
    p = plan(df, mode="formatted")
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "dv_orders_" in p, "read must come from the ingest store"
