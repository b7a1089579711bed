"""Query registry — the single source of truth for the t2 contract.

Each operator from SURVEY.md §2B registers here with:
  - a Spark callable ``(spark, sf_dir) -> DataFrame``
  - an equivalent DuckDB oracle SQL string (or None for rows-only ops:
    approximate / streaming / hash-dependent semantics)

``__spark_entry__.py`` delegates to :func:`queries` / :func:`oracle_sql`.
"""

from __future__ import annotations

import importlib
import json
import os
import re
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# Modules whose import registers queries. Order = SURVEY §7 build order.
_QUERY_MODULES = [
    "opusdb_spark.queries.scans",
    "opusdb_spark.queries.filters",
    "opusdb_spark.queries.joins",
    "opusdb_spark.queries.aggregates",
    "opusdb_spark.queries.windows",
    "opusdb_spark.queries.sorts",
    "opusdb_spark.queries.setops",
    "opusdb_spark.queries.scalar_functions",
    "opusdb_spark.queries.subqueries",
    "opusdb_spark.queries.reshape",
    "opusdb_spark.queries.versioned",
    "opusdb_spark.queries.streaming_batch",
    "opusdb_spark.queries.udfs",
    "opusdb_spark.queries.llm",
    "opusdb_spark.queries.pipeline",
    "opusdb_spark.queries.tpch",
    "opusdb_spark.queries.graph",
    "opusdb_spark.queries.sketches",
]


@dataclass
class Query:
    """`oracle_src` may be a SQL string OR a zero-arg callable returning
    one. Callables are for artifact-backed oracles whose SQL embeds
    filesystem paths derived from the parity corpus (llm.py
    `_oracle_sf_dir`): resolving them at `.oracle` ACCESS time — not
    module-import time — means OPUSDB_PARITY_SF_DIR is honored no
    matter when the registry was imported (ADVICE r10: every new
    entrypoint used to need an import-order pin or it silently paired
    Spark results against the wrong corpus's artifacts)."""

    name: str
    fn: QueryFn
    oracle_src: str | Callable[[], str] | None = None
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""

    @property
    def oracle(self) -> str | None:
        src = self.oracle_src
        return src() if callable(src) else src


_REGISTRY: dict[str, Query] = {}
_LOADED = False


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: register a (spark, sf_dir) -> DataFrame query."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query registration: {name}")
        _REGISTRY[name] = Query(name, fn, oracle, tags, fn.__doc__ or "")
        return fn

    return deco


def _load() -> None:
    global _LOADED
    if not _LOADED:
        for mod in _QUERY_MODULES:
            importlib.import_module(mod)
        _LOADED = True


# Sweep prioritization: a time-budgeted correctness sweep that runs in
# dict order should reach the most-informative queries FIRST. Until
# round 7 this was a hand-maintained frozenset of verdicted keys plus a
# hand-rotated `_NEVER_SAMPLED` head; since round 8 freshness is
# derived from the committed CORRECTNESS_r*.json artifacts themselves
# (the driver's own verdict record), so promotion is automatic:
#
#   tier 1 — `_RECENTLY_CHANGED`: queries rewritten in the CURRENT
#            round, whose on-file verdicts describe code that no longer
#            exists (hand-listed, rotated each round);
#   tier 2 — no clean verdict on file (new queries, and any key whose
#            NEWEST verdict is a failure — a red latest verdict drops
#            the key back here automatically);
#   tier 3 — everything else, STALEST verdict first, so sweep budget
#            rotates through r1-r3-era verdicts instead of re-checking
#            keys the driver just confirmed.
#
# "Clean" matches the driver's own semantics: hash_match true, or a
# rows-only query (err == "no_oracle") that ran and reported a row
# count. Harmless if the consumer sorts or completes the full sweep.

# Queries whose plan or store READ PATH changed since the last verdict
# round -> jump the queue. Kept deliberately SHORT so the driver's
# ~50-key sweep budget keeps the rotation turning through the stale
# cohort. The rollup and ANN keys now read their stores through the
# one formats.read_store memo (the rollup store's version sidecar and
# the ANN index's private handle cache are gone), and ensure_written
# publishes their stores atomically; stream_stateful_true is now a
# native streaming aggregation instead of applyInPandasWithState;
# mvcc_txn_rollback is the one key whose append_versions input is a
# bare parquet scan, so its write point is now a footer-statistics
# literal instead of a max aggregate. The ANN probe keys and
# llm_semdedup now score through the one cosine expression
# (similarity._cosine_of: casts inside the lambdas, a literal probe's
# norm folded to a constant, the zero-norm guard in semdedup).
# stream_session_timeout is a foreachBatch fold over a parquet state
# table instead of applyInPandasWithState; every top-k (`_top_by`:
# llm_similarity_topk, the ANN probe keys, llm_mmr_select's pool) drops
# NULL scores after its limit instead of before, and emb_kmeans builds
# its centroid literals as SQL text. stream_funnel_true is the second
# fold over a parquet state table (streaming/jobs.py _fold) instead of
# applyInPandasWithState, and the batched top-k keys (emb_hard_negatives,
# emb_truncated_recall and the recall evals) share one scorer,
# similarity._probe_topk. The one-batch stream keys (stream_dedup_true,
# stream_join_true, stream_foreachbatch_sink) replay the ts-split events
# store, as the batched ones already did, instead of the events file.
# Every per-corpus store is now built by formats.corpus_store: the
# rollup, KMV, manifest and classifier stores are renamed from
# `<prefix>_<basename>` to `<prefix>_<basename>_<md5 tag>`,
# scan_delete_vectors reads its store and sidecar through read_store,
# and the ts split cuts on (ts, event_id) row counts instead of a
# sampled range partition, which moves every batched stream's batch
# edges.
# Values are unchanged by construction, and a fresh verdict confirms it.
_RECENTLY_CHANGED: tuple[str, ...] = (
    # rollup store: read_rollup = read_store + grain cast
    "events_rollup_daily",
    "events_rollup_distinct_users",
    "events_rollup_quantiles",
    "events_rollup_cascade",
    "events_rollup_backfill",
    "events_rollup_incremental",
    "stream_rollup_maintain",
    # ANN index: ensure_index = ensure_written; probes via read_store
    # and similarity._cosine
    "llm_simsearch_lsh",
    "llm_simsearch_ivf",
    "llm_simsearch_ivfpq",
    "llm_ann_recall_eval",
    "llm_pq_recall_eval",
    "llm_pq_compression",
    "llm_embedding_neardup",
    # SemDeDup rescore: similarity._cosine_of
    "llm_semdedup",
    # per-user totals: native groupBy().agg() state store
    "stream_stateful_true",
    # write-point clock from parquet footers (mvcc._footer_write_point)
    "mvcc_txn_rollback",
    # session fold over a state table (streaming/jobs.py _fold_sessions)
    "stream_session_timeout",
    # top-k drops NULL scores after the limit; centroid literals as text
    "llm_similarity_topk",
    "llm_mmr_select",
    "emb_kmeans",
    # funnel fold over a state table; one batched top-k (_probe_topk)
    "stream_funnel_true",
    "emb_hard_negatives",
    "emb_truncated_recall",
    # one availableNow batch over the ts-split events store
    "stream_dedup_true",
    "stream_join_true",
    "stream_foreachbatch_sink",
    # stores named and built by formats.corpus_store; the split's cut
    "agg_kmv_set_ops",
    "scan_manifest_prune",
    "llm_quality_classifier_score",
    "scan_delete_vectors",
    "stream_watermark_late",
    "stream_session_true",
    "stream_commit_ledger",
)

_CORRECTNESS_RE = re.compile(r"CORRECTNESS_r(\d+)\.json$")
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_VERDICT_ROUNDS: dict[str, int] | None = None


def _verdict_rounds() -> dict[str, int]:
    """key -> newest round with a CLEAN driver verdict (see tiers above);
    keys whose newest verdict is a failure are absent. Computed once per
    process from the committed CORRECTNESS_r*.json artifacts."""
    global _VERDICT_ROUNDS
    if _VERDICT_ROUNDS is not None:
        return _VERDICT_ROUNDS
    rounds: dict[str, int] = {}
    try:
        names = os.listdir(_ROOT)
    except OSError:
        names = []
    # numeric round order, NOT lexicographic filename order: an
    # unpadded r8 vs r10 (or r99 vs r100) sorted as strings would
    # process a NEWER file first, letting an older clean verdict
    # resurrect a key whose newest verdict is red
    matched = []
    for fname in names:
        m = _CORRECTNESS_RE.fullmatch(fname)
        if m:
            matched.append((int(m.group(1)), fname))
    for rnd, fname in sorted(matched):
        try:
            with open(os.path.join(_ROOT, fname)) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        for key, res in data.items():
            if not isinstance(res, dict):
                continue
            clean = bool(res.get("hash_match")) or (
                res.get("err") == "no_oracle"
                and res.get("spark_rows") is not None
            )
            if clean:
                rounds[key] = max(rounds.get(key, 0), rnd)
            elif rounds.get(key, 0) < rnd:
                rounds.pop(key, None)  # newest verdict is red -> tier 2
    _VERDICT_ROUNDS = rounds
    return rounds


def _sweep_ordered(items: dict[str, Query]) -> dict[str, Query]:
    rounds = _verdict_rounds()
    pos = {k: i for i, k in enumerate(items)}
    changed = [k for k in _RECENTLY_CHANGED if k in items]
    rest = [k for k in items if k not in set(changed)]
    fresh = [k for k in rest if k not in rounds]
    stale = sorted(
        (k for k in rest if k in rounds), key=lambda k: (rounds[k], pos[k])
    )
    return {k: items[k] for k in changed + fresh + stale}


def registry() -> dict[str, Query]:
    _load()
    return _sweep_ordered(_REGISTRY)


def queries() -> dict[str, QueryFn]:
    return {name: q.fn for name, q in registry().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: q.oracle for name, q in registry().items() if q.oracle is not None
    }
