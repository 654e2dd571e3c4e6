"""Sharded (multi-store) search — the Solr distributed-query analog.

The reference's request handler "supports distributed queries across
multiple shards" (solrconfig.xml:837-838): a coordinator scatters the
query to every shard core, each returns its top window, and the
coordinator merges by score. Solr's default per-shard IDF makes merged
ranks depend on how documents landed on shards; the fix everyone
deploys is ExactStatsCache — global df/doclen stats so every shard
scores identically.

Spark transposition: a shard here is an on-disk ranged blocked store
(index.blocks.save_blocked_index / index.packed.save_blocked).
``ShardedIndex`` presents the SAME protocol the serving plans consume
(``stats`` / ``term_dfs`` / ``lookup`` / ``has_positions`` /
``analyzer``), so ``query.exact.bm25_topk``, phrase-off-positions,
NOT clauses, facets and the /select facade all run over N stores with
zero changes. Semantics are the ExactStatsCache ones by construction:

- global df  = Σ shard df        (term_dfs sums the per-shard
  driver-side dictionaries — no Spark job beyond each store's memoized
  metadata lookup);
- global avgdl = Σ total_tokens / Σ n_docs (IndexStats over the union);
- scoring recomputes tf-norm from the decoded raw (tf, dl) with the
  GLOBAL avgdl (query.exact.fold_scores) — the per-shard ``max_tfnorm``
  block metadata is WAND-only and never read on this path, so baked
  shard-local bounds cannot perturb exact ranks.

Scatter-gather itself is Spark's native shape: ``lookup`` unions each
shard's bucket-pruned decode scan, and the existing
TakeOrderedAndProject rank phase computes per-partition partial top-k
merged at the driver — exactly Solr's shard-window merge, but
expressed declaratively so Catalyst/AQE schedule it.

Two deployment shapes, both supported:

- **Disjoint-ID shards** (the production one): doc_ids were assigned
  globally before partitioning — time/batch-partitioned stores, or any
  split of one flattened corpus (tested: sharded ≡ single-store
  rank-identity). No remapping happens.
- **Independently-built shards**: each store numbered its own docs from
  0. Pass ``doc_id_offsets`` (e.g. from ``disjoint_offsets``) and every
  decoded posting / doc_stats row is rebased post-decode — block
  payloads stay untouched (delta-encoded doc_ids inside a block are
  offset-invariant).

At 100 TB: shards are how the index parallelizes operationally —
per-day builds, per-tenant stores, incremental batches — and this
module makes "query them all" one object. The union adds no shuffle:
each shard contributes its own pruned scan tasks and the rank phase
stays one TakeOrderedAndProject job.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce
from typing import Dict, List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nexlt_spark.index.blocks import BlockedIndex, load_blocked_index
from nexlt_spark.index.build import IndexStats


@dataclass
class ShardedIndex:
    """N index stores behaving as one index with global statistics.

    ``ranged`` is always False: the per-range fused kernel and WAND
    assume one store's range layout; sharded queries take the generic
    exact plan (still bucket-pruned per shard inside ``lookup``).
    """

    shards: List[BlockedIndex]
    stats: IndexStats
    analyzer: str = "standard"
    doc_id_offsets: Optional[List[int]] = None
    ranged: bool = False

    def __post_init__(self) -> None:
        if not self.shards:
            raise ValueError("ShardedIndex needs at least one shard")
        if self.doc_id_offsets is not None and len(self.doc_id_offsets) != len(
            self.shards
        ):
            raise ValueError("doc_id_offsets must align 1:1 with shards")

    # -- protocol ----------------------------------------------------------

    @property
    def has_positions(self) -> bool:
        return all(s.has_positions for s in self.shards)

    @property
    def doc_stats(self) -> DataFrame:
        return self._union(
            [self._rebase(s.doc_stats, i) for i, s in enumerate(self.shards)]
        )

    def persist(self) -> "ShardedIndex":
        for s in self.shards:
            s.persist()
        return self

    def term_dfs(self, terms: List[str]) -> Dict[str, int]:
        total: Dict[str, int] = {}
        for s in self.shards:
            for t, df in s.term_dfs(terms).items():
                total[t] = total.get(t, 0) + df
        return total

    def lookup(self, terms: List[str], positions: bool = False) -> DataFrame:
        parts = [
            self._rebase(s.lookup(terms, positions=positions), i)
            for i, s in enumerate(self.shards)
        ]
        return self._union(parts)

    # -- helpers -----------------------------------------------------------

    def _rebase(self, df: DataFrame, shard: int) -> DataFrame:
        if not self.doc_id_offsets:
            return df
        off = self.doc_id_offsets[shard]
        if off == 0:
            return df
        return df.withColumn("doc_id", (F.col("doc_id") + F.lit(off)).cast("long"))

    @staticmethod
    def _union(parts: Sequence[DataFrame]) -> DataFrame:
        return reduce(lambda a, b: a.unionByName(b), parts)


def disjoint_offsets(shards: Sequence[BlockedIndex], stride: Optional[int] = None) -> List[int]:
    """Offsets that rebase independently-numbered shards onto disjoint
    global ID ranges. With ``stride=None`` offsets are cumulative doc
    counts (dense); pass a power-of-two stride to make the shard
    recoverable as ``doc_id >> log2(stride)``."""
    if stride is not None:
        return [i * stride for i in range(len(shards))]
    offs, acc = [], 0
    for s in shards:
        offs.append(acc)
        acc += s.stats.n_docs
    return offs


def combine_shards(
    shards: Sequence[BlockedIndex],
    doc_id_offsets: Optional[List[int]] = None,
) -> ShardedIndex:
    """Wrap already-loaded stores. Analyzer must agree across shards —
    mixed token forms would silently miss matches (same invariant
    index.incremental enforces per-batch)."""
    analyzers = {s.analyzer for s in shards}
    if len(analyzers) > 1:
        raise ValueError(f"shards disagree on analyzer: {sorted(analyzers)}")
    stats = IndexStats(
        n_docs=sum(s.stats.n_docs for s in shards),
        total_tokens=sum(s.stats.total_tokens for s in shards),
    )
    return ShardedIndex(
        shards=list(shards),
        stats=stats,
        analyzer=analyzers.pop(),
        doc_id_offsets=list(doc_id_offsets) if doc_id_offsets else None,
    )


def open_shards(
    spark: SparkSession,
    paths: Sequence[str],
    independent_ids: bool = False,
) -> ShardedIndex:
    """Load N on-disk blocked stores as one queryable index.

    ``independent_ids=True`` declares that each store numbered its own
    documents from 0 (independently-built shards) and applies
    ``disjoint_offsets`` rebasing; the matching ``documents`` DataFrame
    must be rebased the same way (``rebase_documents``)."""
    shards = [load_blocked_index(spark, p) for p in paths]
    offs = disjoint_offsets(shards) if independent_ids else None
    return combine_shards(shards, offs)


def rebase_documents(
    documents_per_shard: Sequence[DataFrame], offsets: Sequence[int]
) -> DataFrame:
    """The fetch-phase companion of doc_id_offsets: union each shard's
    documents with the same rebasing so phase-2 stored-field joins
    (query.exact.search / select) align with rebased postings."""
    parts = [
        d.withColumn("doc_id", (F.col("doc_id") + F.lit(off)).cast("long"))
        for d, off in zip(documents_per_shard, offsets)
    ]
    return reduce(lambda a, b: a.unionByName(b), parts)


# ---------------------------------------------------------------------------
# Sharded DRIVER serving (r5): scatter-gather over per-shard skip-data
# WAND with ExactStatsCache-global statistics
# ---------------------------------------------------------------------------


def _global_view(shard: BlockedIndex, stats: IndexStats) -> BlockedIndex:
    """A per-shard searcher view whose collection statistics are the
    GLOBAL ones (n_docs, avgdl) — the Solr ExactStatsCache analog for
    the zero-Spark-job rows route. Memoized on the shard; shares the
    shard's skip/decoded-block/θ caches (same store bytes), but keeps
    its OWN term-meta cache and term dictionary, which sharded_topk_rows
    seeds with global df so every shard scores with idf(N_global,
    df_global) — bitwise the same float the unsharded searcher computes."""
    view = getattr(shard, "_global_stats_view", None)
    if view is not None and view.stats == stats:
        return view
    import dataclasses

    view = dataclasses.replace(shard, stats=stats)
    # share the byte-bounded caches that depend only on store bytes
    view._skip_cache = shard._skip_cache
    view._decoded_block_cache = shard._decoded_block_cache
    view._theta_probe_cache = shard._theta_probe_cache
    if getattr(shard, "_pa_dataset", None) is not None:
        view._pa_dataset = shard._pa_dataset
    shard._global_stats_view = view
    return view


def sharded_topk_rows(
    sharded: ShardedIndex,
    terms: List[str],
    k: int = 10,
    mode: str = "or",
    boosts: Optional[Dict[str, float]] = None,
    stats_out: Optional[dict] = None,
    candidate_cap: Optional[int] = None,
) -> list:
    """Distributed top-k through the DRIVER serving path: each shard
    runs its own skip-data WAND (zero Spark jobs on warm pyarrow-backed
    stores) under GLOBAL statistics, results merge by (score desc,
    doc_id asc) — Solr's scatter-gather with ExactStatsCache, re-
    expressed for the rows transport.

    Rank- and score-identical to the unsharded searcher over the same
    corpus (tests/test_sharded.py): global n_docs/avgdl come from the
    combined stats, global df is seeded into each view's term-meta
    cache, so every shard computes the exact same per-doc floats; docs
    live in exactly one shard, so the merge is a disjoint union.

    At 10^12 docs this is the production shape: one searcher process
    per shard-replica, a thin aggregator doing this merge — QPS scales
    with replicas, and per-query work stays candidate-bounded per shard
    (tools/bench_qps.py --shards measures the single-process version).
    """
    from nexlt_spark.query.wand import _term_meta, wand_topk

    qterms = sorted(set(terms))
    # local metadata per shard (memoized on each shard) → global df
    metas = [_term_meta(s, qterms) for s in sharded.shards]
    gdf: Dict[str, int] = {}
    for m in metas:
        for t, v in m.items():
            gdf[t] = gdf.get(t, 0) + v[0]
    if not gdf or (mode == "and" and len(gdf) < len(qterms)):
        return []
    offs = sharded.doc_id_offsets or [0] * len(sharded.shards)
    merged: list = []
    for shard, meta, off in zip(sharded.shards, metas, offs):
        if not meta:
            continue  # no query term present in this shard
        if mode == "and" and len(meta) < len(qterms):
            continue  # conjunction cannot match here
        view = _global_view(shard, sharded.stats)
        for t, (df_local, mtf, nb, qs) in meta.items():
            # global df + LOCAL block shape: idf becomes the global
            # float; block-max bounds stay valid (local mtf × global
            # idf ≥ any local contribution under global idf)
            view._term_meta_cache[t] = (gdf[t], mtf, nb, qs)
        # seed the TERM DICTIONARY with global df too (local bucket):
        # a per-shard exact fallback (candidate-cap overflow) scores via
        # score_postings → term_dfs, which must see the same global df
        # or that shard's floats land on a different scale than its
        # siblings' (review r5 — the per-shard-IDF bug ExactStatsCache
        # exists to prevent)
        local_dict = shard._resolve_terms(qterms)
        for t, (df_local, bucket) in local_dict.items():
            if df_local > 0 and t in gdf:
                view._term_cache[t] = (gdf[t], bucket)
        kw = {} if candidate_cap is None else {"candidate_cap": candidate_cap}
        rows = wand_topk(view, terms, k=k, mode=mode, boosts=boosts,
                         as_rows=True, **kw)
        merged.extend((d + off, s) for d, s in rows)
    merged.sort(key=lambda r: (-r[1], r[0]))
    if stats_out is not None:
        stats_out["shards_queried"] = sum(1 for m in metas if m)
    return merged[:k]
