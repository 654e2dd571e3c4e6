"""Per-range fused scoring — the Lucene per-segment search model on Spark.

The packed builder (index.packed) range-partitions EVERY term's postings
by rsalt = doc_id >> range_shift, so a given doc's postings for all
terms live in exactly one rsalt range — the ranges are Lucene segments
re-expressed as grouping keys. That makes exact BM25 embarrassingly
parallel per range: group the (already compressed) block rows of the
query terms by rsalt and run ONE numpy kernel per range that decodes,
computes contributions, folds them per doc in term-sorted order, and
applies the AND-arity / phrase-adjacency checks — no postings-row
shuffle, no collect_list, no sort_array.

Contrast with the generic plan (query.exact.fold_scores): that one
decodes in scan tasks (parallelism = file layout), then shuffles one row
PER MATCHED POSTING into a groupBy(doc_id) + sort_array + aggregate.
Here the only exchange moves the delta+varint block payloads (~1 byte
per posting), and parallelism = number of doc ranges, independent of how
many files a term's blocks landed in. At 100 TB the ranges are the unit
of cluster parallelism, exactly like Lucene segments across shards
(reference: Solr distributes per-core searches; solrconfig.xml merge
policy keeps segments bounded — the rsalt range plays that role here).

Float determinism: the kernel performs the same IEEE-754 operations in
the same order as scoring.contribution_col + the term-sorted
F.aggregate fold (accumulate per doc, terms ascending, starting 0.0) —
asserted bit-identical in tests/test_ranged.py.
"""

from __future__ import annotations

from typing import List, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from nexlt_spark.scoring import B as B_PARAM
from nexlt_spark.scoring import K1, K1_PLUS_1, ONE_MINUS_B, idf

SCORED_SCHEMA = "doc_id long, score double"

# phrase keys fuse (doc_id, shifted_position) into one int64:
# doc_id * 2^POS_BITS + pos. Positions are token offsets within a doc —
# bounded by the longest document's token count.
POS_BITS = 22
_MAX_POS = 1 << POS_BITS


def _decode_group(pdf: pd.DataFrame, positions: bool):
    """One rsalt group's block rows → flat posting arrays."""
    from nexlt_spark.index.codec import decode_block_rows, decode_positions_rows

    block_of, ids, tfs, dls = decode_block_rows(
        [bytes(x) for x in pdf["doc_ids"]],
        [bytes(x) for x in pdf["tfs"]],
        [bytes(x) for x in pdf["dls"]],
        pdf["n"].to_numpy(),
    )
    term_of = pdf["term"].to_numpy()[block_of]
    pos_flat = None
    if positions:
        pos_flat = decode_positions_rows(
            [bytes(x) for x in pdf["pos"]], tfs.astype(np.int64)
        )
    return term_of, ids.astype(np.int64), tfs, dls, pos_flat


def _empty_scored() -> pd.DataFrame:
    """The kernels' empty (doc_id, score) frame — one place to keep in
    sync with SCORED_SCHEMA (the empty paths are rarely hit, so drift
    would surface only in production corners)."""
    return pd.DataFrame({"doc_id": np.zeros(0, np.int64), "score": np.zeros(0)})


def _fold_scores_np(
    term_of: np.ndarray,
    ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    terms_sorted: List[str],
    idfs: dict,
    avgdl: float,
):
    """Per-doc contribution fold, terms ascending — the numpy twin of
    fold_scores' sort_array + F.aggregate (same op order ⇒ same bits).

    Returns (unique_doc_ids, scores, n_terms_matched).
    """
    tfd = tfs.astype(np.float64)
    dld = dls.astype(np.float64)
    # op order mirrors scoring.contribution_col exactly
    tfn = (tfd * K1_PLUS_1) / (tfd + K1 * (ONE_MINUS_B + (B_PARAM * dld) / avgdl))
    uids, inv = np.unique(ids, return_inverse=True)
    score = np.zeros(len(uids), dtype=np.float64)
    cnt = np.zeros(len(uids), dtype=np.int64)
    for t in terms_sorted:  # ascending term order = the fold's sort_array order
        m = term_of == t
        di = inv[m]  # ≤1 posting per (term, doc) ⇒ no duplicate indices
        score[di] += idfs[t] * tfn[m]
        cnt[di] += 1
    return uids, score, cnt


def _emit(uids, score, keep, limit: Optional[int]) -> pd.DataFrame:
    uids, score = uids[keep], score[keep]
    if limit is not None and len(uids) > limit:
        # (score desc, doc_id asc) — identical to the global topk ordering,
        # so per-range truncation preserves the global top `limit`
        order = np.lexsort((uids, -score))[:limit]
        uids, score = uids[order], score[order]
    return pd.DataFrame({"doc_id": uids.astype(np.int64), "score": score})


def _score_kernel(
    terms_sorted: List[str],
    idfs: dict,
    avgdl: float,
    n_required: Optional[int],
    limit: Optional[int],
):
    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        term_of, ids, tfs, dls, _ = _decode_group(pdf, positions=False)
        uids, sc, cnt = _fold_scores_np(
            term_of, ids, tfs, dls, terms_sorted, idfs, avgdl
        )
        keep = cnt == n_required if n_required is not None else np.ones(len(uids), bool)
        return _emit(uids, sc, keep, limit)

    return score


def phrase_match_docs_np(
    term_of_pos: np.ndarray,
    doc_of_pos: np.ndarray,
    pos_flat: np.ndarray,
    phrase_tokens: List[str],
    slop: int = 0,
) -> np.ndarray:
    """Vectorized phrase verify over flat per-token-instance arrays
    (term, doc, position) → sorted unique doc_ids containing the phrase.

    slop 0: shifted-intersect adjacency; slop > 0: greedy minimal-end
    ordered windows — identical semantics to exact._phrase_alive_col
    (asserted by the rank-identity tests). ONE implementation shared by
    the ranged kernel and the driver phrase plan (query.phrase_driver),
    so the executions cannot drift."""
    if len(pos_flat) and pos_flat.max() >= _MAX_POS:
        raise ValueError(
            f"position {pos_flat.max()} exceeds the {POS_BITS}-bit phrase-key "
            "budget — raise POS_BITS for corpora with >4M-token documents"
        )
    if len(doc_of_pos) and doc_of_pos.max() >= (1 << (63 - POS_BITS)):
        # the fused (doc_id << POS_BITS) + pos key silently wraps past
        # 2^(63-POS_BITS) doc_ids and would produce wrong phrase matches
        # (ADVICE r2)
        raise ValueError(
            f"doc_id {doc_of_pos.max()} exceeds the {63 - POS_BITS}-bit "
            "phrase-key budget — lower POS_BITS or renumber doc_ids"
        )
    if slop <= 0:
        # adjacency: a doc matches iff ∃v present in every token's
        # shifted position set — progressive intersect of fused
        # (doc, pos-i) keys
        alive = None
        for i, t in enumerate(phrase_tokens):
            m = (term_of_pos == t) & (pos_flat >= i)
            keys = (doc_of_pos[m] << POS_BITS) + (pos_flat[m] - i)
            alive = keys if alive is None else np.intersect1d(alive, keys)
            if len(alive) == 0:
                return np.zeros(0, dtype=np.int64)
        return np.unique(alive >> POS_BITS)
    # ordered sloppy window ("a b"~N): greedy minimal-end chains over the
    # same fused keys. Fused keys sort by (doc, pos), so
    # searchsorted(K_i, e, 'right') lands on the smallest key > e; if it
    # belongs to the same doc it IS the greedy next step (optimal — a
    # smaller valid next position never hurts later steps), otherwise the
    # chain is broken. Wholly vectorized: one searchsorted per phrase
    # token over all start positions.
    per_tok = []
    for t in phrase_tokens:
        m = term_of_pos == t
        per_tok.append(np.sort((doc_of_pos[m] << POS_BITS) + pos_flat[m]))
    if any(len(k) == 0 for k in per_tok):
        return np.zeros(0, dtype=np.int64)
    starts = per_tok[0]
    ends = starts.copy()
    broken = np.zeros(len(starts), dtype=bool)
    sent = np.int64((1 << 62) - 1)  # searchsorted past any real key
    for ki in per_tok[1:]:
        idx = np.searchsorted(ki, ends, side="right")
        valid = idx < len(ki)
        cand = ki[np.minimum(idx, len(ki) - 1)]
        same_doc = valid & ((cand >> POS_BITS) == (ends >> POS_BITS))
        broken |= ~same_doc
        ends = np.where(same_doc, cand, sent)
    ntoks = len(phrase_tokens)
    ok = ~broken & (
        (ends & (_MAX_POS - 1)) - (starts & (_MAX_POS - 1)) - (ntoks - 1)
        <= slop
    )
    if not ok.any():
        return np.zeros(0, dtype=np.int64)
    return np.unique(starts[ok] >> POS_BITS)


def _phrase_kernel(
    phrase_tokens: List[str],
    terms_sorted: List[str],
    idfs: dict,
    avgdl: float,
    limit: Optional[int],
    slop: int = 0,
):
    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        term_of, ids, tfs, dls, pos_flat = _decode_group(pdf, positions=True)
        tfs64 = tfs.astype(np.int64)
        posting_of = np.repeat(np.arange(len(ids), dtype=np.int64), tfs64)
        pdocs = phrase_match_docs_np(
            term_of[posting_of], ids[posting_of], pos_flat, phrase_tokens, slop
        )
        if len(pdocs) == 0:
            return _empty_scored()
        # fold only the phrase-matching docs: a head-term phrase ("the
        # run") otherwise pays the full-range fold and then discards
        # nearly all of it. Masking postings first folds the same
        # additions in the same per-doc order, so scores stay
        # bit-identical (asserted in tests/test_ranged.py).
        pm = np.isin(ids, pdocs)
        uids, sc, _ = _fold_scores_np(
            term_of[pm], ids[pm], tfs[pm], dls[pm], terms_sorted, idfs, avgdl
        )
        return _emit(uids, sc, np.ones(len(uids), bool), limit)

    return score


def _pruned_blocks(index, terms: List[str], positions: bool) -> DataFrame:
    """Bucket-pruned, column-pruned block rows for the query terms.

    Raises on a non-ranged index (the flat InvertedIndex, ShardedIndex):
    the per-range kernels assume a doc's postings for EVERY term share
    one rsalt group (BlockedIndex.ranged). Elsewhere a doc can span
    groups, so the fold would silently fragment scores and drop AND
    matches — fail fast instead."""
    from pyspark.sql import functions as F

    if not getattr(index, "ranged", False):
        raise ValueError(
            "score_ranged/phrase_score_ranged require a (ranged) "
            "BlockedIndex"
        )
    b = index.blocks
    if index.n_buckets and "term_bucket" in b.columns:
        buckets = index.term_buckets(terms)
        if buckets:
            b = b.where(F.col("term_bucket").isin(buckets))
    cols = ["term", "rsalt", "n", "doc_ids", "tfs", "dls"] + (
        ["pos"] if positions else []
    )
    return b.where(F.col("term").isin(list(terms))).select(*cols)


def score_ranged(
    index,
    terms: List[str],
    mode: str = "or",
    limit: Optional[int] = None,
    boosts: Optional[dict] = None,
) -> DataFrame:
    """(doc_id, score) via the per-range fused kernel. Requires a
    uniformly ranged BlockedIndex (index.ranged — the packed builder).

    limit: optional per-range top-(limit) truncation with the global
    (score desc, doc_id asc) ordering — safe to pass start+k when no
    post-hoc filtering (NOT terms / fq) will remove rows.

    boosts: analyzed-term → query-time boost; scales the term's idf
    before the kernel is built (same driver-side multiply as the flat
    fold in query.exact — boosted plans stay bit-identical across paths).
    """
    spark = index.doc_stats.sparkSession
    qterms = sorted(set(terms))
    dfs = index.term_dfs(qterms)
    present = [t for t in qterms if t in dfs]
    if not present or (mode == "and" and len(present) < len(qterms)):
        return spark.createDataFrame([], SCORED_SCHEMA)
    n, avgdl = index.stats.n_docs, index.stats.avgdl
    idfs = {t: idf(n, dfs[t]) for t in present}
    if boosts:
        idfs = {t: v * boosts.get(t, 1.0) for t, v in idfs.items()}
    kernel = _score_kernel(
        present, idfs, avgdl, len(present) if mode == "and" else None, limit
    )
    blocks = _pruned_blocks(index, present, positions=False)
    return blocks.groupBy("rsalt").applyInPandas(kernel, SCORED_SCHEMA)


def score_ranged_masked(
    blocks: DataFrame,
    terms_sorted: List[str],
    idfs: dict,
    avgdl: float,
    n_required: Optional[int],
    keep_bc,
    slice_shift: int,
) -> DataFrame:
    """Per-range fold restricted to a broadcast candidate set (the WAND
    rescore on a ranged store). Blocks whose docID range intersects no
    candidate slice are skipped before decode (the skip-list jump);
    surviving rows are masked to exact membership, then folded with the
    same kernel as score_ranged. Requires a uniformly ranged store
    (a doc's postings for every term share one rsalt group).

    `blocks` is the caller's (already pruned) block-row DataFrame — WAND
    passes its θ-kept blocks for candidate discovery but ALL query-term
    blocks here, so candidate docs are rescored exactly.
    """

    # the candidate slice array is identical for every rsalt group —
    # compute it once here (driver) and broadcast, instead of re-sorting
    # the whole candidate set inside every kernel invocation
    sc_ctx = blocks.sparkSession.sparkContext
    slices_bc = sc_ctx.broadcast(np.unique(keep_bc.value >> np.int64(slice_shift)))

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        keep = keep_bc.value
        slices = slices_bc.value
        lo = pdf["first_doc_id"].to_numpy(np.int64) >> np.int64(slice_shift)
        hi = pdf["last_doc_id"].to_numpy(np.int64) >> np.int64(slice_shift)
        hits = np.searchsorted(slices, hi, "right") > np.searchsorted(slices, lo, "left")
        pdf = pdf[hits]
        if len(pdf) == 0:
            return _empty_scored()
        term_of, ids, tfs, dls, _ = _decode_group(pdf, positions=False)
        m = np.isin(ids, keep)
        if not m.any():
            return _empty_scored()
        uids, sc, cnt = _fold_scores_np(
            term_of[m], ids[m], tfs[m], dls[m], terms_sorted, idfs, avgdl
        )
        ok = cnt == n_required if n_required is not None else np.ones(len(uids), bool)
        return _emit(uids, sc, ok, None)

    cols = ["term", "rsalt", "n", "first_doc_id", "last_doc_id", "doc_ids", "tfs", "dls"]
    return blocks.select(*cols).groupBy("rsalt").applyInPandas(kern, SCORED_SCHEMA)


def phrase_score_ranged(
    index,
    phrase_tokens: List[str],
    limit: Optional[int] = None,
    slop: int = 0,
    boosts: Optional[dict] = None,
) -> DataFrame:
    """Fused phrase plan on a ranged positions-bearing store: adjacency
    (or the slop>0 ordered window — greedy searchsorted chains) AND
    scoring inside the per-range kernel (positions never leave it)."""
    spark = index.doc_stats.sparkSession
    uniq = sorted(set(phrase_tokens))
    dfs = index.term_dfs(uniq)
    if len(dfs) < len(uniq):
        return spark.createDataFrame([], SCORED_SCHEMA)
    n, avgdl = index.stats.n_docs, index.stats.avgdl
    idfs = {t: idf(n, dfs[t]) for t in uniq}
    if boosts:
        idfs = {t: v * boosts.get(t, 1.0) for t, v in idfs.items()}
    kernel = _phrase_kernel(phrase_tokens, uniq, idfs, avgdl, limit, slop=slop)
    blocks = _pruned_blocks(index, uniq, positions=True)
    return blocks.groupBy("rsalt").applyInPandas(kernel, SCORED_SCHEMA)
