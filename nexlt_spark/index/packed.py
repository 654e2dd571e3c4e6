"""Packed posting-run build — the scale-path builder (one Arrow crossing
per byte, not per posting).

Motivation, measured on this box: the flat build shuffles ~40 posting
ROWS per turn through Exchange + Arrow three times (emit → cache →
encode), and at 2.25M turns the per-row serialization overhead — not
CPU — caps throughput near-identically at 4, 8, 16 and 32 cores. The
reference's Lucene never does that: an indexing thread flushes a whole
in-memory segment (packed term→postings arrays) at once
(DocumentsWriter flush; solrconfig.xml:213-234 merges those segments).

This module is that design, Spark-first:

- **emit**: one mapInPandas pass tokenizes a batch of documents and
  emits ONE ROW PER (term, doc-range) holding the batch's postings as
  packed little-endian numpy bytes (doc_ids int64, tfs/dls int32) — a
  partial posting RUN. Row count ≈ batch vocabulary, 1-2 orders of
  magnitude fewer rows than postings. A sentinel term='' row per batch
  carries (n_docs, Σdl) and the packed per-doc lengths — doc_stats and
  global stats without ever exploding to row-per-doc.
- **rsalt** = doc_id >> range_shift, split inside the batch (postings
  within a batch are doc-sorted because flatten emits docIDs in
  partition order): every term is range-partitioned the same way, which
  IS the hot-term salting of SURVEY.md P6 generalized — no single task
  ever holds a Zipf head's full list, and disjoint ranges mean the
  rsalt-ordered concatenation of group outputs is the global docID
  order (no second merge pass).
- **encode**: groupBy(term, rsalt).applyInPandas concatenates the
  chunk arrays (numpy), sorts by doc_id, and block-encodes with the
  same codec as the flat path — byte-compatible BLOCKS_SCHEMA rows, so
  every query path (exact lookup, WAND) works unchanged.

Trade-off of range partitioning (shared with blocks.build_blocks, the
flat-path encoder): rare terms fragment into one block row per occupied
doc-range (more, smaller blocks). Queries decode them
identically; a cold-term compaction pass (merge runs per term, the
TieredMergePolicy analog) is the follow-up if store size ever matters.
"""

from __future__ import annotations

import os
from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nexlt_spark.index.blocks import (
    BLOCKS_SCHEMA,
    DEFAULT_RANGE_SHIFT,
    BlockedIndex,
)
from nexlt_spark.index.build import IndexStats
from nexlt_spark.index.codec import (
    BLOCK_SIZE,
    _varint_encode_with_offsets,
    encode_blocks,
)
from nexlt_spark.scoring import B as B_PARAM
from nexlt_spark.scoring import K1, K1_PLUS_1, ONE_MINUS_B

PACKED_SCHEMA = (
    "term string, rsalt long, n int, sum_dl long, doc_ids binary, tfs binary, dls binary"
)
# Default on-disk store layout (save_blocked): term_bucket dirs × salt
# files. The stream encode path keys its ONE exchange by this same
# layout, so encode and store write fuse into a single stage (no second
# shuffle of the encoded payloads, no AQE write-coalescing under-
# parallelizing the flush) — see build_blocked_direct/save_blocked.
STORE_BUCKETS = 32
STORE_SALT_FILES = 8
# positions variant: per-run packed int32 token offsets, posting order
PACKED_SCHEMA_POS = PACKED_SCHEMA + ", pos binary"
_SENTINEL = ""

# Arrow batch size for the BUILD actions (emit materialize, encode+
# flush) — results are batch-size-invariant (runs merge per (term,
# rsalt) group; block boundaries depend only on docID order), so this
# is purely a transport knob. A bandwidth-bound real-network cluster
# may want bigger batches (fewer hops); the DEFAULT equals the session
# default because the r5 measurement campaign (tools/ipc_probe.py,
# BENCH.md §4 r5 subsection) found syscalls/turn INVARIANT to a 6.5×
# batch raise (~0.16 rw-syscalls/turn either way — the r4 "syscall-
# heavy pipeline" hypothesis did not survive direct measurement) and
# the raised-batch+raised-buffer combination measured a 22% lower
# 8-core median over 5 interleaved pairs on this host.
BUILD_ARROW_BATCH_ROWS = int(os.environ.get("NEXLT_ARROW_BATCH_BUILD", "10000"))


class _build_arrow_batch:
    """Temporarily raise spark.sql.execution.arrow.maxRecordsPerBatch
    around a build ACTION (the conf is read at execution time, so it
    must be active when the job runs, not when the DAG is defined)."""

    _KEY = "spark.sql.execution.arrow.maxRecordsPerBatch"

    def __init__(self, spark, rows: int = BUILD_ARROW_BATCH_ROWS):
        self.spark, self.rows = spark, rows

    def __enter__(self):
        self.old = self.spark.conf.get(self._KEY, None)
        self.spark.conf.set(self._KEY, str(self.rows))

    def __exit__(self, *exc):
        if self.old is None:
            self.spark.conf.unset(self._KEY)
        else:
            self.spark.conf.set(self._KEY, self.old)


def _emit_packed(
    doc_id_col: str,
    text_col: str,
    analyzer: str,
    range_shift: int,
    positions: bool = False,
    wire: str = "raw",
):
    """mapInPandas kernel: document batch → packed posting-run rows.

    wire: how run payloads cross the emit→encode exchange.
      "raw"    — native-width numpy bytes (int64 doc, int32 tf/dl/pos).
                 Fastest when the shuffle is loopback/tmpfs (measured on
                 this box: varint costs more CPU than the memcpy it
                 saves — BENCH.md §5).
      "varint" — per-run-restart delta+varint, the SAME wire format
                 decode_block_rows/decode_positions_rows read (~4 B per
                 posting and ~1 B per token instead of 16 B + 4 B). The
                 right choice when the exchange crosses a real network:
                 a 1000-executor cluster shuffles 4× fewer bytes.
    """
    from nexlt_spark.analysis import ANALYZERS, batch_token_codes

    spec = ANALYZERS[analyzer]

    def emit(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            doc_ids = pdf[doc_id_col].to_numpy(dtype=np.int64)
            # chain-order-faithful shared tokenizer (tokenize() semantics) —
            # lens is the post-chain dl, so sum_dl/avgdl stay oracle-exact
            # for elision chains too (ADVICE r2, high)
            doc_idx, codes, uniques, lens = batch_token_codes(pdf[text_col], spec)
            # sentinel: per-doc lengths packed; stats aggregable without unpack
            sent = pd.DataFrame(
                {
                    "term": [_SENTINEL],
                    "rsalt": [int(doc_ids[0]) >> range_shift],
                    "n": [len(doc_ids)],
                    "sum_dl": [int(lens.sum())],
                    "doc_ids": [doc_ids.tobytes()],
                    "tfs": [b""],
                    "dls": [lens.astype(np.int32).tobytes()],
                }
            )
            if positions:
                sent["pos"] = [b""]
            if len(codes) == 0:
                yield sent
                continue
            v = len(uniques)
            key = doc_idx * v + codes
            if positions:
                # group token instances by posting with a STABLE sort so
                # the per-posting position runs come out ascending, then
                # slice at boundaries — same trick as the flat kernel
                total = len(key)
                doc_starts = np.zeros(len(doc_ids), dtype=np.int64)
                np.cumsum(lens[:-1], out=doc_starts[1:])
                tok_pos = np.arange(total, dtype=np.int64) - doc_starts[doc_idx]
                tok_order = np.argsort(key, kind="stable")
                ks = key[tok_order]
                kcut = np.flatnonzero(np.diff(ks)) + 1
                kstarts = np.concatenate(([0], kcut))
                uk = ks[kstarts]
                counts = np.diff(np.concatenate((kstarts, [total])))
                pos_by_posting = tok_pos[tok_order]  # concat per posting, key order
            else:
                uk, counts = np.unique(key, return_counts=True)
            ud = (uk // v).astype(np.int64)
            p_doc = doc_ids[ud]
            p_term = (uk % v).astype(np.int64)
            p_tf = counts.astype(np.int32)
            p_dl = lens[ud].astype(np.int32)
            p_rsalt = p_doc >> range_shift

            # group the batch's postings by (term code, rsalt): sort by the
            # fused key once, then split at boundaries — pure numpy. One
            # batch spans ≤ maxRecordsPerBatch docs, so its rsalt spread is
            # tiny — rebase to the batch minimum and use the actual span as
            # the multiplier so keys from different terms can never collide
            # however sparse/offset the batch's doc_ids are. p_doc as the
            # lexsort minor key forces within-run docID-ascending order
            # even when the input batch itself isn't doc-sorted — the
            # delta encoding below requires it.
            rel_rsalt = p_rsalt - p_rsalt.min()
            span = np.int64(rel_rsalt.max()) + 1
            fuse = p_term * span + rel_rsalt
            order = np.lexsort((p_doc, fuse))
            p_doc, p_term, p_tf, p_dl, p_rsalt, fuse = (
                p_doc[order], p_term[order], p_tf[order], p_dl[order], p_rsalt[order], fuse[order],
            )
            cut = np.flatnonzero(np.diff(fuse)) + 1
            starts = np.concatenate(([0], cut))
            ends = np.concatenate((cut, [len(fuse)]))
            terms_arr = np.asarray(uniques, dtype=object)
            if wire == "varint":
                deltas = np.empty_like(p_doc)
                if len(p_doc):
                    deltas[0] = p_doc[0]
                    np.subtract(p_doc[1:], p_doc[:-1], out=deltas[1:])
                    deltas[starts] = p_doc[starts]
                buf_ids, off_ids = _varint_encode_with_offsets(deltas)
                buf_tfs, off_tfs = _varint_encode_with_offsets(p_tf)
                buf_dls, off_dls = _varint_encode_with_offsets(p_dl)
                enc_ids = [bytes(buf_ids[off_ids[s] : off_ids[e]]) for s, e in zip(starts, ends)]
                enc_tfs = [bytes(buf_tfs[off_tfs[s] : off_tfs[e]]) for s, e in zip(starts, ends)]
                enc_dls = [bytes(buf_dls[off_dls[s] : off_dls[e]]) for s, e in zip(starts, ends)]
            else:
                enc_ids = [p_doc[s:e].tobytes() for s, e in zip(starts, ends)]
                enc_tfs = [p_tf[s:e].tobytes() for s, e in zip(starts, ends)]
                enc_dls = [p_dl[s:e].tobytes() for s, e in zip(starts, ends)]
            rows = {
                "term": terms_arr[p_term[starts]],
                "rsalt": p_rsalt[starts].astype(np.int64),
                "n": (ends - starts).astype(np.int32),
                "sum_dl": np.zeros(len(starts), dtype=np.int64),
                "doc_ids": enc_ids,
                "tfs": enc_tfs,
                "dls": enc_dls,
            }
            if positions:
                # reorder the token stream to the fuse (term, rsalt)
                # posting order via stable argsort of the posting ranks —
                # intra-posting ascending order is preserved
                npost = len(uk)
                rank = np.empty(npost, dtype=np.int64)
                rank[order] = np.arange(npost, dtype=np.int64)
                ppost = np.repeat(np.arange(npost, dtype=np.int64), counts)
                tok_new = np.argsort(rank[ppost], kind="stable")
                pos_final = pos_by_posting[tok_new].astype(np.int64)
                tok_bounds = np.zeros(npost + 1, dtype=np.int64)
                np.cumsum(p_tf.astype(np.int64), out=tok_bounds[1:])
                if wire == "varint":
                    # per-posting-restart delta+varint — what
                    # decode_positions_rows reads: ~1 B/token on the wire
                    pdel = np.empty_like(pos_final)
                    if len(pos_final):
                        pdel[0] = pos_final[0]
                        np.subtract(pos_final[1:], pos_final[:-1], out=pdel[1:])
                        pdel[tok_bounds[:-1]] = pos_final[tok_bounds[:-1]]
                    buf_pos, off_pos = _varint_encode_with_offsets(pdel)
                    rows["pos"] = [
                        bytes(buf_pos[off_pos[tok_bounds[s]] : off_pos[tok_bounds[e]]])
                        for s, e in zip(starts, ends)
                    ]
                else:
                    pos32 = pos_final.astype(np.int32)
                    rows["pos"] = [
                        pos32[tok_bounds[s] : tok_bounds[e]].tobytes()
                        for s, e in zip(starts, ends)
                    ]
            yield pd.concat([sent, pd.DataFrame(rows)], ignore_index=True)

    return emit


def _merge_group_core(
    ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    ns: np.ndarray,
    pos_flat: Optional[np.ndarray],
    avgdl: float,
    block_size: int,
    positions: bool,
):
    """One (term, rsalt) group of concatenated runs → block column dict
    (codec.encode_blocks_columns shape, plus "pos" when positions) or
    None. Pure numpy — shared by the per-group applyInPandas kernel and
    the streamed multi-group kernel so their stores are byte-identical.

    Merge: each run arrives docID-ascending and runs from different
    batches cover disjoint doc spans (flatten assigns contiguous docIDs
    per partition), so ordering runs by first docID and CONCATENATING is
    the merge — O(runs log runs) instead of an O(n log n) argsort+gather
    over all postings. Falls back to the full argsort if spans overlap.
    """
    from nexlt_spark.index.codec import encode_blocks_columns, encode_positions_blocks

    run_starts = np.zeros(len(ns), dtype=np.int64)
    np.cumsum(ns[:-1], out=run_starts[1:])
    run_ends = run_starts + ns
    first, last = ids[run_starts], ids[run_ends - 1]
    ro = np.argsort(first, kind="stable")
    fo, lo_ = first[ro], last[ro]
    if len(ns) == 1:
        order = None
    elif np.all(lo_[:-1] < fo[1:]):
        lens = ns[ro]
        out_starts = np.zeros(len(ns), dtype=np.int64)
        np.cumsum(lens[:-1], out=out_starts[1:])
        order = (
            np.arange(len(ids), dtype=np.int64)
            - np.repeat(out_starts, lens)
            + np.repeat(run_starts[ro], lens)
        )
    else:
        order = np.argsort(ids, kind="stable")
    pos_sorted = None
    if positions:
        tfs64 = tfs.astype(np.int64)
        if order is None:
            pos_sorted = pos_flat.astype(np.int64)
        else:
            # token-level gather mirroring the posting gather: each
            # ordered posting contributes its contiguous token span
            tok_bounds = np.zeros(len(ids) + 1, dtype=np.int64)
            np.cumsum(tfs64, out=tok_bounds[1:])
            tlens = tfs64[order]
            touts = np.zeros(len(ids), dtype=np.int64)
            np.cumsum(tlens[:-1], out=touts[1:])
            tok_new = (
                np.arange(tok_bounds[-1], dtype=np.int64)
                - np.repeat(touts, tlens)
                + np.repeat(tok_bounds[order], tlens)
            )
            pos_sorted = pos_flat[tok_new].astype(np.int64)
    if order is not None:
        ids, tfs, dls = ids[order], tfs[order], dls[order]
    tfd = tfs.astype(np.float64)
    dld = dls.astype(np.float64)
    tfn = (tfd * K1_PLUS_1) / (tfd + K1 * (ONE_MINUS_B + (B_PARAM * dld) / avgdl))
    cols = encode_blocks_columns(
        ids.astype(np.uint64), tfs.astype(np.uint64), dls.astype(np.uint64), tfn, block_size
    )
    if cols is not None and positions:
        cols["pos"] = encode_positions_blocks(pos_sorted, tfs.astype(np.int64), block_size)
    return cols


def _group_cols(pdf: pd.DataFrame, positions: bool):
    """Batch columns → numpy object arrays, converted ONCE per batch so
    the stream kernel's per-group slicing is O(group), not O(batch)."""
    return (
        pdf["n"].to_numpy(np.int64),
        pdf["doc_ids"].to_numpy(object),
        pdf["tfs"].to_numpy(object),
        pdf["dls"].to_numpy(object),
        pdf["pos"].to_numpy(object) if positions else None,
    )


def _group_arrays_from(cols, positions: bool, wire: str, sl=slice(None)):
    """Pre-converted batch columns [sl] (one (term,rsalt) group of packed
    runs) → flat (ids, tfs, dls, ns, pos_flat) numpy arrays, wire-decoded."""
    from nexlt_spark.index.codec import decode_block_rows, decode_positions_rows

    ns_all, id_col, tf_col, dl_col, pos_col = cols
    ns = ns_all[sl]
    if wire == "varint":
        _, uids, utfs, udls = decode_block_rows(
            [bytes(x) for x in id_col[sl]],
            [bytes(x) for x in tf_col[sl]],
            [bytes(x) for x in dl_col[sl]],
            ns,
        )
        ids = uids.astype(np.int64)
        tfs = utfs.astype(np.int32)
        dls = udls.astype(np.int32)
    else:
        ids = np.frombuffer(b"".join(id_col[sl]), dtype=np.int64)
        tfs = np.frombuffer(b"".join(tf_col[sl]), dtype=np.int32)
        dls = np.frombuffer(b"".join(dl_col[sl]), dtype=np.int32)
    pos_flat = None
    if positions:
        if wire == "varint":
            pos_flat = decode_positions_rows(
                [bytes(x) for x in pos_col[sl]], tfs.astype(np.int64)
            )
        else:
            pos_flat = np.frombuffer(b"".join(pos_col[sl]), dtype=np.int32)
    return ids, tfs, dls, ns, pos_flat


def _group_arrays(pdf: pd.DataFrame, positions: bool, wire: str, sl=slice(None)):
    """One-group convenience wrapper (the applyInPandas kernel path)."""
    return _group_arrays_from(_group_cols(pdf, positions), positions, wire, sl)


_BLOCK_COL_NAMES = [
    "block_id", "n", "first_doc_id", "last_doc_id", "doc_ids", "tfs", "dls", "max_tfnorm",
]


def _encode_packed(
    avgdl: float,
    block_size: int = BLOCK_SIZE,
    positions: bool = False,
    wire: str = "raw",
):
    """applyInPandas kernel: (term, rsalt) group of packed runs → block rows.

    The groupBy-term applyInPandas merge of partial posting runs
    (north_star wording), on arrays instead of rows. `wire` must match
    the emit side (_emit_packed).
    """

    def encode(pdf: pd.DataFrame) -> pd.DataFrame:
        cols = _merge_group_core(
            *_group_arrays(pdf, positions, wire), avgdl, block_size, positions
        )
        names = _BLOCK_COL_NAMES + (["pos"] if positions else [])
        if cols is None:
            return pd.DataFrame({k: [] for k in ["term", "rsalt"] + names})
        nb = len(cols["block_id"])
        out = {"term": np.full(nb, pdf["term"].iloc[0], dtype=object),
               "rsalt": np.full(nb, int(pdf["rsalt"].iloc[0]), dtype=np.int64)}
        for k in names:
            out[k] = cols[k]
        return pd.DataFrame(out)

    return encode


def _encode_packed_stream(
    avgdl: float,
    block_size: int = BLOCK_SIZE,
    positions: bool = False,
    wire: str = "raw",
):
    """mapInPandas kernel over partitions SORTED by (term, rsalt): the
    same merge as _encode_packed, but many groups per Arrow batch with
    ONE output frame per batch — no per-group pandas/Arrow framing.

    Physically identical dataflow to groupBy.applyInPandas (hash
    exchange on (term, rsalt) + in-partition sort), minus the per-group
    overhead that dominated the encode phase at Zipf-tail group sizes
    (BENCH.md §5). A group spanning Arrow batch boundaries is carried:
    each batch's trailing (possibly incomplete) group is held back and
    prepended to the next batch; the final carry flushes at exhaustion.
    """

    def encode_stream(batches):
        carry: Optional[pd.DataFrame] = None
        names = _BLOCK_COL_NAMES + (["pos"] if positions else [])

        def flush(pdf: pd.DataFrame):
            terms = pdf["term"].to_numpy(object)
            rsalts = pdf["rsalt"].to_numpy(np.int64)
            # group boundaries in the sorted stream
            change = np.empty(len(pdf), dtype=bool)
            change[0] = True
            if len(pdf) > 1:
                change[1:] = (terms[1:] != terms[:-1]) | (rsalts[1:] != rsalts[:-1])
            gstarts = np.flatnonzero(change)
            gends = np.concatenate((gstarts[1:], [len(pdf)]))
            parts = {k: [] for k in ["term", "rsalt"] + names}
            batch_cols = _group_cols(pdf, positions)
            for s, e in zip(gstarts, gends):
                cols = _merge_group_core(
                    *_group_arrays_from(batch_cols, positions, wire, slice(int(s), int(e))),
                    avgdl, block_size, positions,
                )
                if cols is None:
                    continue
                nb = len(cols["block_id"])
                parts["term"].append(np.full(nb, terms[s], dtype=object))
                parts["rsalt"].append(np.full(nb, rsalts[s], dtype=np.int64))
                for k in names:
                    parts[k].append(cols[k])
            if not parts["term"]:
                return None
            out = {}
            for k, chunks in parts.items():
                if isinstance(chunks[0], np.ndarray):
                    out[k] = np.concatenate(chunks)
                else:  # payload byte lists
                    out[k] = [b for chunk in chunks for b in chunk]
            return pd.DataFrame(out)

        for pdf in batches:
            if len(pdf) == 0:
                continue
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            terms = pdf["term"].to_numpy(object)
            rsalts = pdf["rsalt"].to_numpy(np.int64)
            # hold back the trailing group — it may continue next batch
            last_t, last_r = terms[-1], rsalts[-1]
            tail_mask = (terms == last_t) & (rsalts == last_r)
            # rows of the last group are contiguous (sorted input): the
            # tail starts at the first index of the run ending at len-1
            tail_start = len(pdf) - int(tail_mask[::-1].argmin() or len(pdf))
            carry = pdf.iloc[tail_start:].reset_index(drop=True)
            head = pdf.iloc[:tail_start]
            if len(head):
                out = flush(head)
                if out is not None:
                    yield out
        if carry is not None and len(carry):
            out = flush(carry)
            if out is not None:
                yield out

    return encode_stream


def _unpack_doc_stats(packed_sentinels: DataFrame) -> DataFrame:
    def unpack(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = np.frombuffer(b"".join(pdf["doc_ids"]), dtype=np.int64)
            dls = np.frombuffer(b"".join(pdf["dls"]), dtype=np.int32)
            yield pd.DataFrame({"doc_id": ids, "dl": dls})

    return packed_sentinels.select("doc_ids", "dls").mapInPandas(
        unpack, schema="doc_id long, dl int"
    )


def build_blocked_direct(
    documents: DataFrame,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    analyzer: str = "standard",
    range_shift: int = DEFAULT_RANGE_SHIFT,
    block_size: int = BLOCK_SIZE,
    persist_packed: bool = True,
    positions: bool = False,
    wire: str = "raw",
    group_exec: str = "stream",
) -> BlockedIndex:
    """documents → BlockedIndex in one packed pipeline (the scale path).

    Protocol-compatible with the flat-path BlockedIndex: same blocks
    schema, doc_stats, term_stats, stats — the query layer cannot tell
    the difference (asserted in tests/test_packed.py). positions=True
    threads per-posting token offsets through the packed runs into the
    per-block position payloads (phrase queries off the packed store).
    wire="varint" compresses the run payloads BEFORE the emit→encode
    exchange (see _emit_packed — choose it when the shuffle crosses a
    real network; raw wins on loopback/tmpfs shuffles).
    group_exec: "stream" (default) encodes via repartition+sort+
    mapInPandas — same exchange and in-partition sort the groupBy plan
    runs, but many groups per Arrow batch (no per-group framing);
    "grouped" is the literal groupBy(term, rsalt).applyInPandas form.
    Both produce byte-identical stores (asserted in tests).
    """
    packed = documents.select(doc_id_col, text_col).mapInPandas(
        _emit_packed(doc_id_col, text_col, analyzer, range_shift, positions, wire),
        schema=PACKED_SCHEMA_POS if positions else PACKED_SCHEMA,
    )
    if persist_packed:
        packed = packed.persist()

    # Sentinel rows are ~1 per emit batch (tiny: packed per-doc lens).
    # Persist them as their OWN cache so the doc_stats consumer reads a
    # few MB instead of re-scanning the multi-GB packed cache — the
    # stats agg below materializes it as a side effect of the scan it
    # already had to do.
    sent = packed.where(F.col("term") == _SENTINEL).select(
        "n", "sum_dl", "doc_ids", "dls"
    )
    if persist_packed:
        sent = sent.persist()
    with _build_arrow_batch(documents.sparkSession):
        # materializes the packed persist (the emit pass) — big Arrow
        # batches: fewer JVM↔Python hops per turn
        agg = sent.agg(
            F.coalesce(F.sum("n"), F.lit(0)).alias("n"),
            F.coalesce(F.sum("sum_dl"), F.lit(0)).alias("tot"),
        ).collect()[0]
    stats = IndexStats(n_docs=int(agg["n"]), total_tokens=int(agg["tot"]))

    posts = packed.where(F.col("term") != _SENTINEL)
    term_stats = posts.groupBy("term").agg(F.sum("n").cast("long").alias("df"))
    doc_stats = _unpack_doc_stats(sent)

    from nexlt_spark.index.blocks import BLOCKS_SCHEMA_POS

    out_schema = BLOCKS_SCHEMA_POS if positions else BLOCKS_SCHEMA
    store_layout = None
    if group_exec == "grouped":
        blocks = posts.groupBy("term", "rsalt").applyInPandas(
            _encode_packed(stats.avgdl, block_size, positions, wire), schema=out_schema
        )
    else:
        # Key the encode exchange by the STORE layout, not by the raw
        # (term, rsalt) group key. (bucket, rsalt mod SALT_FILES) is a
        # pure function of (term, rsalt), so after the in-partition sort
        # every group is still contiguous and the stream kernel sees the
        # exact same groups — but the encoded blocks land ALREADY
        # arranged for save_blocked's partitionBy(term_bucket) write:
        # the encode kernel and the parquet flush fuse into one stage.
        # Measured on this box (BENCH.md §4): the old second shuffle
        # round-tripped every encoded payload (~460 MB at 4.5M turns)
        # and AQE coalesced the write down to ~9 tasks regardless of
        # core count — a fixed-cost tail that capped encode_save's
        # scaling at ~0.58.
        # Explicit partition count: repartition(cols...) without a number
        # is AQE-coalescible, and AQE's advisory size merged this heavy
        # Python-kernel stage down to ~14 tasks REGARDLESS of core count
        # (measured: the encode+flush stage ran 14 tasks at both 2 and 8
        # cores) — parallelism must track the cluster size instead.
        conf_val = posts.sparkSession.conf.get("spark.sql.shuffle.partitions")
        try:
            n_part = int(conf_val)
        except (TypeError, ValueError):
            # e.g. 'auto' under Databricks AQE auto-shuffle
            n_part = posts.sparkSession.sparkContext.defaultParallelism
        blocks = (
            posts.repartition(
                n_part,
                F.pmod(F.xxhash64(F.col("term")), F.lit(STORE_BUCKETS)),
                F.pmod(F.col("rsalt"), F.lit(STORE_SALT_FILES)),
            )
            .sortWithinPartitions("term", "rsalt")
            .mapInPandas(
                _encode_packed_stream(stats.avgdl, block_size, positions, wire),
                schema=out_schema,
            )
        )
        store_layout = STORE_BUCKETS
    return BlockedIndex(
        blocks=blocks,
        doc_stats=doc_stats,
        term_stats=term_stats,
        stats=stats,
        analyzer=analyzer,
        store_layout=store_layout,
    )


def save_blocked(bidx: BlockedIndex, path: str, n_buckets: int = 32) -> None:
    """Persist a BlockedIndex (from any builder) as the bucket-partitioned
    store readable by blocks.load_blocked_index."""
    bucket = F.pmod(F.xxhash64(F.col("term")), F.lit(n_buckets)).cast("int")
    blocks = bidx.blocks.withColumn("term_bucket", bucket)
    if getattr(bidx, "store_layout", None) != n_buckets:
        # second partitioning key: spread each bucket's rows over up to 8
        # files keyed by doc-range, so a single term's blocks never
        # serialize into one scan split (parallel decode at query time).
        # Skipped when the builder already keyed its encode exchange by
        # this exact layout (build_blocked_direct stream path): the
        # parquet flush then runs inside the encode stage itself.
        # key by rsalt AND a 64k-doc range: a coarse range_shift puts a
        # small store in ONE rsalt, which alone would collapse each bucket
        # to ONE parquet file (single scan split per term at query time)
        blocks = blocks.repartition(
            F.col("term_bucket"),
            F.pmod(
                F.col("rsalt") + F.shiftright(F.col("first_doc_id"), 16),
                F.lit(STORE_SALT_FILES),
            ),
        )
    with _build_arrow_batch(bidx.blocks.sparkSession):
        # the encode kernel + parquet flush run inside this action —
        # big Arrow batches: fewer JVM↔Python hops per encoded block
        (
            blocks.write.mode("overwrite")
            .partitionBy("term_bucket")
            .parquet(f"{path}/postings_blocks")
        )
    spark = bidx.blocks.sparkSession
    term_stats = bidx.term_stats
    if getattr(bidx, "store_layout", None) == n_buckets:
        # df(term) = Σ block n (postings are unique (term, doc) pairs),
        # so term_stats can be re-derived from the store just written —
        # a scan of the compact encoded blocks instead of a second full
        # pass over the multi-GB packed emit cache.
        term_stats = (
            spark.read.parquet(f"{path}/postings_blocks")
            .groupBy("term")
            .agg(F.sum("n").cast("long").alias("df"))
        )
    (
        term_stats.withColumn("term_bucket", bucket)
        .write.mode("overwrite")
        .parquet(f"{path}/term_stats")
    )
    # doc_stats is (doc_id, dl) — a few bytes per doc. Writing it from
    # every tiny upstream partition schedules cores×4 near-empty tasks;
    # coalesce to the cluster's core count (scales with cluster size,
    # never below the source's own partitioning on small inputs).
    (
        bidx.doc_stats.coalesce(max(1, spark.sparkContext.defaultParallelism))
        .write.mode("overwrite")
        .parquet(f"{path}/doc_stats")
    )
    _write_stats_table(
        spark,
        f"{path}/stats",
        bidx.stats.n_docs,
        bidx.stats.total_tokens,
        n_buckets,
        bidx.analyzer,
    )


def _write_stats_table(
    spark,
    path: str,
    n_docs: int,
    total_tokens: int,
    n_buckets: int,
    analyzer: str,
) -> None:
    """The stats table is ONE metadata row — on a local store, write it
    driver-side with pyarrow instead of scheduling a 1-task Spark job
    (the Iceberg analog is a manifest write, also a driver/commit-side
    operation). On a URI-scheme store (hdfs://, s3a://) fall back to a
    1-row Spark write so save_blocked works end-to-end on any Hadoop
    filesystem. Readable by spark.read.parquet either way. ``ranged`` is
    always True: load_blocked_index refuses a store without it."""
    from nexlt_spark.fs import local_path

    lp = local_path(path)
    if lp is None:
        (
            spark.createDataFrame(
                [(n_docs, total_tokens, n_buckets, analyzer, True)],
                "n_docs long, total_tokens long, n_buckets int, analyzer string, ranged boolean",
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(path)
        )
        return
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.rmtree(lp, ignore_errors=True)
    os.makedirs(lp, exist_ok=True)
    tbl = pa.table(
        {
            "n_docs": pa.array([n_docs], pa.int64()),
            "total_tokens": pa.array([total_tokens], pa.int64()),
            "n_buckets": pa.array([n_buckets], pa.int32()),
            "analyzer": pa.array([analyzer], pa.string()),
            "ranged": pa.array([True], pa.bool_()),
        }
    )
    pq.write_table(tbl, os.path.join(lp, "part-00000.parquet"))
    open(os.path.join(lp, "_SUCCESS"), "w").close()
