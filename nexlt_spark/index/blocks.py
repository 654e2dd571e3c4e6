"""Blocked (compressed) postings: build, store, and query-time decode.

Physical layout (SURVEY.md M3 / north_star):

- one DataFrame row per posting **block** (≤128 postings): docID-sorted,
  delta+varint doc_ids, varint tfs/dls, per-block max tf_norm — the
  Lucene segment/skip-list analog, re-expressed as a columnar table;
- **uniform range partitioning**: every term's postings are split into
  doc_id-range runs (rsalt = doc_id >> range_shift) BEFORE the
  groupBy(term, rsalt).applyInPandas encode, so no single task ever
  holds a full Zipf-head posting list (SURVEY.md P6 — the reference's
  per-language threads are the hand-rolled version of this) and a
  doc's postings for EVERY term share one rsalt group — the invariant
  the per-range kernels (query.ranged, the fused WAND) score under;
  ranges are disjoint ⇒ the global list is the rsalt-ordered
  concatenation, no second merge pass needed;
- on disk: parquet partitioned by term_bucket = pmod(xxhash64(term), B)
  (the Iceberg bucket(term) transform stand-in) ⇒ query-term lookups
  prune to one directory per term.

Query-time decode is mapInPandas over only the selected terms' block
rows — numpy decode, no per-row Python.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import ClassVar

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nexlt_spark.index.build import IndexStats, InvertedIndex
from nexlt_spark.index.codec import (
    BLOCK_SIZE,
    decode_block_rows,
    decode_positions_rows,
    encode_blocks,
    encode_positions_blocks,
)
from nexlt_spark.scoring import B as B_PARAM
from nexlt_spark.scoring import K1, K1_PLUS_1, ONE_MINUS_B

BLOCKS_SCHEMA = (
    "term string, rsalt long, block_id int, n int, first_doc_id long, "
    "last_doc_id long, doc_ids binary, tfs binary, dls binary, max_tfnorm double"
)
# positions variant: one extra per-block binary payload (the Lucene .pos
# file analog — read only by phrase queries, never by scoring)
BLOCKS_SCHEMA_POS = BLOCKS_SCHEMA + ", pos binary"
DECODED_SCHEMA = "term string, doc_id long, tf int, dl int"
DECODED_SCHEMA_POS = DECODED_SCHEMA + ", positions array<int>"

DEFAULT_RANGE_SHIFT = 16  # one doc range ≈ 65k docIDs


def _encode_group(avgdl: float, block_size: int = BLOCK_SIZE, positions: bool = False):
    def encode(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        ids = pdf["doc_id"].to_numpy(np.uint64)
        tfs = pdf["tf"].to_numpy(np.uint64)
        dls = pdf["dl"].to_numpy(np.uint64)
        tfd = tfs.astype(np.float64)
        dld = dls.astype(np.float64)
        # same op order as scoring.tf_norm, vectorized
        tfn = (tfd * K1_PLUS_1) / (tfd + K1 * (ONE_MINUS_B + (B_PARAM * dld) / avgdl))
        rows = encode_blocks(ids, tfs, dls, tfn, block_size)
        term = pdf["term"].iloc[0]
        rsalt = int(pdf["rsalt"].iloc[0])
        cols = [
            "term", "rsalt", "block_id", "n", "first_doc_id", "last_doc_id",
            "doc_ids", "tfs", "dls", "max_tfnorm",
        ]
        out = pd.DataFrame([(term, rsalt) + r for r in rows], columns=cols)
        if positions:
            flat = (
                np.concatenate([np.asarray(x, dtype=np.int64) for x in pdf["positions"]])
                if len(pdf)
                else np.zeros(0, dtype=np.int64)
            )
            out["pos"] = encode_positions_blocks(flat, tfs.astype(np.int64), block_size)
        return out

    return encode


def build_blocks(
    index: InvertedIndex,
    range_shift: int = DEFAULT_RANGE_SHIFT,
    block_size: int = BLOCK_SIZE,
) -> DataFrame:
    """Flat postings → blocked postings DataFrame (one row per block),
    every term range-partitioned by rsalt = doc_id >> range_shift — the
    layout every BlockedIndex is scored under.

    A positions-bearing flat index (build_index(positions=True)) yields
    positions-bearing blocks (extra per-block `pos` binary) — phrase
    queries then run off the blocked store too.
    """
    with_pos = index.has_positions
    return (
        index.postings.withColumn(
            "rsalt", F.shiftright(F.col("doc_id"), range_shift).cast("long")
        )
        .groupBy("term", "rsalt")
        .applyInPandas(
            _encode_group(index.stats.avgdl, block_size, with_pos),
            schema=BLOCKS_SCHEMA_POS if with_pos else BLOCKS_SCHEMA,
        )
    )


def decode_terms(blocks: DataFrame, terms: list[str], positions: bool = False) -> DataFrame:
    """Selected terms' blocks → flat (term, doc_id, tf, dl[, positions]).

    positions=True requires positions-bearing blocks (pos column) and
    adds the per-posting offsets array — decoded ONLY when asked for, so
    the scoring path never pays for the position payload.
    """
    if positions and "pos" not in blocks.columns:
        raise ValueError("blocked index was built without positions")
    cols = ["term", "n", "doc_ids", "tfs", "dls"] + (["pos"] if positions else [])
    sel = blocks.where(F.col("term").isin(list(terms))).select(*cols)

    def dec(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # ONE vectorized decode across every block row in the batch
            block_of, ids, tfs, dls = decode_block_rows(
                [bytes(x) for x in pdf["doc_ids"]],
                [bytes(x) for x in pdf["tfs"]],
                [bytes(x) for x in pdf["dls"]],
                pdf["n"].to_numpy(),
            )
            terms_arr = pdf["term"].to_numpy()
            out = pd.DataFrame(
                {
                    "term": terms_arr[block_of],
                    "doc_id": ids.astype(np.int64),
                    "tf": tfs.astype(np.int32),
                    "dl": dls.astype(np.int32),
                }
            )
            if positions:
                tfs64 = tfs.astype(np.int64)
                flat = decode_positions_rows([bytes(x) for x in pdf["pos"]], tfs64)
                cuts = np.cumsum(tfs64[:-1])
                out["positions"] = np.split(flat.astype(np.int32), cuts)
            yield out

    return sel.mapInPandas(dec, schema=DECODED_SCHEMA_POS if positions else DECODED_SCHEMA)


@dataclass
class BlockedIndex:
    """Query-facing index backed by the blocked postings table.

    Implements the same protocol the exact query path uses on
    InvertedIndex: stats, term_dfs(terms), lookup(terms).

    Every BlockedIndex is ranged: each term's postings are partitioned
    by rsalt = doc_id >> range_shift (build_blocks, the packed builder),
    so the per-range kernels (query.ranged, the fused WAND) score it.
    ``ranged`` is a class constant, not a constructor field; callers
    read it with ``getattr(index, "ranged", False)``, which is False for
    the flat InvertedIndex and for ShardedIndex.

    The driver serving caches (term metadata, skip data, θ probes,
    decoded blocks) are created here, once per index object; their byte
    budgets are read from query.wand on every eviction pass, so tests
    that monkeypatch those module knobs reach existing caches too.
    """

    ranged: ClassVar[bool] = True

    blocks: DataFrame
    doc_stats: DataFrame
    term_stats: DataFrame
    stats: IndexStats
    n_buckets: int | None = None
    analyzer: str = "standard"
    # set by builders whose blocks DAG is ALREADY exchange-keyed in the
    # on-disk store layout (term_bucket, rsalt mod salt-files): lets
    # save_blocked skip its layout repartition and fuse encode + flush
    store_layout: int | None = None
    # set by load_blocked_index: the on-disk store root. When present,
    # the WAND serving path reads key-selected blocks DIRECTLY with
    # pyarrow.dataset (partition + row-group pruned, in-process) instead
    # of scheduling a Spark scan per fetch — the Lucene-searcher analog
    # (a searcher reads its index files; it doesn't launch cluster jobs).
    store_path: str | None = None

    # byte budget for the term-dictionary cache: entries are ~100 B
    # (string key + (df, bucket) tuple), so 32 MB holds ~300k hot terms;
    # a 10^8-term vocabulary can no longer grow the driver unboundedly
    # (VERDICT r4 "what's wrong" #1 — the old count cap purged only
    # negative entries and let positives grow with the vocabulary)
    _TERM_CACHE_MAX_BYTES = 32 * 1024 * 1024

    # negative (term-absent) entries live in their OWN bounded FIFO so a
    # stream of distinct OOV strings (typos, adversarial input) can never
    # evict the hot POSITIVE dictionary by recency (review r5 — same
    # policy as query.wand's _note_negative)
    _TERM_NEG_CACHE_CAP = 50_000

    def __post_init__(self) -> None:
        # driver-side term-dictionary cache: term → (df, term_bucket).
        # A Lucene/Solr searcher resolves term stats from an in-process
        # dictionary, not a cluster job — memoizing collapses the two
        # tiny per-query metadata jobs (df lookup + bucket discovery)
        # into one, amortized across repeated terms. ByteLRU: byte-
        # bounded and lock-protected (concurrent searcher threads).
        import threading
        from collections import OrderedDict

        from nexlt_spark.lru import ByteLRU
        from nexlt_spark.query import wand as W

        self._term_cache = ByteLRU(lambda: self._TERM_CACHE_MAX_BYTES)
        self._term_negs: OrderedDict = OrderedDict()
        self._term_negs_lock = threading.Lock()
        # query.wand's driver caches: positive term metadata (byte LRU)
        # plus a bounded FIFO of term-absent entries, per-term skip
        # arrays, memoized θ probes, and decoded block payloads
        self._term_meta_cache = ByteLRU(lambda: W._META_CACHE_MAX_BYTES)
        self._term_meta_negs: OrderedDict = OrderedDict()
        self._term_meta_negs_lock = threading.Lock()
        self._skip_cache = ByteLRU(lambda: W._SKIP_CACHE_MAX_BYTES)
        self._theta_probe_cache = ByteLRU(lambda: W._THETA_CACHE_MAX_BYTES)
        self._decoded_block_cache = ByteLRU(lambda: W._BLOCK_CACHE_MAX_BYTES)

    @property
    def _decoded_block_bytes(self) -> int:
        """Retained bytes in the decoded-block LRU (telemetry and tests)."""
        return self._decoded_block_cache.nbytes

    def persist(self) -> "BlockedIndex":
        self.blocks.persist()
        self.term_stats.persist()
        return self

    def _resolve_terms(self, terms: list[str]) -> dict[str, tuple[int, int | None]]:
        """term → (df, term_bucket) via the cache; misses cost ONE
        metadata job. Returns a LOCAL dict — ByteLRU entries written here
        can be evicted before the caller reads them (tiny test budgets,
        concurrent serving traffic), so callers never re-read the cache."""
        out: dict[str, tuple[int, int | None]] = {}
        missing = []
        with self._term_negs_lock:
            negs = self._term_negs
            for t in set(terms):
                if t in negs:
                    out[t] = (0, None)
        for t in set(terms):
            if t in out:
                continue
            v = self._term_cache.get(t)
            if v is None:
                missing.append(t)
            else:
                out[t] = v
        if not missing:
            return out
        cols = ["term", "df"] + (
            ["term_bucket"] if "term_bucket" in self.term_stats.columns else []
        )
        rows = self.term_stats.where(F.col("term").isin(missing)).select(*cols).collect()
        for r in rows:
            out[r["term"]] = (
                r["df"],
                r["term_bucket"] if "term_bucket" in cols else None,
            )
        for t in missing:
            v = out.get(t)
            if v is not None:
                self._term_cache[t] = v  # positives: byte-bounded LRU
            else:
                out[t] = (0, None)
                with self._term_negs_lock:  # negatives: bounded FIFO
                    self._term_negs[t] = None
                    if len(self._term_negs) > self._TERM_NEG_CACHE_CAP:
                        self._term_negs.popitem(last=False)
        return out

    def term_dfs(self, terms: list[str]) -> dict[str, int]:
        resolved = self._resolve_terms(terms)
        return {t: v[0] for t, v in resolved.items() if v[0] > 0}

    def term_buckets(self, terms: list[str]) -> list[int]:
        resolved = self._resolve_terms(terms)
        return sorted({v[1] for v in resolved.values() if v[1] is not None})

    @property
    def has_positions(self) -> bool:
        return "pos" in self.blocks.columns

    def lookup(self, terms: list[str], positions: bool = False) -> DataFrame:
        b = self.blocks
        if self.n_buckets and "term_bucket" in b.columns:
            if not self.term_dfs(terms):
                # every queried term is absent (negative-cached df=0) —
                # short-circuit to an empty relation instead of
                # scheduling a scan over every bucket directory
                return decode_terms(b.where(F.lit(False)), terms, positions)
            # push a partition filter: term_bucket ∈ {bucket(t) for t in terms}
            buckets = self.term_buckets(terms)
            if buckets:
                b = b.where(F.col("term_bucket").isin(buckets))
        return decode_terms(b, terms, positions)


# --------------------------------------------------------------------------
# On-disk store (parquet, bucket-partitioned — the Iceberg stand-in)
# --------------------------------------------------------------------------


def save_blocked_index(
    index: InvertedIndex,
    path: str,
    n_buckets: int = 32,
    range_shift: int = DEFAULT_RANGE_SHIFT,
) -> None:
    """Build ranged blocks from an InvertedIndex and persist them.

    Delegates to packed.save_blocked so the repo has ONE store writer;
    the store it writes is the one load_blocked_index reads."""
    from nexlt_spark.index.packed import save_blocked

    bidx = BlockedIndex(
        blocks=build_blocks(index, range_shift),
        doc_stats=index.doc_stats,
        term_stats=index.term_stats,
        stats=index.stats,
        analyzer=index.analyzer,
    )
    save_blocked(bidx, path, n_buckets=n_buckets)


def load_blocked_index(spark: SparkSession, path: str) -> BlockedIndex:
    """Open an on-disk store. Stores written before every blocked layout
    was ranged (stats ``ranged`` false or absent) hold hot-term-salted
    postings the per-range kernels would mis-score — AND queries would
    silently miss docs whose terms landed in different rsalt groups —
    so they are refused; rebuild them with save_blocked_index or
    packed.save_blocked."""
    st = spark.read.parquet(f"{path}/stats").collect()[0]
    if "ranged" not in st.__fields__ or not st["ranged"]:
        raise ValueError(
            f"blocked store at {path} uses the retired non-ranged layout; "
            "rebuild it (save_blocked_index or packed.save_blocked)"
        )
    return BlockedIndex(
        blocks=spark.read.parquet(f"{path}/postings_blocks"),
        doc_stats=spark.read.parquet(f"{path}/doc_stats"),
        term_stats=spark.read.parquet(f"{path}/term_stats"),
        stats=IndexStats(n_docs=st["n_docs"], total_tokens=st["total_tokens"]),
        n_buckets=st["n_buckets"],
        analyzer=st["analyzer"] if "analyzer" in st.__fields__ else "standard",
        store_path=path,
    )
