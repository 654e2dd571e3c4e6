"""Resumable index build: per-partition checkpoints, lineage, merge-of-runs.

The reference's ingest is restartable batch: the Passolo pipeline keeps a
mtime watermark file and re-processes only newer inputs
(`tr2solr.sh` touch/rename protocol, `parseJSON.pl:413`), and Solr
commits every N docs (`AthenaExportMt.java:363-384`) so a crashed run
resumes at the last commit. North_rule upgrades this to: "resumable from
per-partition checkpoints with lineage + build metrics (postings/sec,
bytes/partition)"; "segment merge is expressed as groupBy-term
applyInPandas merge of partial posting runs".

Layout under ``path``::

    runs/chunk=K/*.parquet      raw posting run for input chunk K
                                (term, doc_id, tf, dl; sentinel term=''
                                rows carry doc lengths — one file set
                                per chunk, the Lucene flush-segment
                                analog)
    manifest/chunk-K.json       atomic done-marker + per-chunk metrics
    index/...                   final merged blocked index
                                (the ranged save_blocked_index store)
    lineage.json                build_id, per-chunk lineage rows, and
                                the global stats snapshot (N, avgdl)
                                frozen at merge time

Chunking is ``pmod(doc_id, n_chunks)`` — a pure function of the stable
docID (flatten.py assigns doc_ids by dense rank over (conv_id,
turn_idx)), so re-running any chunk yields byte-identical runs and
resume ≡ uninterrupted build (asserted in tests/test_checkpoint.py).
At 10^12 rows each chunk is itself a fully distributed job; the
driver-side loop is over CHECKPOINT UNITS (tens), never rows. When the
source Iceberg table is bucketed by doc_id the per-chunk scan prunes to
its buckets; otherwise it's a predicate scan — correctness unaffected.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nexlt_spark.index.blocks import (
    DEFAULT_RANGE_SHIFT,
    BlockedIndex,
    load_blocked_index,
    save_blocked_index,
)
from nexlt_spark.index.build import (
    RAW_SCHEMA,
    _SENTINEL,
    IndexStats,
    InvertedIndex,
    _emit_postings,
)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _manifest_path(path: str, chunk: int) -> str:
    return os.path.join(path, "manifest", f"chunk-{chunk}.json")


def done_chunks(path: str, n_chunks: int) -> List[int]:
    return [c for c in range(n_chunks) if os.path.exists(_manifest_path(path, c))]


@dataclass
class ChunkResult:
    chunk: int
    n_docs: int
    n_postings: int
    bytes_written: int
    seconds: float

    @property
    def postings_per_sec(self) -> float:
        return self.n_postings / self.seconds if self.seconds else 0.0


def build_runs(
    documents: DataFrame,
    path: str,
    n_chunks: int = 16,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    build_id: str = "build-0",
    fail_after: Optional[int] = None,
) -> List[ChunkResult]:
    """Phase 1 — write per-chunk posting runs; resumable & idempotent.

    Calling again after a crash skips chunks with a done-marker and
    processes only the rest. ``fail_after``: raise after that many
    chunks complete (test hook simulating a mid-build crash).
    """
    os.makedirs(os.path.join(path, "manifest"), exist_ok=True)
    results: List[ChunkResult] = []
    completed_this_call = 0
    for chunk in range(n_chunks):
        mpath = _manifest_path(path, chunk)
        if os.path.exists(mpath):
            continue
        t0 = time.perf_counter()
        sub = documents.where(F.pmod(F.col(doc_id_col), F.lit(n_chunks)) == chunk)
        run_dir = os.path.join(path, "runs", f"chunk={chunk}")
        raw = sub.select(doc_id_col, text_col).mapInPandas(
            _emit_postings(doc_id_col, text_col), schema=RAW_SCHEMA
        )
        raw.write.mode("overwrite").parquet(run_dir)
        spark = documents.sparkSession
        counts = (
            spark.read.parquet(run_dir)
            .agg(
                F.sum((F.col("term") == _SENTINEL).cast("long")).alias("docs"),
                F.sum((F.col("term") != _SENTINEL).cast("long")).alias("posts"),
            )
            .collect()[0]
        )
        res = ChunkResult(
            chunk=chunk,
            n_docs=int(counts["docs"] or 0),
            n_postings=int(counts["posts"] or 0),
            bytes_written=_dir_bytes(run_dir),
            seconds=time.perf_counter() - t0,
        )
        # atomic done-marker: write sidecar then rename (the watermark-file
        # rename protocol of tr2solr.sh, made per-partition)
        tmp = mpath + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(
                {
                    "build_id": build_id,
                    "chunk": chunk,
                    "n_docs": res.n_docs,
                    "n_postings": res.n_postings,
                    "bytes": res.bytes_written,
                    "seconds": round(res.seconds, 4),
                    "postings_per_sec": round(res.postings_per_sec, 1),
                },
                fh,
            )
        os.replace(tmp, mpath)
        results.append(res)
        completed_this_call += 1
        if fail_after is not None and completed_this_call >= fail_after:
            raise RuntimeError(f"injected failure after {fail_after} chunks")
    return results


def index_from_runs(spark: SparkSession, path: str) -> InvertedIndex:
    """Assemble the logical InvertedIndex view over all finished runs."""
    raw = spark.read.parquet(os.path.join(path, "runs"))
    postings = raw.where(F.col("term") != _SENTINEL)
    doc_stats = raw.where(F.col("term") == _SENTINEL).select("doc_id", "dl")
    term_stats = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    agg = doc_stats.agg(
        F.count(F.lit(1)).alias("n"), F.coalesce(F.sum("dl"), F.lit(0)).alias("tot")
    ).collect()[0]
    stats = IndexStats(n_docs=int(agg["n"]), total_tokens=int(agg["tot"]))
    return InvertedIndex(postings=postings, doc_stats=doc_stats, term_stats=term_stats, stats=stats)


def merge_runs(
    spark: SparkSession,
    path: str,
    n_chunks: int,
    build_id: str = "build-0",
    n_buckets: int = 32,
    range_shift: int = DEFAULT_RANGE_SHIFT,
) -> BlockedIndex:
    """Phase 2 — the segment merge: partial posting runs (one per chunk,
    each holding a slice of every term's postings) are combined per term
    by the groupBy(term, rsalt).applyInPandas block encode
    (index.blocks.build_blocks, every term range-partitioned by
    rsalt = doc_id >> range_shift) — the north_star's "groupBy-term
    applyInPandas merge of partial posting runs" — and written as the
    final bucket-partitioned blocked index.

    Global stats (N, avgdl, df) are recomputed here over ALL runs —
    never carried over from a partial build (SURVEY.md §7.4 "global
    stats consistency") — and frozen into lineage.json.
    """
    missing = [c for c in range(n_chunks) if not os.path.exists(_manifest_path(path, c))]
    if missing:
        raise RuntimeError(f"cannot merge: chunks not built yet: {missing}")
    idx = index_from_runs(spark, path)
    save_blocked_index(
        idx,
        os.path.join(path, "index"),
        n_buckets=n_buckets,
        range_shift=range_shift,
    )
    chunks = []
    for c in range(n_chunks):
        with open(_manifest_path(path, c)) as fh:
            chunks.append(json.load(fh))
    with open(os.path.join(path, "lineage.json"), "w") as fh:
        json.dump(
            {
                "build_id": build_id,
                "n_chunks": n_chunks,
                "stats_snapshot": {
                    "n_docs": idx.stats.n_docs,
                    "total_tokens": idx.stats.total_tokens,
                    "avgdl": idx.stats.avgdl,
                },
                "chunks": chunks,
            },
            fh,
            indent=1,
        )
    return load_blocked_index(spark, os.path.join(path, "index"))


def build_resumable(
    documents: DataFrame,
    path: str,
    n_chunks: int = 16,
    build_id: str = "build-0",
    fail_after: Optional[int] = None,
    **merge_kw,
) -> BlockedIndex:
    """End-to-end resumable build: runs (skipping finished chunks) then
    merge. Safe to call repeatedly until it returns."""
    build_runs(documents, path, n_chunks, build_id=build_id, fail_after=fail_after)
    return merge_runs(documents.sparkSession, path, n_chunks, build_id=build_id, **merge_kw)
