"""Incremental ingest: upsert-by-key batches, tombstones, compaction.

Reference semantics being re-expressed (SURVEY.md SO5/ST1-ST5): Solr
re-`add` with the same uniqueKey replaces the document
(schema.xml:1030-1033 — last write wins), the indexers post incremental
daily/mtime-windowed batches (athena2nexlt.sh:44, parseJSON.pl:413), and
Lucene physically handles an update as delete-old-docID + add-new-docID
in a fresh segment, with deletes masked at query time (liveDocs) and
expunged at segment merge.

Spark-first transposition — append-only batches plus a tombstone table:

    path/
      documents/batch=K/    new doc rows for batch K (stable docIDs,
                            contiguous range starting past all prior
                            batches — the fresh-segment docID analog)
      tombstones/batch=K/   (doc_id) rows: prior-batch docs whose
                            doc_key was re-added in batch K (liveDocs)
      runs/batch=K/         raw posting rows for batch K's docs
                            (same layout as index.checkpoint runs)
      manifest/batch-K.json atomic done-marker + metrics

Query-time: ``live_index``/``live_documents`` mask tombstoned docIDs with
a broadcast-friendly anti-join and recompute global stats (N, avgdl, df)
over live docs only — stats are NEVER carried over stale (SURVEY.md §7.4
global-stats consistency). ``compact`` is the expunge-deletes merge:
rewrites the layout as a single batch with no tombstones; postings are
preserved per doc_key (docIDs keep their values — compaction never
renumbers, so scores and ranks are unchanged by construction).

At 10^12-turn scale every step is a distributed job: the only driver-side
state is the manifest list (tens of entries), and the tombstone join is
a semi/anti join on doc_id that Catalyst broadcasts while the tombstone
set is small and shuffles once when it is not.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nexlt_spark.flatten import assign_stable_ids, ORDER_COLS
from nexlt_spark.index.build import (
    RAW_POS_SCHEMA,
    RAW_SCHEMA,
    _SENTINEL,
    IndexStats,
    InvertedIndex,
    _emit_postings,
)
from nexlt_spark.ops.ingest import latest_by_key


def _manifest_dir(path: str) -> str:
    return os.path.join(path, "manifest")


def _manifest_path(path: str, batch: int) -> str:
    return os.path.join(_manifest_dir(path), f"batch-{batch}.json")


def batches_done(path: str) -> List[dict]:
    """Manifests of committed batches, in batch order."""
    mdir = _manifest_dir(path)
    if not os.path.isdir(mdir):
        return []
    out = []
    for k in range(len(os.listdir(mdir)) + 1):
        p = _manifest_path(path, k)
        if os.path.exists(p):
            with open(p) as fh:
                out.append(json.load(fh))
    return out


@dataclass
class BatchResult:
    batch: int
    n_new_docs: int
    n_tombstones: int
    first_doc_id: int
    max_doc_id: int
    seconds: float


def _flatten_batch(batch: DataFrame, base_doc_id: int, dedup_tiebreak: str = "role") -> DataFrame:
    """Within-batch last-write-wins by (conv_id, turn_idx), then flatten
    with docIDs offset past all prior batches (fresh-segment numbering)."""
    b = latest_by_key(batch, list(ORDER_COLS), "ts", dedup_tiebreak)
    with_ids = assign_stable_ids(b, ORDER_COLS)
    return with_ids.select(
        (F.col("doc_id") + F.lit(base_doc_id)).alias("doc_id"),
        F.concat_ws(":", F.col("conv_id"), F.col("turn_idx")).alias("doc_key"),
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        "role",
        "tool",
        "ts",
        F.col("text"),
        F.lower(F.col("text")).alias("text_lc"),
    )


def ingest_batch(
    transcripts_batch: DataFrame,
    path: str,
    build_id: str = "inc-0",
    analyzer: str = "standard",
    positions: bool = False,
) -> Optional[BatchResult]:
    """Commit one transcript batch: new docs + tombstones + posting run.

    Idempotent at the batch level: each call commits the next batch
    number atomically (manifest rename last); a crashed call leaves no
    manifest and is simply re-run — partially written parquet dirs are
    overwritten. Returns None for an empty batch.
    """
    spark = transcripts_batch.sparkSession
    t0 = time.perf_counter()
    os.makedirs(_manifest_dir(path), exist_ok=True)
    done = batches_done(path)
    batch = len(done)
    # analyzer is a property of the whole store: a stemmed main index plus
    # unstemmed batches would silently mix token forms — refuse loudly.
    prior_an = done[-1].get("analyzer", "standard") if done else None
    if prior_an is not None and prior_an != analyzer:
        raise ValueError(
            f"store at {path} was built with analyzer={prior_an!r}; "
            f"cannot ingest a batch with analyzer={analyzer!r}"
        )
    # positions are likewise a whole-store property: a phrase query over
    # mixed runs would silently miss docs from positions-less batches
    prior_pos = done[-1].get("positions", False) if done else None
    if prior_pos is not None and bool(prior_pos) != positions:
        raise ValueError(
            f"store at {path} was built with positions={bool(prior_pos)}; "
            f"cannot ingest a batch with positions={positions}"
        )
    base_doc_id = (done[-1]["max_doc_id"] + 1) if done else 0

    new_docs = _flatten_batch(transcripts_batch, base_doc_id).persist()
    n_new = new_docs.count()
    if n_new == 0:
        new_docs.unpersist()
        return None

    doc_dir = os.path.join(path, "documents", f"batch={batch}")
    tomb_dir = os.path.join(path, "tombstones", f"batch={batch}")
    run_dir = os.path.join(path, "runs", f"batch={batch}")

    new_docs.write.mode("overwrite").parquet(doc_dir)

    # tombstones: prior LIVE docs whose key is re-added in this batch
    if batch > 0:
        prior = live_documents(spark, path, up_to_batch=batch)
        tombs = prior.join(
            new_docs.select("doc_key").distinct(), "doc_key", "left_semi"
        ).select("doc_id")
    else:
        tombs = spark.createDataFrame([], "doc_id long")
    # coalesce(1): guarantee at least one part file so the schema is
    # always readable even when the tombstone set is empty
    tombs.coalesce(1).write.mode("overwrite").parquet(tomb_dir)
    n_tombs = spark.read.parquet(tomb_dir).count()

    # posting run for the new docs (same kernel as the full build)
    spark.read.parquet(doc_dir).select("doc_id", "text").mapInPandas(
        _emit_postings("doc_id", "text", analyzer, positions),
        schema=RAW_POS_SCHEMA if positions else RAW_SCHEMA,
    ).write.mode("overwrite").parquet(run_dir)

    max_id = base_doc_id + n_new - 1
    res = BatchResult(
        batch=batch,
        n_new_docs=n_new,
        n_tombstones=n_tombs,
        first_doc_id=base_doc_id,
        max_doc_id=max_id,
        seconds=time.perf_counter() - t0,
    )
    tmp = _manifest_path(path, batch) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(
            {
                "build_id": build_id,
                "batch": batch,
                "n_new_docs": n_new,
                "n_tombstones": n_tombs,
                "first_doc_id": base_doc_id,
                "max_doc_id": max_id,
                "analyzer": analyzer,
                "positions": positions,
                "seconds": round(res.seconds, 4),
            },
            fh,
        )
    os.replace(tmp, _manifest_path(path, batch))
    new_docs.unpersist()
    return res


def _tombstones(spark: SparkSession, path: str, up_to_batch: Optional[int] = None) -> DataFrame:
    tdir = os.path.join(path, "tombstones")
    done = batches_done(path)
    if up_to_batch is not None:
        done = [m for m in done if m["batch"] < up_to_batch]
    dirs = [os.path.join(tdir, f"batch={m['batch']}") for m in done]
    dirs = [d for d in dirs if os.path.isdir(d)]
    if not dirs:
        return spark.createDataFrame([], "doc_id long")
    return spark.read.parquet(*dirs).select("doc_id")


def _as_of_to_up_to(
    path: str, as_of_batch: Optional[int], up_to_batch: Optional[int]
) -> Optional[int]:
    """Translate the public inclusive snapshot id (Iceberg
    'read as of snapshot N') to the internal exclusive bound; validates
    the snapshot exists."""
    if as_of_batch is None:
        return up_to_batch
    if up_to_batch is not None:
        raise ValueError("pass as_of_batch or up_to_batch, not both")
    if not any(m["batch"] == as_of_batch for m in batches_done(path)):
        raise ValueError(f"no committed batch {as_of_batch} under {path}")
    return as_of_batch + 1


def live_documents(
    spark: SparkSession,
    path: str,
    up_to_batch: Optional[int] = None,
    as_of_batch: Optional[int] = None,
) -> DataFrame:
    """All committed doc rows minus tombstoned docIDs (liveDocs mask).

    ``as_of_batch=N`` is Iceberg time travel over the manifest list
    (snapshots = commits, SURVEY §1.7): read the store exactly as it was
    after batch N committed — later batches' docs are absent and docs
    they tombstoned are live again. Purely a driver-side manifest filter;
    the scan reads only the snapshot's batch directories."""
    up_to_batch = _as_of_to_up_to(path, as_of_batch, up_to_batch)
    done = batches_done(path)
    if up_to_batch is not None:
        done = [m for m in done if m["batch"] < up_to_batch]
    if not done:
        from nexlt_spark.flatten import DOCUMENTS_SCHEMA

        return spark.createDataFrame([], DOCUMENTS_SCHEMA)
    dirs = [os.path.join(path, "documents", f"batch={m['batch']}") for m in done]
    docs = spark.read.parquet(*dirs)
    tombs = _tombstones(spark, path, up_to_batch)
    return docs.join(tombs, "doc_id", "left_anti")


def live_index(
    spark: SparkSession, path: str, as_of_batch: Optional[int] = None
) -> InvertedIndex:
    """InvertedIndex over all committed runs, tombstones masked, global
    stats (N, avgdl, df) recomputed over live docs only. ``as_of_batch``
    time-travels to that snapshot (see live_documents) — stats are
    recomputed over the SNAPSHOT's live docs, so a time-traveled query
    scores exactly as it would have then."""
    up_to = _as_of_to_up_to(path, as_of_batch, None)
    done = batches_done(path)
    if up_to is not None:
        done = [m for m in done if m["batch"] < up_to]
    if not done:
        raise RuntimeError(f"no committed batches under {path}")
    dirs = [os.path.join(path, "runs", f"batch={m['batch']}") for m in done]
    raw = spark.read.parquet(*dirs)
    tombs = _tombstones(spark, path, up_to)
    raw = raw.join(tombs, "doc_id", "left_anti")
    postings = raw.where(F.col("term") != _SENTINEL)
    doc_stats = raw.where(F.col("term") == _SENTINEL).select("doc_id", "dl")
    term_stats = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    agg = doc_stats.agg(
        F.count(F.lit(1)).alias("n"), F.coalesce(F.sum("dl"), F.lit(0)).alias("tot")
    ).collect()[0]
    stats = IndexStats(n_docs=int(agg["n"]), total_tokens=int(agg["tot"]))
    return InvertedIndex(
        postings=postings,
        doc_stats=doc_stats,
        term_stats=term_stats,
        stats=stats,
        analyzer=done[-1].get("analyzer", "standard"),
    )


def live_blocked_index(
    spark: SparkSession,
    path: str,
    range_shift: Optional[int] = None,
    block_size: Optional[int] = None,
    as_of_batch: Optional[int] = None,
) -> "BlockedIndex":
    """Ranged BlockedIndex over the live (tombstone-masked) incremental
    store — the 'reopen the searcher over merged segments' step: every
    serving plan (per-range fused BM25, Block-Max WAND, in-kernel phrase
    when batches were ingested with positions=True) runs on a store that
    was built one batch at a time. Uniform range partitioning needs no
    hot-term discovery job; docIDs are batch-contiguous so each batch's
    postings land in a bounded set of rsalt ranges (incremental segments
    stay physically clustered, the TieredMergePolicy locality analog).
    """
    from nexlt_spark.index.blocks import (
        BLOCK_SIZE,
        DEFAULT_RANGE_SHIFT,
        BlockedIndex,
        build_blocks,
    )

    idx = live_index(spark, path, as_of_batch=as_of_batch)
    blocks = build_blocks(
        idx,
        range_shift=DEFAULT_RANGE_SHIFT if range_shift is None else range_shift,
        block_size=BLOCK_SIZE if block_size is None else block_size,
    )
    return BlockedIndex(
        blocks=blocks,
        doc_stats=idx.doc_stats,
        term_stats=idx.term_stats,
        stats=idx.stats,
        analyzer=idx.analyzer,
    )


def rollback(path: str, to_batch: int) -> List[int]:
    """Roll the store back to snapshot ``to_batch`` — the Iceberg
    ``rollback_to_snapshot`` + ``expire_snapshots`` pair: manifests after
    ``to_batch`` are deleted FIRST (the commit inverse — readers see the
    old snapshot as soon as the manifest is gone, exactly how
    ingest_batch's manifest-last rename makes commits atomic), then the
    orphaned batch directories are removed. The next ingest_batch
    continues from ``to_batch + 1`` with doc_ids re-issued past the
    surviving max — rolled-back ids may be reused, which is safe because
    nothing references them once their batch dirs are gone. Returns the
    batch numbers removed."""
    import shutil

    done = batches_done(path)
    if not any(m["batch"] == to_batch for m in done):
        raise ValueError(f"no committed batch {to_batch} under {path}")
    victims = [m["batch"] for m in done if m["batch"] > to_batch]
    for b in victims:
        os.remove(_manifest_path(path, b))
    for b in victims:
        for sub in ("documents", "tombstones", "runs"):
            shutil.rmtree(os.path.join(path, sub, f"batch={b}"), ignore_errors=True)
    return victims


def compact(spark: SparkSession, path: str, out_path: str, build_id: str = "compact-0") -> None:
    """Expunge-deletes merge: rewrite the layout as ONE batch holding only
    live docs/postings, zero tombstones. docIDs are preserved (never
    renumbered), so every query result is identical before/after —
    the TieredMergePolicy merge analog (solrconfig.xml:213-234)."""
    t0 = time.perf_counter()
    done = batches_done(path)
    if not done:
        raise RuntimeError(f"no committed batches under {path}")
    os.makedirs(_manifest_dir(out_path), exist_ok=True)

    docs = live_documents(spark, path)
    docs.write.mode("overwrite").parquet(os.path.join(out_path, "documents", "batch=0"))

    run_dirs = [os.path.join(path, "runs", f"batch={m['batch']}") for m in done]
    raw = spark.read.parquet(*run_dirs)
    tombs = _tombstones(spark, path)
    raw.join(tombs, "doc_id", "left_anti").write.mode("overwrite").parquet(
        os.path.join(out_path, "runs", "batch=0")
    )
    spark.createDataFrame([], "doc_id long").coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out_path, "tombstones", "batch=0")
    )

    n_docs = spark.read.parquet(os.path.join(out_path, "documents", "batch=0")).count()
    max_id = max(m["max_doc_id"] for m in done)
    tmp = _manifest_path(out_path, 0) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(
            {
                "build_id": build_id,
                "batch": 0,
                "n_new_docs": n_docs,
                "n_tombstones": 0,
                "first_doc_id": 0,
                "max_doc_id": max_id,
                "analyzer": done[-1].get("analyzer", "standard"),
                # whole-store invariant, same as analyzer: without it a
                # compacted positions=True store would read back as
                # positions=False and accept mixed-schema runs (ADVICE r2)
                "positions": done[-1].get("positions", False),
                "seconds": round(time.perf_counter() - t0, 4),
                "compacted_from": [m["build_id"] for m in done],
            },
            fh,
        )
    os.replace(tmp, _manifest_path(out_path, 0))
