"""Blocked postings: block path ≡ flat path; range partitioning; save/load roundtrip."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from nexlt_spark.index.blocks import (
    BlockedIndex,
    build_blocks,
    decode_terms,
    load_blocked_index,
    save_blocked_index,
)
from nexlt_spark.query.exact import bm25_topk
from nexlt_spark.query.model import Query

TERMS = ["run", "the", "error", "w1998", "café"]


@pytest.fixture(scope="module")
def blocked(index):
    return BlockedIndex(
        blocks=build_blocks(index).persist(),
        doc_stats=index.doc_stats,
        term_stats=index.term_stats,
        stats=index.stats,
    )


@pytest.fixture(scope="module")
def blocked_fine(index):
    # tiny 64-doc ranges: every frequent term spans many rsalt groups
    return BlockedIndex(
        blocks=build_blocks(index, range_shift=6).persist(),
        doc_stats=index.doc_stats,
        term_stats=index.term_stats,
        stats=index.stats,
    )


def _flat_rows(index, terms):
    return sorted(
        tuple(r) for r in index.lookup(terms).select("term", "doc_id", "tf", "dl").collect()
    )


def test_decode_equals_flat(index, blocked):
    assert _flat_rows(blocked, TERMS) == _flat_rows(index, TERMS)


def test_decode_equals_flat_salted(index, blocked_fine):
    assert _flat_rows(blocked_fine, TERMS) == _flat_rows(index, TERMS)


def test_salting_splits_hot_terms(blocked_fine):
    """Every term is range-partitioned: each block lies inside one 64-doc
    range and carries rsalt = doc_id >> 6, so a term with postings in
    several ranges is split into one rsalt group per range."""
    rows = blocked_fine.blocks.select(
        "term", "rsalt", "first_doc_id", "last_doc_id"
    ).collect()
    ranges: dict = {}
    for r in rows:
        assert r["first_doc_id"] >> 6 == r["rsalt"] == r["last_doc_id"] >> 6
        ranges.setdefault(r["term"], set()).add(r["rsalt"])
    assert len(ranges["the"]) > 1  # the hot term really is split


def test_blocks_are_docid_sorted_and_disjoint(blocked_fine):
    rows = (
        blocked_fine.blocks.where(F.col("term") == "the")
        .select("rsalt", "block_id", "first_doc_id", "last_doc_id")
        .collect()
    )
    spans = sorted((r["first_doc_id"], r["last_doc_id"]) for r in rows)
    for (f1, l1), (f2, l2) in zip(spans, spans[1:]):
        assert l1 < f2  # strictly disjoint, globally sorted


@pytest.mark.parametrize(
    "q",
    [
        Query(terms=["run"], k=10),
        Query(terms=["the"], k=10),
        Query(terms=["spark", "index"], mode="and", k=10),
        Query(terms=["spark", "index", "merge"], mode="or", k=25),
        Query(phrase="the run", k=10),
    ],
    ids=["term", "hot", "and", "or", "phrase"],
)
def test_blocked_query_rank_identical_to_flat(index, documents, blocked_fine, q):
    flat = [(r["doc_id"], r["score"]) for r in bm25_topk(index, documents, q).collect()]
    blk = [(r["doc_id"], r["score"]) for r in bm25_topk(blocked_fine, documents, q).collect()]
    assert flat == blk  # bit-identical scores: same arithmetic, same fold


def test_save_load_roundtrip(tmp_path_factory, index, documents, spark):
    path = str(tmp_path_factory.mktemp("idxstore"))
    save_blocked_index(index, path, n_buckets=8, range_shift=7)
    loaded = load_blocked_index(spark, path)
    assert loaded.stats.n_docs == index.stats.n_docs
    assert loaded.stats.total_tokens == index.stats.total_tokens
    q = Query(terms=["run", "file"], mode="or", k=10)
    flat = [(r["doc_id"], r["score"]) for r in bm25_topk(index, documents, q).collect()]
    blk = [(r["doc_id"], r["score"]) for r in bm25_topk(loaded, documents, q).collect()]
    assert flat == blk
    # bucket pruning must not lose terms
    assert loaded.term_dfs(["run", "file"]) == index.term_dfs(["run", "file"])


@pytest.mark.parametrize("ranged_col", [False, None], ids=["ranged_false", "no_column"])
def test_load_refuses_non_ranged_store(tmp_path, spark, ranged_col):
    """A store from the retired hot-term-salted layout (stats ranged=False,
    or written before the column existed) would be mis-scored by the
    per-range kernels — AND queries silently miss docs whose postings sit
    in different rsalt groups — so loading it must fail loudly."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    stats = {
        "n_docs": pa.array([10], pa.int64()),
        "total_tokens": pa.array([100], pa.int64()),
        "n_buckets": pa.array([8], pa.int32()),
        "analyzer": pa.array(["standard"], pa.string()),
    }
    if ranged_col is not None:
        stats["ranged"] = pa.array([ranged_col], pa.bool_())
    (tmp_path / "stats").mkdir()
    pq.write_table(pa.table(stats), str(tmp_path / "stats" / "part-00000.parquet"))
    with pytest.raises(ValueError, match="rebuild"):
        load_blocked_index(spark, str(tmp_path))
