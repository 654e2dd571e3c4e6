"""Sharded multi-store search ≡ single-store search (rank identity).

The ExactStatsCache claim of index/sharded.py, proven mechanically:
partition the corpus into N stores, query the ShardedIndex, and every
(doc_id, score) must equal the single-store result bit-for-bit — the
global df / global avgdl reconstruction leaves no shard-placement
signal in the ranks (solrconfig.xml:837-838 distributed queries).
"""

import os

import pytest
from pyspark.sql import functions as F

from nexlt_spark.index.packed import build_blocked_direct
from nexlt_spark.index.sharded import (
    combine_shards,
    disjoint_offsets,
    open_shards,
    rebase_documents,
)
from nexlt_spark.query.exact import bm25_topk
from nexlt_spark.query.model import Query, QueryFilters


@pytest.fixture(scope="module")
def single(documents):
    return build_blocked_direct(documents, positions=True).persist()


@pytest.fixture(scope="module")
def sharded(documents):
    parts = [
        build_blocked_direct(
            documents.where(F.pmod(F.col("doc_id"), F.lit(3)) == i), positions=True
        )
        for i in range(3)
    ]
    return combine_shards(parts).persist()


def _rows(idx, documents, q):
    return [
        (r["doc_id"], round(r["score"], 9))
        for r in bm25_topk(idx, documents, q).select("doc_id", "score").collect()
    ]


QUERIES = [
    Query(terms=["spark"], k=15),
    Query(terms=["the"], k=15),  # Zipf head crosses every shard
    Query(terms=["spark", "join"], mode="and", k=15),
    Query(terms=["spark", "index", "merge"], mode="or", k=15),
    Query(terms=["spark"], not_terms=["join"], k=15),
    Query(terms=["data"], filters=QueryFilters(roles=["user"]), k=15),
    Query(phrase="table part", k=15),  # positions path across shards
]


@pytest.mark.parametrize("q", QUERIES, ids=lambda q: repr(q)[:48])
def test_sharded_rank_identity(single, sharded, documents, q):
    assert _rows(sharded, documents, q) == _rows(single, documents, q)


def test_global_stats_reconstructed(single, sharded):
    assert sharded.stats.n_docs == single.stats.n_docs
    assert sharded.stats.total_tokens == single.stats.total_tokens
    terms = ["spark", "the", "join", "zzzabsent"]
    assert sharded.term_dfs(terms) == single.term_dfs(terms)


def test_lookup_union_matches(single, sharded):
    a = sorted(
        tuple(r) for r in single.lookup(["spark"]).select("doc_id", "tf", "dl").collect()
    )
    b = sorted(
        tuple(r) for r in sharded.lookup(["spark"]).select("doc_id", "tf", "dl").collect()
    )
    assert a == b


def test_independent_id_shards_rebase(spark, documents, single, tmp_path_factory):
    """Independently-numbered on-disk stores (each counts docs from 0),
    opened with independent_ids=True: rebased postings + rebased
    documents must reproduce the single-store scores exactly, mapped
    back through the retained original IDs. k covers the whole corpus
    so no tie at a rank boundary can mask a difference."""
    from pyspark.sql.window import Window

    from nexlt_spark.index.packed import save_blocked

    base = str(tmp_path_factory.mktemp("shards"))
    paths, originals = [], []
    for i in range(2):
        part = documents.where(F.pmod(F.col("doc_id"), F.lit(2)) == i)
        # renumber from 0 exactly as an independently-built store would
        renum = (
            part.withColumnRenamed("doc_id", "orig_id")
            .withColumn(
                "doc_id", F.row_number().over(Window.orderBy("orig_id")) - 1
            )
        )
        originals.append(renum.select("doc_id", "orig_id", "text"))
        save_blocked(
            build_blocked_direct(renum.select("doc_id", "text")),
            os.path.join(base, f"s{i}"),
            n_buckets=8,
        )
        paths.append(os.path.join(base, f"s{i}"))

    sh = open_shards(spark, paths, independent_ids=True)
    docs = rebase_documents(originals, sh.doc_id_offsets)

    q = Query(terms=["spark", "join"], mode="or", k=100_000)
    got = sorted(
        (r["orig_id"], round(r["score"], 9))
        for r in bm25_topk(sh, docs, q).select("orig_id", "score").collect()
    )
    ref = sorted(
        (r["doc_id"], round(r["score"], 9))
        for r in bm25_topk(single, documents, q).select("doc_id", "score").collect()
    )
    assert got == ref


def test_select_facade_over_shards(single, sharded, documents):
    """The full /select request shape — raw q + fq, facets, numFound —
    must behave identically on a ShardedIndex (the protocol is the whole
    integration surface)."""
    from nexlt_spark.query.select import select

    kw = dict(
        q='text:spark AND text:join',
        fq=['role:user'],
        rows=10,
        facet_field=['role'],
        compute_num_found=True,
    )
    a = select(single, documents, **kw)
    b = select(sharded, documents, **kw)
    assert a.num_found == b.num_found
    assert sorted(map(tuple, a.facet_fields["role"].collect())) == sorted(
        map(tuple, b.facet_fields["role"].collect())
    )
    pa = [(r["doc_id"], round(r["score"], 9)) for r in a.docs.collect()]
    pb = [(r["doc_id"], round(r["score"], 9)) for r in b.docs.collect()]
    assert pa == pb


def test_mixed_analyzers_rejected(documents):
    a = build_blocked_direct(documents.limit(10))
    b = build_blocked_direct(documents.limit(10), analyzer="en_porter")
    with pytest.raises(ValueError, match="analyzer"):
        combine_shards([a, b])


def test_offsets_shapes(single):
    assert disjoint_offsets([single, single]) == [0, single.stats.n_docs]
    assert disjoint_offsets([single, single], stride=1 << 20) == [0, 1 << 20]


# ---- r5: sharded DRIVER serving (scatter-gather rows, global stats) -------


@pytest.fixture(scope="module")
def disk_shards(spark, documents, tmp_path_factory):
    """3 on-disk shard stores + the unsharded on-disk store over the
    same corpus — the rows-path serving shape."""
    from nexlt_spark.index.blocks import load_blocked_index
    from nexlt_spark.index.packed import save_blocked

    base = tmp_path_factory.mktemp("rows_shards")
    paths = []
    for i in range(3):
        p = str(base / f"shard{i}")
        save_blocked(
            build_blocked_direct(
                documents.where(F.pmod(F.col("doc_id"), F.lit(3)) == i)
            ),
            p,
        )
        paths.append(p)
    gp = str(base / "global")
    save_blocked(build_blocked_direct(documents), gp)
    shards = combine_shards([load_blocked_index(spark, p) for p in paths])
    return shards, load_blocked_index(spark, gp)


ROWS_QUERIES = [
    (["spark"], "or", 15),
    (["the"], "or", 15),
    (["spark", "join"], "and", 15),
    (["spark", "index", "merge"], "or", 15),
    (["w1998"], "or", 10),
    (["nosuchterm"], "or", 10),
    (["the", "nosuchterm"], "and", 10),
]


@pytest.mark.parametrize("terms,mode,k", ROWS_QUERIES)
def test_sharded_rows_rank_identity(disk_shards, terms, mode, k):
    """sharded_topk_rows ≡ the unsharded driver rows path: global
    df/avgdl seeding makes every per-doc float identical, docs live in
    exactly one shard, so the merged top-k matches exactly."""
    from nexlt_spark.index.sharded import sharded_topk_rows
    from nexlt_spark.query.wand import wand_topk

    shards, gstore = disk_shards
    got = sharded_topk_rows(shards, terms, k=k, mode=mode)
    want = wand_topk(gstore, terms, k=k, mode=mode, as_rows=True)
    assert got == want, (terms, mode)


def test_sharded_rows_boosts(disk_shards):
    from nexlt_spark.index.sharded import sharded_topk_rows
    from nexlt_spark.query.wand import wand_topk

    shards, gstore = disk_shards
    boosts = {"merge": 4.0}
    got = sharded_topk_rows(shards, ["spark", "merge"], k=10, boosts=boosts)
    want = wand_topk(gstore, ["spark", "merge"], k=10, boosts=boosts, as_rows=True)
    assert got == want


def test_sharded_rows_zero_spark_jobs_when_warm(disk_shards, spark):
    """On warm pyarrow-backed shards the scatter-gather schedules no
    Spark jobs — the whole query is driver-side numpy + pyarrow."""
    from nexlt_spark.index.sharded import sharded_topk_rows

    shards, _ = disk_shards
    sharded_topk_rows(shards, ["spark", "index"], k=10)  # warm caches
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    sharded_topk_rows(shards, ["spark", "index"], k=10)
    after = tracker.getJobIdsForGroup(None)
    assert len(after) == len(before)


def test_sharded_rows_exact_fallback_keeps_global_stats(disk_shards):
    """A per-shard candidate-cap overflow routes that shard through the
    exact fallback — its scores must STILL be on the global-stats scale
    (review r5: score_postings reads term_dfs, which the view seeds
    with global df)."""
    from nexlt_spark.index.sharded import sharded_topk_rows
    from nexlt_spark.query.wand import wand_topk

    shards, gstore = disk_shards
    # cap=1 forces the overflow fallback inside every shard
    got = sharded_topk_rows(shards, ["the", "error"], k=15, candidate_cap=1)
    want = wand_topk(gstore, ["the", "error"], k=15, as_rows=True)
    assert got == want


def test_global_view_shares_store_caches_before_any_query():
    """A never-queried shard's global-stats view aliases the shard's
    store-byte caches, so the view never builds a second decoded-block
    budget; its term-meta cache (seeded with global df) stays its own."""
    from nexlt_spark.index.blocks import BlockedIndex
    from nexlt_spark.index.build import IndexStats
    from nexlt_spark.index.sharded import _global_view

    shard = BlockedIndex(
        blocks=None, doc_stats=None, term_stats=None,
        stats=IndexStats(n_docs=10, total_tokens=100),
    )
    view = _global_view(shard, IndexStats(n_docs=30, total_tokens=300))
    for attr in ("_decoded_block_cache", "_skip_cache", "_theta_probe_cache"):
        assert getattr(view, attr) is getattr(shard, attr), attr
    assert view._term_meta_cache is not shard._term_meta_cache
