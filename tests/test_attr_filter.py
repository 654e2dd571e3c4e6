"""Filter-aware driver WAND (VERDICT r4 next #3): AttrFilter queries over
the doc_attrs sidecar must be rank- and score-identical to the exact path
with the equivalent filter_documents DataFrame filter, across modes,
filter shapes, fallbacks, and the planner route."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from nexlt_spark.index.blocks import load_blocked_index, save_blocked_index
from nexlt_spark.query.attrs import (
    AttrFilter,
    _intervals,
    attr_passing_ids,
    has_attrs,
    save_doc_attrs,
    to_doc_filter_df,
)
from nexlt_spark.query.exact import filter_documents, paginate, score_postings
from nexlt_spark.query.model import QueryFilters
from nexlt_spark.query.planner import topk, topk_rows
from nexlt_spark.query.wand import wand_topk


@pytest.fixture(scope="module")
def attr_store(spark, index, documents, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("attr_store") / "idx")
    save_blocked_index(index, path, n_buckets=8, range_shift=6)
    save_doc_attrs(documents, path)
    bidx = load_blocked_index(spark, path)
    assert has_attrs(bidx)
    return bidx


def _exact_filtered(index, documents, terms, k, mode, qf):
    flt = filter_documents(documents, qf).select("doc_id")
    scored = score_postings(index, sorted(set(terms)), mode, flt)
    return [
        (r["doc_id"], r["score"])
        for r in paginate(
            scored, [F.col("score").desc(), F.col("doc_id").asc()], 0, k
        ).collect()
    ]


FILTERS = [
    QueryFilters(roles=["user"]),
    QueryFilters(roles=["user", "assistant"]),
    QueryFilters(tools=["search"]),
    QueryFilters(roles=["assistant"], tools=["search"]),
    QueryFilters(ts_from="2026-02-01T00:00:00", ts_to="2026-06-01T00:00:00"),
    QueryFilters(roles=["zzz-no-such-role"]),  # empty survivor set
]

QUERIES = [
    (["error", "run"], "or", 10),
    (["the", "run"], "and", 10),
    (["the", "error"], "or", 25),
    (["data"], "or", 10),  # single-term: the r4 q_planned_filtered shape
    (["w1998"], "or", 10),  # rare term
]


@pytest.mark.parametrize("qf", FILTERS)
@pytest.mark.parametrize("terms,mode,k", QUERIES)
def test_attr_wand_equals_exact_filtered(
    index, documents, attr_store, terms, mode, k, qf
):
    stats = {}
    got = [
        (r["doc_id"], r["score"])
        for r in wand_topk(
            attr_store, terms, k, mode, doc_filter=AttrFilter(qf), stats_out=stats
        ).collect()
    ]
    assert got == _exact_filtered(index, documents, terms, k, mode, qf)


@pytest.mark.parametrize("terms,mode,k", QUERIES[:3])
def test_attr_planner_routed_equals_exact(index, documents, attr_store, terms, mode, k):
    qf = QueryFilters(roles=["user", "assistant"])
    stats = {}
    got = [
        (r["doc_id"], r["score"])
        for r in topk(
            attr_store, terms, k=k, mode=mode, doc_filter=AttrFilter(qf),
            stats_out=stats,
        ).collect()
    ]
    assert got == _exact_filtered(index, documents, terms, k, mode, qf)
    rows = topk_rows(
        attr_store, terms, k=k, mode=mode, doc_filter=AttrFilter(qf)
    )
    assert [(int(d), float(s)) for d, s in rows] == got


def test_attr_single_term_routes_driver(attr_store, index, documents):
    """The r4 gap: single-term + fq routed to the exact scan job. With a
    sidecar it must route to the driver plan (zero Spark jobs) and stay
    rank-identical."""
    qf = QueryFilters(roles=["user"])
    stats = {}
    rows = topk_rows(attr_store, ["data"], k=10, doc_filter=AttrFilter(qf),
                     stats_out=stats)
    assert stats["path"] == "wand"
    assert stats.get("attr_filtered") is True
    assert [
        (int(d), float(s)) for d, s in rows
    ] == _exact_filtered(index, documents, ["data"], 10, "or", qf)


def test_attr_empty_filter_is_unfiltered(attr_store, index):
    got = [
        (r["doc_id"], r["score"])
        for r in wand_topk(
            attr_store, ["error", "run"], 10, "or", doc_filter=AttrFilter(QueryFilters())
        ).collect()
    ]
    plain = [
        (r["doc_id"], r["score"])
        for r in wand_topk(attr_store, ["error", "run"], 10, "or").collect()
    ]
    assert got == plain


def test_attr_forced_fallback_still_filtered(index, documents, attr_store, monkeypatch):
    """Tiny candidate cap forces the exact fallback mid-flow; the filter
    must survive the route change."""
    qf = QueryFilters(roles=["user"])
    stats = {}
    got = [
        (r["doc_id"], r["score"])
        for r in wand_topk(
            attr_store, ["the", "error"], 10, "or",
            doc_filter=AttrFilter(qf), candidate_cap=3, stats_out=stats,
        ).collect()
    ]
    assert stats.get("fallback") is True
    assert got == _exact_filtered(index, documents, ["the", "error"], 10, "or", qf)


def test_attr_filter_lowers_without_sidecar(spark, index, documents, tmp_path_factory):
    """A store without the sidecar cannot serve AttrFilter driver-side;
    wand_topk must lower it via the provided-documents fallback... which
    needs the sidecar — so it raises a clear error instead of silently
    ignoring the filter."""
    path = str(tmp_path_factory.mktemp("attr_missing") / "idx")
    save_blocked_index(index, path, n_buckets=8, range_shift=6)
    bidx = load_blocked_index(spark, path)
    assert not has_attrs(bidx)
    with pytest.raises(RuntimeError, match="doc_attrs"):
        wand_topk(
            bidx, ["error", "run"], 10, "or",
            doc_filter=AttrFilter(QueryFilters(roles=["user"])),
        ).collect()


def test_attr_passing_ids_matches_spark_filter(attr_store, documents):
    qf = QueryFilters(roles=["assistant"], tools=["search"])
    all_ids = np.array(
        [r["doc_id"] for r in documents.select("doc_id").collect()], dtype=np.int64
    )
    got = attr_passing_ids(attr_store, qf, all_ids)
    want = np.array(
        sorted(
            r["doc_id"]
            for r in filter_documents(documents, qf).select("doc_id").collect()
        ),
        dtype=np.int64,
    )
    assert np.array_equal(got, want)
    # subset restriction respected
    sub = all_ids[::7]
    got_sub = attr_passing_ids(attr_store, qf, sub)
    assert np.array_equal(got_sub, np.intersect1d(want, sub))


def test_attr_envelope_path_matches_isin_path(attr_store, documents, monkeypatch):
    """Force the interval-envelope branch (large candidate sets at scale)
    and check it matches the exact-isin branch."""
    import nexlt_spark.query.attrs as A

    qf = QueryFilters(roles=["user"])
    all_ids = np.array(
        [r["doc_id"] for r in documents.select("doc_id").collect()], dtype=np.int64
    )
    want = attr_passing_ids(attr_store, qf, all_ids)
    monkeypatch.setattr(A, "_ISIN_CAP", 1)
    got = attr_passing_ids(attr_store, qf, all_ids)
    assert np.array_equal(got, want)


def test_to_doc_filter_df_matches_filter_documents(attr_store, documents):
    qf = QueryFilters(roles=["user"], tools=["search"])
    got = sorted(r["doc_id"] for r in to_doc_filter_df(attr_store, qf).collect())
    want = sorted(
        r["doc_id"] for r in filter_documents(documents, qf).select("doc_id").collect()
    )
    assert got == want


def test_unknown_fq_field_raises(attr_store):
    with pytest.raises(KeyError, match="no_such_col"):
        attr_passing_ids(
            attr_store,
            QueryFilters(fields={"no_such_col": ["x"]}),
            np.array([1, 2, 3], dtype=np.int64),
        )


def test_intervals_cover_and_split():
    ids = np.array([1, 2, 3, 100, 101, 5000], dtype=np.int64)
    iv = _intervals(ids, max_intervals=3)
    assert iv == [(1, 3), (100, 101), (5000, 5000)]
    # degenerate shapes
    assert _intervals(np.array([], dtype=np.int64)) == []
    assert _intervals(np.array([7], dtype=np.int64)) == [(7, 7)]
    # contiguous ids collapse to one interval
    assert _intervals(np.arange(10, dtype=np.int64)) == [(0, 9)]
