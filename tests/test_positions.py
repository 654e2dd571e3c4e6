"""Positions index: phrase queries served from postings only.

The reference's default UI text filter is a quoted phrase fq
(web/nexlt/jslib/solrTestLib_v2.js:43,53) served by Lucene PhraseQuery
over positions postings (schema.xml text fields index positions).
These tests pin:

1. positions content == the oracle tokenizer's token offsets;
2. phrase_match_docs ≡ the re-tokenize fallback (same doc set) across
   phrase shapes including repeated tokens;
3. phrase rank-identity vs the pure-Python oracle THROUGH the positions
   path (bm25_topk on a positions index);
4. the positions-path phrase plan contains no Python evaluation over the
   documents table (postings-only — the scale property).
"""

import math

import pytest
from pyspark.sql import functions as F

from nexlt_spark.analysis import tokenize
from nexlt_spark.query.exact import bm25_topk, phrase_candidates, phrase_match_docs
from nexlt_spark.query.model import Query

PHRASES = [
    "the run",
    "index search term",
    "zzz yyy",          # absent terms
    "merge",            # single-token phrase
    "the the",          # repeated token
    "run the",          # reversed order of a common bigram
]


def _ids(df):
    return sorted(r["doc_id"] for r in df.collect())


def test_positions_match_oracle_offsets(pos_index, documents):
    sample = documents.where(F.col("doc_id") < 30).select("doc_id", "text").collect()
    texts = {r["doc_id"]: r["text"] for r in sample}
    rows = pos_index.postings.where(F.col("doc_id") < 30).collect()
    assert rows
    for r in rows:
        toks = tokenize(texts[r["doc_id"]])
        want = [i for i, t in enumerate(toks) if t == r["term"]]
        assert list(r["positions"]) == want, (r["term"], r["doc_id"])
        assert r["tf"] == len(want)


@pytest.mark.parametrize("phrase", PHRASES)
def test_phrase_match_equals_retokenize(pos_index, documents, phrase):
    toks = tokenize(phrase)
    got = _ids(phrase_match_docs(pos_index, toks))
    want = _ids(phrase_candidates(documents, toks))
    assert got == want, phrase


@pytest.mark.parametrize(
    "q",
    [
        Query(phrase="the run", k=10),
        Query(phrase="index search term", k=10),
        Query(phrase="zzz yyy", k=10),
        Query(phrase="merge", k=10),
    ],
    ids=["common", "rare", "absent", "single"],
)
def test_phrase_rank_identity_via_positions(pos_index, documents, oracle, q):
    want = oracle.topk(q)
    got = [
        (r["doc_id"], r["score"])
        for r in bm25_topk(pos_index, documents, q).select("doc_id", "score").collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (gd, gs), (wd, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-12, abs_tol=1e-15)


def test_stemmed_positions_merge_ascending(spark):
    """en_porter merges token forms; merged positions stay ascending."""
    from nexlt_spark.index.build import build_index

    docs = spark.createDataFrame(
        [(0, "running runs run runner walked"), (1, "walk run walk")],
        "doc_id long, text string",
    )
    idx = build_index(docs, positions=True, analyzer="en_porter")
    rows = {(r["term"], r["doc_id"]): list(r["positions"]) for r in idx.postings.collect()}
    assert rows[("run", 0)] == [0, 1, 2]  # running/runs/run → run (runner stays)
    assert rows[("walk", 1)] == [0, 2]
    # phrase through the stemmed chain: "running walked" → ["run","walk"]
    got = _ids(phrase_match_docs(idx, tokenize("runner walked", "en_porter")))
    assert got == [0]


def test_phrase_plan_touches_no_documents_python(pos_index, documents, tmp_path):
    """The positions phrase plan must be postings-only: no Arrow/Python
    eval stage (the tokenizer pandas_udf) anywhere in the query plan.

    Asserted on the production shape — an index whose postings are READ
    from the store (parquet), so the plan lineage starts at the scan: if
    the dispatcher ever fell back to the documents re-tokenize, the plan
    would grow an ArrowEvalPython/MapInPandas stage."""
    from nexlt_spark.index.build import IndexStats, InvertedIndex
    from nexlt_spark.query.exact import phrase_docs

    spark = documents.sparkSession
    pos_index.postings.write.mode("overwrite").parquet(str(tmp_path / "postings"))
    pos_index.doc_stats.write.mode("overwrite").parquet(str(tmp_path / "doc_stats"))
    pos_index.term_stats.write.mode("overwrite").parquet(str(tmp_path / "term_stats"))
    loaded = InvertedIndex(
        postings=spark.read.parquet(str(tmp_path / "postings")),
        doc_stats=spark.read.parquet(str(tmp_path / "doc_stats")),
        term_stats=spark.read.parquet(str(tmp_path / "term_stats")),
        stats=pos_index.stats,
    )
    assert loaded.has_positions
    out = phrase_docs(loaded, documents, ["the", "run"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "pythonUDF"):
        assert marker not in plan, f"phrase plan contains {marker}"
    # and the result is still correct
    assert _ids(out) == _ids(phrase_candidates(documents, ["the", "run"]))


# ---------------------------------------------------------------------------
# positions through the BLOCKED and PACKED stores (the scale-serving paths)
# ---------------------------------------------------------------------------


def _pos_map(df):
    return {
        (r["term"], r["doc_id"]): list(r["positions"])
        for r in df.collect()
    }


def test_blocked_positions_roundtrip_and_phrase(pos_index, documents):
    from nexlt_spark.index.blocks import BlockedIndex, build_blocks, decode_terms

    blocks = build_blocks(pos_index, range_shift=4, block_size=8)
    assert "pos" in blocks.columns
    bidx = BlockedIndex(
        blocks=blocks.persist(),
        doc_stats=pos_index.doc_stats,
        term_stats=pos_index.term_stats,
        stats=pos_index.stats,
    )
    assert bidx.has_positions
    terms = ["the", "run", "file"]
    got = _pos_map(decode_terms(blocks, terms, positions=True))
    want = _pos_map(pos_index.postings.where(F.col("term").isin(terms)))
    assert got == want  # multi-block, range-partitioned lists decode identically
    # phrase through the blocked index == through the flat index
    for ph in ["the run", "run the", "the the"]:
        toks = tokenize(ph)
        assert _ids(phrase_match_docs(bidx, toks)) == _ids(
            phrase_match_docs(pos_index, toks)
        ), ph
    # the scoring decode path must NOT carry the position payload
    assert "positions" not in bidx.lookup(terms).columns
    assert "positions" in bidx.lookup(terms, positions=True).columns


def test_packed_positions_equal_flat(documents, pos_index):
    from nexlt_spark.index.packed import build_blocked_direct

    bidx = build_blocked_direct(documents, range_shift=6, block_size=8, positions=True)
    assert bidx.has_positions
    terms = ["the", "run", "data"]
    got = _pos_map(bidx.lookup(terms, positions=True).select("term", "doc_id", "positions"))
    want = _pos_map(pos_index.postings.where(F.col("term").isin(terms)))
    assert got == want
    for ph in ["the run", "index search term"]:
        toks = tokenize(ph)
        assert _ids(phrase_match_docs(bidx, toks)) == _ids(
            phrase_match_docs(pos_index, toks)
        ), ph
