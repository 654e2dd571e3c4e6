"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is one operator from SURVEY.md §2 (tag in the
docstring line of the lambda's helper), implemented through the
``nexlt_spark`` engine API; ``oracle_sql()`` holds the DuckDB-equivalent
ANSI SQL. Column names and float rounding are aligned on both sides
(see nexlt_spark.scoring for the shared BM25 arithmetic).

Tokenizer parity note: the engine tokenizer is NFKC+lower+\\w-runs; the
driver's documents.parquet text is pure ``[a-z0-9 ]`` so the SQL form
``regexp_extract_all(lower(text), '[a-z0-9]+')`` is exactly equivalent
(verified: zero rows match ``[^a-z0-9 ]`` at every sf).
"""

from __future__ import annotations

import math
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from nexlt_spark import scoring
from nexlt_spark.index.build import build_index
from nexlt_spark.query.exact import paginate, score_postings
from nexlt_spark.ops import dedup, ingest, minhash, similarity, textstats

_INDEX_CACHE: dict = {}


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _index(spark: SparkSession, sf_dir: str):
    if sf_dir not in _INDEX_CACHE:
        from nexlt_spark.deploy import ensure_shipped

        ensure_shipped(spark)
        # positions=True: phrase queries run off the postings' position
        # arrays (query.exact.phrase_match_docs) — no per-query corpus
        # re-tokenize (the Lucene positions-postings analog)
        idx = build_index(_docs(spark, sf_dir), positions=True).persist()
        _INDEX_CACHE[sf_dir] = idx
    return _INDEX_CACHE[sf_dir]


def _attr_store(spark: SparkSession, sf_dir: str):
    """On-disk packed store + doc_attrs sidecar (cached per sf): the
    serving shape the r5 attr-filtered driver WAND and driver phrase
    plans need (pyarrow-readable store_path)."""
    key = ("attr_store", sf_dir)
    if key not in _INDEX_CACHE:
        import os
        import tempfile

        from nexlt_spark.deploy import ensure_shipped
        from nexlt_spark.index.blocks import load_blocked_index
        from nexlt_spark.index.packed import build_blocked_direct, save_blocked
        from nexlt_spark.query.attrs import save_doc_attrs

        ensure_shipped(spark)
        path = os.path.join(tempfile.mkdtemp(prefix="nexlt-entry-attr-"), "idx")
        docs = _docs(spark, sf_dir)
        save_blocked(
            build_blocked_direct(docs, range_shift=8, positions=True), path,
            n_buckets=8,
        )
        save_doc_attrs(docs, path)
        _INDEX_CACHE[key] = load_blocked_index(spark, path)
    return _INDEX_CACHE[key]


def _bm25(spark, sf_dir, terms, k=10, mode="or", lang=None, phrase=None, not_terms=None):
    """BM25 top-k over documents.parquet; (doc_id, score) rounded 6dp.

    Composes the engine primitives directly (the documents table has
    lang/source facets instead of the transcripts' role/tool)."""
    idx = _index(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    doc_filter = None
    if lang is not None:
        doc_filter = docs.where(F.col("lang") == lang).select("doc_id")
    if phrase is not None:
        from nexlt_spark.analysis import tokenize
        from nexlt_spark.query.exact import phrase_docs, phrase_score_postings

        ptoks = tokenize(phrase)
        if set(terms) <= set(ptoks) and idx.has_positions:
            # fused one-pass plan: adjacency + scoring in a single groupBy
            scored = phrase_score_postings(idx, ptoks, doc_filter)
            if not_terms:
                from nexlt_spark.query.exact import prohibited_docs

                excl = prohibited_docs(idx, not_terms)
                if excl is not None:
                    scored = scored.join(excl, "doc_id", "left_anti")
            top = paginate(scored, [F.col("score").desc(), F.col("doc_id").asc()], 0, k)
            return top.select("doc_id", F.round("score", 6).alias("score"))
        doc_filter = phrase_docs(idx, docs, ptoks, doc_filter=doc_filter)
        terms = sorted(set(terms) | set(ptoks))
        mode = "and"
    scored = score_postings(idx, terms, mode, doc_filter)
    if not_terms:
        from nexlt_spark.query.exact import prohibited_docs

        excl = prohibited_docs(idx, not_terms)
        if excl is not None:
            scored = scored.join(excl, "doc_id", "left_anti")
    top = paginate(scored, [F.col("score").desc(), F.col("doc_id").asc()], 0, k)
    return top.select("doc_id", F.round("score", 6).alias("score"))


# --------------------------------------------------------------------------
# SQL preamble shared by the BM25 oracle queries (DuckDB dialect-compatible
# ANSI): tok/dl/stats/tf/tstats CTEs mirror the engine's build exactly.
# --------------------------------------------------------------------------
_PRE = """
WITH tok AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
),
dl AS (SELECT doc_id, CAST(len(toks) AS INT) AS dl FROM tok),
stats AS (SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS INT) AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM tok) u
  GROUP BY doc_id, term
),
tstats AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
"""


def _contrib_cte(name: str, term: str) -> str:
    c = scoring.sql_contribution(
        scoring.sql_idf("s.n", "ts.df"), "tf.tf", "dl.dl", "s.avgdl"
    )
    return (
        f"{name} AS (SELECT tf.doc_id, {c} AS c\n"
        f"  FROM tf JOIN dl USING (doc_id) JOIN tstats ts ON ts.term = tf.term, stats s\n"
        f"  WHERE tf.term = '{term}')"
    )


def _sql_bm25_1(term: str, k: int = 10) -> str:
    return (
        _PRE + f", {_contrib_cte('c0', term)}\n"
        f"SELECT doc_id, round(c, 6) AS score FROM c0 "
        f"ORDER BY c DESC, doc_id ASC LIMIT {k}"
    )


def _sql_bm25_2(t1: str, t2: str, mode: str, k: int = 10, extra_where: str = "") -> str:
    a, b = sorted([t1, t2])
    if mode == "and":
        body = (
            "m AS (SELECT a.doc_id AS doc_id, a.c + b.c AS s\n"
            "  FROM c0 a JOIN c1 b ON a.doc_id = b.doc_id)"
        )
    else:
        body = (
            "m AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,\n"
            "  coalesce(a.c, 0.0) + coalesce(b.c, 0.0) AS s\n"
            "  FROM c0 a FULL OUTER JOIN c1 b ON a.doc_id = b.doc_id)"
        )
    return (
        _PRE + f", {_contrib_cte('c0', a)}, {_contrib_cte('c1', b)}, {body}\n"
        f"SELECT doc_id, round(s, 6) AS score FROM m {extra_where} "
        f"ORDER BY s DESC, doc_id ASC LIMIT {k}"
    )


# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 top-10 for 'spark join' (OR) on sf0.001."""
    return _bm25(spark, "/root/testdata/sf0.001", ["spark", "join"], k=10)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # -- search core (SURVEY.md §2.7/2.4/2.5) ------------------------------
    # NOTE: the driver's correctness gate checks at most 50 entries
    # (r1: 38/38 checked; r2: 51 registered → exactly 50 checked, the
    # last-defined row dropped). Keep this registry at EXACTLY 50 keys —
    # bm25_hot_term (same operator as bm25_single_term, different term)
    # was folded out; its Zipf-head perf role lives on in bench.py.
    q["bm25_single_term"] = lambda s, d: _bm25(s, d, ["spark"], k=10)  # Q1/O3
    q["bm25_multi_or"] = lambda s, d: _bm25(s, d, ["spark", "join"], k=10)  # Q4/SO3
    q["bm25_multi_and"] = lambda s, d: _bm25(s, d, ["spark", "join"], k=10, mode="and")  # J4
    def _bm25_phrase_driver(s, d):  # Q2 — r5 driver phrase plan: leapfrog
        # AND over skip data, positions fetched only for survivors'
        # blocks (query/phrase_driver.py); ≡ the exact fused phrase plan
        # (tests/test_phrase_driver.py); same oracle SQL as always.
        from nexlt_spark.analysis import tokenize
        from nexlt_spark.query.phrase_driver import phrase_topk

        top = phrase_topk(_attr_store(s, d), tokenize("table part"), k=10)
        return top.select("doc_id", F.round("score", 6).alias("score"))

    q["bm25_phrase"] = _bm25_phrase_driver
    def _bm25_attr_filtered(s, d):  # SO1/SO2 — r5 attr-filtered driver WAND:
        # fq evaluated against the doc_attrs sidecar driver-side
        # (query/attrs.py), rank-identical to the exact filtered scan
        # (tests/test_attr_filter.py); same oracle SQL as always.
        from nexlt_spark.query.attrs import AttrFilter
        from nexlt_spark.query.model import QueryFilters
        from nexlt_spark.query.planner import topk

        top = topk(
            _attr_store(s, d), ["value"], k=10,
            doc_filter=AttrFilter(QueryFilters(fields={"lang": ["en"]})),
        )
        return top.select("doc_id", F.round("score", 6).alias("score"))

    q["bm25_filtered"] = _bm25_attr_filtered
    q["bm25_not"] = lambda s, d: _bm25(s, d, ["spark"], k=10, not_terms=["join"])  # SO3 NOT

    def _bm25_synonyms(s, d):  # Q6 query-time synonym expansion
        from nexlt_spark.query.enrich import expand_synonyms, parse_synonyms

        mapping = parse_synonyms(["join, merge"])
        return _bm25(s, d, expand_synonyms(["join"], mapping), k=10)

    q["bm25_synonyms"] = _bm25_synonyms

    def _bm25_wand(s, d):  # P14 Block-Max WAND fast path ≡ exact BM25
        from nexlt_spark.query.wand import wand_topk

        top = wand_topk(_ranged_index(s, d), ["spark", "join"], k=10, mode="or")
        return top.select("doc_id", F.round("score", 6).alias("score"))

    q["bm25_wand_or"] = _bm25_wand

    def _bm25_planned(s, d):  # cost-based WAND-vs-exact routing, rank-invariant
        from nexlt_spark.query.planner import topk

        top = topk(_ranged_index(s, d), ["spark", "join"], k=10, mode="or")
        return top.select("doc_id", F.round("score", 6).alias("score"))

    q["bm25_planned_or"] = _bm25_planned

    def _bm25_sharded(s, d):  # distributed-query shape (solrconfig.xml:837-838):
        # 3 independent stores + ExactStatsCache global df/avgdl — the oracle
        # is the SINGLE-store SQL, so shard placement provably leaves no
        # signal in the ranks (index/sharded.py)
        from nexlt_spark.index.sharded import combine_shards
        from nexlt_spark.query.exact import bm25_topk
        from nexlt_spark.query.model import Query

        key = ("sharded", d)
        if key not in _INDEX_CACHE:
            from nexlt_spark.index.packed import build_blocked_direct

            docs = _docs(s, d)
            parts = [
                build_blocked_direct(
                    docs.where(F.pmod(F.col("doc_id"), F.lit(3)) == i)
                )
                for i in range(3)
            ]
            _INDEX_CACHE[key] = combine_shards(parts).persist()
        top = bm25_topk(
            _INDEX_CACHE[key], _docs(s, d), Query(terms=["spark", "join"], k=10)
        )
        return top.select("doc_id", F.round("score", 6).alias("score"))

    q["bm25_sharded_or"] = _bm25_sharded

    # -- per-range fused scorer (query/ranged.py — the at-depth plan) ------
    def _ranged_index(s, d):
        key = ("ranged", d)
        if key not in _INDEX_CACHE:
            from nexlt_spark.deploy import ensure_shipped
            from nexlt_spark.index.packed import build_blocked_direct

            ensure_shipped(s)
            # range_shift=8 → many disjoint doc ranges even at small sf,
            # so the kernel's multi-range merge shape is what's checked
            _INDEX_CACHE[key] = build_blocked_direct(
                _docs(s, d), range_shift=8, positions=True
            ).persist()
        return _INDEX_CACHE[key]

    def _bm25_ranged(s, d):  # per-range decode+score+arity kernel ≡ exact BM25
        from nexlt_spark.query.ranged import score_ranged

        scored = score_ranged(_ranged_index(s, d), ["spark", "join"], mode="and", limit=10)
        top = paginate(scored, [F.col("score").desc(), F.col("doc_id").asc()], 0, 10)
        return top.select("doc_id", F.round("score", 6).alias("score"))

    q["bm25_ranged_and"] = _bm25_ranged

    def _bm25_ranged_phrase(s, d):  # in-kernel positional adjacency + scoring
        from nexlt_spark.analysis import tokenize
        from nexlt_spark.query.ranged import phrase_score_ranged

        scored = phrase_score_ranged(_ranged_index(s, d), tokenize("table part"), limit=10)
        top = paginate(scored, [F.col("score").desc(), F.col("doc_id").asc()], 0, 10)
        return top.select("doc_id", F.round("score", 6).alias("score"))

    q["bm25_ranged_phrase"] = _bm25_ranged_phrase

    # -- raw query-string surface (parallel.cgi/corpus.cgi syntax) ---------
    def _parsed(s, d, raw):
        from nexlt_spark.query.parser import parse_query

        pq = parse_query(raw)
        lang = (pq.filters.fields or {}).get("lang")
        return _bm25(
            s, d, pq.terms, k=pq.k, mode=pq.mode,
            lang=lang[0] if lang else None, phrase=pq.phrase, not_terms=pq.not_terms,
        )

    # raw string in, rank-identical to the structured-query entries out.
    # All four parser shapes are back under the driver contract (r4):
    # the slot cost was paid by folding the three facet entries into one
    # multi-mode facet_all row (the actual Solr response shape anyway).
    q["parsed_query_filtered"] = lambda s, d: _parsed(s, d, "value AND lang:en")
    q["parsed_query_phrase"] = lambda s, d: _parsed(s, d, '"table part"')
    q["parsed_query_and"] = lambda s, d: _parsed(s, d, "text:spark AND text:join")
    q["parsed_query_not"] = lambda s, d: _parsed(s, d, "spark NOT join")

    def _select_handler(s, d):  # the full /select request shape (query.select)
        from nexlt_spark.query.select import select

        resp = select(
            _index(s, d), _docs(s, d), q="value", fq=["lang:en"], rows=10
        )
        return resp.docs.select("doc_id", F.round("score", 6).alias("score"))

    q["select_handler"] = _select_handler

    def _realtime_get(s, d):  # S10 /get point lookup by id
        return _docs(s, d).where(F.col("doc_id") == 42).select("doc_id", "lang", "source", "text")

    q["realtime_get"] = _realtime_get

    def _highlight(s, d):  # Q9 highlighting fragments
        from nexlt_spark.query.enrich import highlight

        base = _docs(s, d).where(F.col("doc_id") < 20).select("doc_id", "text")
        out = highlight(base, ["spark"], fragsize=1_000_000)
        return out.select("doc_id", "snippet")

    q["highlight_snippets"] = _highlight

    def _moses(s, d):  # S9 Moses-delimited export lines
        from nexlt_spark.ops.export import moses_lines

        base = _docs(s, d).where(F.col("doc_id") < 20)
        return moses_lines(base, ["doc_id", "lang", "text"])

    q["moses_export_lines"] = _moses

    def _existence_count(s, d):  # Q3/A6: <lang>:[* TO *] analog
        return (
            _docs(s, d)
            .where(F.col("text").isNotNull() & (F.length("text") > 0))
            .agg(F.count(F.lit(1)).alias("num_found"))
        )

    q["existence_count"] = _existence_count

    def _match_all_count(s, d):  # Q5/A6 numFound
        return _docs(s, d).agg(F.count(F.lit(1)).alias("num_found"))

    q["match_all_count"] = _match_all_count

    def _sorted_page(s, d):  # O2 sort + O5 offset pagination
        base = _docs(s, d).where(F.col("lang") == "en").select(
            "doc_id", F.lower(F.col("text")).alias("text_lc")
        )
        return paginate(base, [F.col("text_lc").asc(), F.col("doc_id").asc()], 20, 10)

    q["sorted_page"] = _sorted_page

    def _facet_all(s, d):  # A7 — facet.field + facet.query + facet.range
        # in ONE entry (query/facets.facet_response): the three r3 facet
        # rows folded into the single-request Solr response shape, freeing
        # two driver-contract slots for the parser AND/NOT entries
        from nexlt_spark.query.facets import facet_response

        return facet_response(
            _docs(s, d),
            fields=["lang"],
            predicates={
                "en_docs": F.col("lang") == "en",
                "long_docs": F.col("n_chars") >= 400,
                "spark_docs": F.col("text").contains("spark"),
            },
            ranges=[("n_chars", 0, 600, 100)],
        )

    q["facet_all"] = _facet_all

    def _term_stats(s, d):  # A3 df/idf
        idx = _index(s, d)
        terms = ["spark", "join", "table", "value", "query"]
        dfs = idx.term_dfs(terms)
        n = idx.stats.n_docs
        rows = [
            (t, dfs[t], round(scoring.idf(n, dfs[t]), 6)) for t in sorted(dfs)
        ]
        return s.createDataFrame(rows, "term string, df long, idf double")

    q["term_stats"] = _term_stats

    def _doc_stats(s, d):  # A4 norms/dl
        idx = _index(s, d)
        return idx.doc_stats.where(F.col("doc_id") < 20).orderBy("doc_id")

    q["doc_stats"] = _doc_stats

    def _postings_lookup(s, d):  # Q1 raw postings row
        idx = _index(s, d)
        return (
            idx.postings.where(F.col("term") == "spark")
            .select("doc_id", "tf")
            .orderBy("doc_id")
        )

    q["postings_lookup"] = _postings_lookup

    def _tf_table(s, d):  # A2 term frequency
        idx = _index(s, d)
        return (
            idx.postings.where(F.col("doc_id") < 5)
            .select("term", "doc_id", "tf")
            .orderBy("term", "doc_id")
        )

    q["tf_table"] = _tf_table

    # -- ingest operators (SURVEY.md §2.2/2.3/2.6/2.9) ---------------------
    def _date_window(s, d):  # F4/ST1 date-range + agg
        e = ingest.date_window_filter(
            _events(s, d), "ts", "2024-01-10 00:00:00", "2024-01-20 00:00:00"
        )
        return e.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total_value")
        )

    q["date_window_agg"] = _date_window

    # -- streaming-analog window agg (ST6; batch-equivalent form). Placed
    # here (not last) so the driver's 50-entry check can never drop it
    # again (it was the silently-dropped 51st row in round 2).
    def _tumbling(s, d):
        e = _events(s, d)
        return e.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
        ).agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total_value"))

    q["tumbling_window_agg"] = _tumbling

    def _scrub_project(s, d):  # F7/F10/F15/F16 bundle
        return ingest.scrub_and_project(_docs(s, d)).where(F.col("doc_id") < 25)

    q["scrub_project"] = _scrub_project

    def _latest_per_user(s, d):  # SO5 last-write-wins upsert
        e = ingest.latest_by_key(_events(s, d), ["user_id"], "ts", "event_id")
        return e.where(F.col("user_id") < 40).select("user_id", "event_id", "event_type")

    q["upsert_latest_per_user"] = _latest_per_user

    def _dim_join(s, d):  # J1 broadcast lookup + fallback default
        dim = s.createDataFrame(
            [("en", "English"), ("fr", "French"), ("de", "German")],
            "lang string, lang_name string",
        )
        out = ingest.dim_lookup_with_fallback(_docs(s, d), dim, "lang", "lang_name", "OTHER")
        return out.groupBy("lang", "lang_name").agg(F.count(F.lit(1)).alias("n_docs"))

    q["dim_lookup_join"] = _dim_join

    def _collect_mv(s, d):  # A1 multi-valued collect
        return ingest.collect_multivalued(_docs(s, d), "lang", "source", "sources")

    q["collect_multivalued"] = _collect_mv

    # -- training-data pipeline ops ----------------------------------------
    def _dedup_exact(s, d):
        return dedup.exact_duplicate_groups(_docs(s, d))

    q["dedup_exact_groups"] = _dedup_exact

    def _dedup_fp(s, d):
        return dedup.fingerprint_duplicate_groups(_docs(s, d), n_tokens=2)

    q["dedup_fingerprint_groups"] = _dedup_fp

    def _token_stats(s, d):
        return textstats.token_stats_by(_docs(s, d), "lang")

    q["token_stats"] = _token_stats

    def _quality(s, d):
        return textstats.quality_scores(_docs(s, d)).where(F.col("doc_id") < 50)

    q["quality_scores"] = _quality

    def _minhash_pairs(s, d):
        # MinHash+LSH candidates -> exact-Jaccard verify; r=1 bands give
        # recall 1-(1-J)^16 ≈ 1 at the J≥0.9 planted-near-dup level, so
        # the verified output equals the oracle's exhaustive all-pairs scan
        return minhash.near_duplicate_pairs(
            _docs(s, d), threshold=0.9, n_hashes=16, n_bands=16, shingle_n=3
        )

    q["dedup_minhash_pairs"] = _minhash_pairs

    def _minhash_pairs_banded(s, d):
        # THE SCALE CONFIGURATION: b=4 bands of r=4 rows. Recall at
        # similarity J is 1-(1-J^4)^4 — ≥0.986 at J=0.9 and ≥0.9988 at
        # J=0.95 (the planted near-dups here are J∈[0.90,0.99], verified
        # b4r4 ≡ exhaustive on this corpus) — while a J=0.3 pair is a
        # candidate with p=3.2% vs ~99.8% under r=1 banding, i.e. ~16×
        # fewer false candidates into the verify join at web scale. The
        # oracle stays the exhaustive all-pairs scan.
        return minhash.near_duplicate_pairs(
            _docs(s, d), threshold=0.9, n_hashes=16, n_bands=4, shingle_n=3
        )

    q["dedup_minhash_pairs_banded"] = _minhash_pairs_banded

    def _simhash_pairs(s, d):
        # md5_60 token hash: bit-identical to DuckDB's
        # ('0x'||substr(md5(tok),1,15))::bigint, so this entry is fully
        # value-checked against the brute-force SQL oracle (was rows-only
        # in r2 with the xxh64 default — xxhash64 has no DuckDB twin; the
        # xxh64 JVM fast path stays the library default, pytest-covered)
        return minhash.simhash_near_pairs(
            _docs(s, d), max_hamming=3, n_bands=4, hash="md5_60"
        )

    q["dedup_simhash_pairs"] = _simhash_pairs

    def _ngram_jaccard(s, d):
        # exact inverted-shingle-index variant (full recall; no MinHash
        # loss) WITH the hot-shingle df cap engaged (the scale setting —
        # prunes shingles seen in >5 docs from candidate generation; at
        # J≥0.9 a pair shares dozens of rare shingles, so the exhaustive
        # oracle is still reproduced exactly while the worst-case
        # candidate blowup is bounded by df_cap² per shingle)
        return minhash.ngram_jaccard_pairs(
            _docs(s, d), threshold=0.9, shingle_n=3, max_shingle_df=5
        )

    q["dedup_ngram_jaccard_pairs"] = _ngram_jaccard

    def _survivors(s, d):
        # end-to-end near-dup dedup: MinHash pair list -> connected
        # components (min-label propagation, ops/dedup.near_dup_clusters)
        # -> keep each cluster's min-doc_id representative. The oracle is
        # the exhaustive-Jaccard pair scan closed transitively with a
        # recursive CTE — so banding, clustering, and survivor selection
        # are all value-checked, not just the pair list.
        pairs = minhash.near_duplicate_pairs(
            _docs(s, d), threshold=0.9, n_hashes=16, n_bands=4, shingle_n=3
        )
        return dedup.dedup_survivors(_docs(s, d), pairs).select("doc_id")

    q["dedup_survivors"] = _survivors

    def _contamination(s, d):
        # benchmark decontamination: flag corpus docs CONTAINING an eval
        # item's 8-gram shingles (asymmetric containment — near-dup
        # Jaccard provably misses this; ops/contamination.py). The
        # "benchmark" is a deterministic slice of the corpus (every 37th
        # doc's 120-char prefix) so the oracle can re-derive it in SQL;
        # planted duplicate docs make some hits CROSS-document, i.e. the
        # entry exercises real containment, not just self-matches.
        from nexlt_spark.ops.contamination import ngram_contamination

        docs = _docs(s, d)
        bench = docs.where(F.col("doc_id") % 37 == 0).select(
            "doc_id", F.expr("substring(text, 1, 120)").alias("text")
        )
        return ngram_contamination(docs, bench, shingle_n=8, min_hits=3).select(
            "doc_id",
            "bench_id",
            "n_hits",
            "doc_shingles",
            F.round("overlap_frac", 6).alias("overlap_frac"),
        )

    q["contamination_hits"] = _contamination

    def _multimodal_profile(s, d):
        # binary media plumbing (decode is a deterministic fake — no media
        # libs in this container); the synth table's metadata is pure
        # arithmetic of the row index, so the oracle re-derives it with
        # generate_series — full value-hash check, not rows-only
        from nexlt_spark.ops import multimodal

        media = multimodal.synth_media(s, n=64, seed=42)
        prof = multimodal.metadata_profile(media)
        return prof.select(
            "kind", "n", "avg_duration_ms", F.col("max_width").cast("long").alias("max_width")
        )

    q["multimodal_metadata_profile"] = _multimodal_profile

    def _rolling_fp(s, d):
        return textstats.char_ngram_fingerprint(_docs(s, d), n=16).where(F.col("doc_id") < 50)

    q["doc_fingerprint"] = _rolling_fp

    def _lang_id(s, d):
        return textstats.language_id(_docs(s, d)).where(F.col("doc_id") < 100)

    q["language_id"] = _lang_id

    def _emb_pairs(s, d):
        # EXACT projection-bucketed self-join (no crossJoin node): unit
        # vectors with cos≥t satisfy |⟨a,r⟩-⟨b,r⟩| ≤ √(2-2t), so a
        # bucket+neighbour equi-join on ⌊proj/w⌋ has full recall and the
        # exact-cosine verify keeps precision exact — reproduces the
        # all-pairs oracle at any threshold; pruning grows with t
        return similarity.projection_near_dup_pairs(
            _embeddings(s, d), dim=64, threshold=0.45, n_refs=3, seed=42
        )

    q["embedding_near_dup_pairs"] = _emb_pairs

    def _ann(s, d):
        emb = _embeddings(s, d)
        qv = emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
        out = similarity.cosine_topk(emb, [float(x) for x in qv], k=10)
        return out.select("vec_id", F.round("cos", 4).alias("cos"))

    q["ann_cosine_topk"] = _ann

    def _ann_ivf(s, d):  # IVF centroid-partitioned ANN; nprobe=n_cells ⇒
        # exhaustive ⇒ oracle is the exact brute-force SQL (recall at
        # nprobe<n_cells asserted on planted clusters in pytest)
        emb = _embeddings(s, d)
        qv = [float(x) for x in emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]]
        cents = similarity.train_ivf_centroids(emb, n_cells=4, dim=len(qv), iters=5)
        assigned = similarity.ivf_assign(emb, cents)
        out = similarity.ivf_cosine_topk(assigned, qv, cents, nprobe=4, k=10)
        return out.select("vec_id", F.round("cos", 4).alias("cos"))

    q["ann_ivf_topk"] = _ann_ivf

    return q


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

    o["bm25_single_term"] = _sql_bm25_1("spark")
    o["bm25_multi_or"] = _sql_bm25_2("spark", "join", "or")
    # sharded ≡ single-store: the oracle is deliberately the UNSHARDED SQL
    o["bm25_sharded_or"] = _sql_bm25_2("spark", "join", "or")
    o["bm25_multi_and"] = _sql_bm25_2("spark", "join", "and")
    o["bm25_phrase"] = (
        _PRE
        + f", {_contrib_cte('c0', 'part')}, {_contrib_cte('c1', 'table')},\n"
        "ph AS (SELECT doc_id FROM tok\n"
        "  WHERE position(' table part ' IN ' ' || array_to_string(toks, ' ') || ' ') > 0),\n"
        "m AS (SELECT a.doc_id AS doc_id, a.c + b.c AS s\n"
        "  FROM c0 a JOIN c1 b ON a.doc_id = b.doc_id JOIN ph ON ph.doc_id = a.doc_id)\n"
        "SELECT doc_id, round(s, 6) AS score FROM m ORDER BY s DESC, doc_id ASC LIMIT 10"
    )
    o["bm25_filtered"] = (
        _PRE
        + f", {_contrib_cte('c0', 'value')},\n"
        "f AS (SELECT doc_id FROM documents WHERE lang = 'en')\n"
        "SELECT c0.doc_id AS doc_id, round(c0.c, 6) AS score\n"
        "FROM c0 JOIN f ON f.doc_id = c0.doc_id "
        "ORDER BY c0.c DESC, c0.doc_id ASC LIMIT 10"
    )

    o["bm25_not"] = (
        _PRE + f", {_contrib_cte('c0', 'spark')}\n"
        "SELECT doc_id, round(c, 6) AS score FROM c0\n"
        "WHERE doc_id NOT IN (SELECT doc_id FROM tf WHERE term = 'join')\n"
        "ORDER BY c DESC, doc_id ASC LIMIT 10"
    )
    o["bm25_synonyms"] = _sql_bm25_2("join", "merge", "or")
    o["parsed_query_filtered"] = o["bm25_filtered"]
    o["select_handler"] = o["bm25_filtered"]
    o["parsed_query_phrase"] = o["bm25_phrase"]
    o["parsed_query_and"] = o["bm25_multi_and"]
    o["parsed_query_not"] = o["bm25_not"]
    o["bm25_wand_or"] = _sql_bm25_2("spark", "join", "or")
    o["bm25_planned_or"] = _sql_bm25_2("spark", "join", "or")
    # ranged fused kernel must equal the same oracles as the generic plans
    o["bm25_ranged_and"] = o["bm25_multi_and"]
    o["bm25_ranged_phrase"] = o["bm25_phrase"]
    o["realtime_get"] = (
        "SELECT doc_id, lang, source, text FROM documents WHERE doc_id = 42"
    )
    o["highlight_snippets"] = (
        "SELECT doc_id, regexp_replace(text, '(?i)\\b(spark)\\b', '<em>\\1</em>', 'g')"
        " AS snippet FROM documents WHERE doc_id < 20"
    )
    o["moses_export_lines"] = (
        "SELECT CAST(doc_id AS VARCHAR) || '◊' || coalesce(lang, '') || '◊' ||"
        " coalesce(text, '') AS value FROM documents WHERE doc_id < 20"
    )

    o["existence_count"] = (
        "SELECT count(*) AS num_found FROM documents "
        "WHERE text IS NOT NULL AND length(text) > 0"
    )
    o["match_all_count"] = "SELECT count(*) AS num_found FROM documents"
    o["sorted_page"] = (
        "SELECT doc_id, lower(text) AS text_lc FROM documents WHERE lang = 'en' "
        "ORDER BY lower(text) ASC, doc_id ASC LIMIT 10 OFFSET 20"
    )
    o["facet_all"] = (
        "SELECT 'field:lang' AS kind, lang AS facet, count(*) AS n\n"
        "  FROM documents WHERE lang IS NOT NULL GROUP BY lang\n"
        "UNION ALL SELECT 'query', 'en_docs', count(*) FROM documents WHERE lang = 'en'\n"
        "UNION ALL SELECT 'query', 'long_docs', count(*) FROM documents WHERE n_chars >= 400\n"
        "UNION ALL SELECT 'query', 'spark_docs', count(*) FROM documents WHERE text LIKE '%spark%'\n"
        "UNION ALL (\n"
        "  WITH spine AS (SELECT i FROM generate_series(0, 5) t(i)),\n"
        "  c AS (SELECT CAST(floor(n_chars / 100) AS BIGINT) AS i, count(*) AS n\n"
        "    FROM documents WHERE n_chars >= 0 AND n_chars < 600 GROUP BY 1)\n"
        "  SELECT 'range:n_chars', CAST(CAST(spine.i * 100 AS BIGINT) AS VARCHAR),\n"
        "    CAST(coalesce(c.n, 0) AS BIGINT)\n"
        "  FROM spine LEFT JOIN c USING (i))"
    )
    o["term_stats"] = (
        _PRE
        + "SELECT term, df, round(" + scoring.sql_idf("(SELECT n FROM stats)", "df") + ", 6) AS idf\n"
        "FROM tstats WHERE term IN ('spark','join','table','value','query') ORDER BY term"
    )
    o["doc_stats"] = (
        _PRE + "SELECT doc_id, dl FROM dl WHERE doc_id < 20 ORDER BY doc_id"
    )
    o["postings_lookup"] = (
        _PRE + "SELECT doc_id, tf FROM tf WHERE term = 'spark' ORDER BY doc_id"
    )
    o["tf_table"] = (
        _PRE + "SELECT term, doc_id, tf FROM tf WHERE doc_id < 5 ORDER BY term, doc_id"
    )

    o["date_window_agg"] = (
        "SELECT event_type, count(*) AS n, round(sum(value), 4) AS total_value\n"
        "FROM events WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' "
        "AND ts < TIMESTAMP '2024-01-20 00:00:00' GROUP BY event_type"
    )
    o["scrub_project"] = (
        "SELECT doc_id, 'doc:' || CAST(doc_id AS VARCHAR) AS doc_key,\n"
        "  regexp_replace(text, '[\\n\\r]', ' ', 'g') AS text, lower(text) AS text_lc\n"
        "FROM documents WHERE text IS NOT NULL AND length(text) <= 5000 AND doc_id < 25"
    )
    o["upsert_latest_per_user"] = (
        "SELECT user_id, event_id, event_type FROM (\n"
        "  SELECT user_id, event_id, event_type,\n"
        "    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn\n"
        "  FROM events) t WHERE rn = 1 AND user_id < 40"
    )
    o["dim_lookup_join"] = (
        "SELECT d.lang, coalesce(m.lang_name, 'OTHER') AS lang_name, count(*) AS n_docs\n"
        "FROM documents d LEFT JOIN (VALUES ('en','English'),('fr','French'),('de','German'))\n"
        "  AS m(lang, lang_name) ON d.lang = m.lang GROUP BY 1, 2"
    )
    o["collect_multivalued"] = (
        "SELECT lang, string_agg(DISTINCT source, ',' ORDER BY source) AS sources\n"
        "FROM documents GROUP BY lang"
    )

    o["dedup_exact_groups"] = (
        "SELECT md5(text) AS text_hash, count(*) AS dup_count, min(doc_id) AS keep_doc_id\n"
        "FROM documents GROUP BY md5(text) HAVING count(*) > 1"
    )
    o["dedup_fingerprint_groups"] = (
        "WITH fp AS (SELECT doc_id,\n"
        "  md5(array_to_string((string_split(text, ' '))[1:2], ' ')) AS fingerprint\n"
        "  FROM documents)\n"
        "SELECT fingerprint, count(*) AS dup_count, min(doc_id) AS keep_doc_id\n"
        "FROM fp GROUP BY fingerprint HAVING count(*) > 1"
    )
    o["token_stats"] = (
        "WITH t AS (SELECT lang, len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens\n"
        "  FROM documents)\n"
        # CAST: DuckDB sum(BIGINT) yields HUGEINT (int128); Spark F.sum(int)
        # yields LongType — values equal, serialized type differs, hash broke
        "SELECT lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens,\n"
        "  round(avg(n_tokens), 4) AS avg_tokens\n"
        "FROM t GROUP BY lang ORDER BY lang"
    )
    o["quality_scores"] = (
        "WITH t AS (SELECT doc_id, text,\n"
        "    regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents)\n"
        "SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,\n"
        "  round(CASE WHEN len(toks) = 0 THEN 0.0\n"
        "    ELSE CAST(length(trim(text)) AS DOUBLE) / len(toks) END, 4) AS avg_token_len,\n"
        "  round(CASE WHEN len(toks) = 0 THEN 0.0\n"
        "    ELSE CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) END, 4) AS unique_ratio\n"
        "FROM t WHERE doc_id < 50"
    )
    _SHINGLE_CTE = (
        "WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks\n"
        "  FROM documents),\n"
        "sh AS (SELECT doc_id, CASE WHEN len(toks) >= 3\n"
        "    THEN list_distinct([array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks)-1)])\n"
        "    ELSE [array_to_string(toks, ' ')] END AS shingles\n"
        "  FROM tok WHERE len(toks) > 0)\n"
    )
    # the oracle is the EXHAUSTIVE all-pairs scan; the engine's LSH path
    # must reproduce it exactly because r=1 banding recall at J>=0.9 is
    # 1-(1-0.9)^16 and the verify step is exact Jaccard on both sides
    o["dedup_minhash_pairs"] = (
        _SHINGLE_CTE
        + "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,\n"
        "  round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)\n"
        "    / len(list_distinct(a.shingles || b.shingles)), 6) AS jaccard\n"
        "FROM sh a JOIN sh b ON a.doc_id < b.doc_id\n"
        "WHERE round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)\n"
        "    / len(list_distinct(a.shingles || b.shingles)), 6) >= 0.9"
    )
    # banded (b=4/r=4) scale config must reproduce the same exhaustive
    # scan: recall 1-(1-J^4)^4 ≥ 0.986 on the J∈[0.9,0.99] planted pairs,
    # verified pair-for-pair on this corpus (precision is exact always)
    o["dedup_minhash_pairs_banded"] = o["dedup_minhash_pairs"]

    # SimHash brute-force oracle (md5_60 token hash — bit-identical to
    # Spark's conv(substring(md5(tok),1,15),16,10) by construction, hash
    # parity asserted in tests/test_pipeline_ops.py): per-bit majority
    # vote over the token stream, exhaustive all-pairs popcount verify.
    # The engine's banded pigeonhole candidates (max_hamming=3 < n_bands=4)
    # have full recall, so the banded path must equal this scan exactly.
    o["dedup_simhash_pairs"] = (
        "WITH toks AS (\n"
        "  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok\n"
        "  FROM documents\n"
        "), h AS (\n"
        "  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS hv FROM toks\n"
        "), votes AS (\n"
        "  SELECT doc_id, b, SUM(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v\n"
        "  FROM h CROSS JOIN (SELECT unnest(range(60)) AS b) GROUP BY doc_id, b\n"
        "), sig0 AS (\n"
        "  SELECT doc_id, CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash\n"
        "  FROM votes GROUP BY doc_id\n"
        "), sig AS (\n"
        "  SELECT d.doc_id, COALESCE(s.simhash, 0) AS simhash\n"
        "  FROM documents d LEFT JOIN sig0 s ON d.doc_id = s.doc_id\n"
        ")\n"
        "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,\n"
        "  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming\n"
        "FROM sig a JOIN sig b ON a.doc_id < b.doc_id\n"
        "WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"
    )
    # multimodal_metadata_profile: the seeded synth table (ops/multimodal.py
    # synth_media n=64 seed=42) sets kind/width/duration as pure arithmetic
    # of the row index, so the oracle re-derives the table in SQL; only the
    # payload bytes (which metadata_profile never reads) need hashing
    o["multimodal_metadata_profile"] = (
        "WITH m AS (\n"
        "  SELECT i,\n"
        "    CASE i%3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,\n"
        "    CASE WHEN i%3 <> 1 THEN 64 + (i%8)*16 END AS width,\n"
        "    CASE WHEN i%3 <> 0 THEN 1000*(1+i%30) END AS duration_ms\n"
        "  FROM generate_series(0, 63) t(i)\n"
        ")\n"
        "SELECT kind, COUNT(*)::BIGINT AS n,\n"
        "  ROUND(AVG(duration_ms), 2)::DOUBLE AS avg_duration_ms,\n"
        "  MAX(width)::BIGINT AS max_width\n"
        "FROM m GROUP BY kind ORDER BY kind"
    )

    # exact variant: the engine's inverted-shingle-index candidates have
    # full recall, so it must equal the exhaustive all-pairs scan exactly
    o["dedup_ngram_jaccard_pairs"] = (
        _SHINGLE_CTE
        + "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,\n"
        "  round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)\n"
        "    / len(list_distinct(a.shingles || b.shingles)), 6) AS jaccard\n"
        "FROM sh a JOIN sh b ON a.doc_id < b.doc_id\n"
        "WHERE round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)\n"
        "    / len(list_distinct(a.shingles || b.shingles)), 6) >= 0.9"
    )

    # dedup_survivors: exhaustive-Jaccard pairs (same scan as the minhash
    # oracle) -> symmetric edge closure via a recursive CTE -> min-label
    # cluster id -> drop every non-representative. Value-checks the whole
    # pairs -> clusters -> survivors pipeline, including transitivity
    # (A~B, B~C collapse to one survivor even when A~C was never a pair).
    o["dedup_survivors"] = (
        "WITH RECURSIVE tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks\n"
        "  FROM documents),\n"
        "sh AS (SELECT doc_id, CASE WHEN len(toks) >= 3\n"
        "    THEN list_distinct([array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks)-1)])\n"
        "    ELSE [array_to_string(toks, ' ')] END AS shingles\n"
        "  FROM tok WHERE len(toks) > 0),\n"
        "pairs AS (\n"
        "  SELECT a.doc_id AS da, b.doc_id AS db\n"
        "  FROM sh a JOIN sh b ON a.doc_id < b.doc_id\n"
        "  WHERE round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)\n"
        "      / len(list_distinct(a.shingles || b.shingles)), 6) >= 0.9),\n"
        "edges AS (SELECT da AS s, db AS d FROM pairs UNION SELECT db, da FROM pairs),\n"
        "reach(s, d) AS (\n"
        "  SELECT s, d FROM edges\n"
        "  UNION\n"
        "  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s WHERE e.d <> r.s),\n"
        "losers AS (SELECT s AS doc_id FROM reach GROUP BY s HAVING LEAST(s, MIN(d)) < s)\n"
        "SELECT d.doc_id FROM documents d\n"
        "WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)"
    )

    # contamination_hits: the benchmark side is re-derived in SQL (every
    # 37th doc's 120-char prefix); containment is counted on distinct
    # 8-gram shingle INTERSECTION — the engine's xxhash64 shingle keys are
    # a bandwidth optimization whose collisions are ~8e-20/pair, so the
    # string-join oracle is exact.
    _CONTAM_SH = (
        "(SELECT {id} AS id, CASE WHEN len(toks) >= 8\n"
        "    THEN list_distinct([array_to_string(toks[i:i+7], ' ') FOR i IN range(1, len(toks)-6)])\n"
        "    ELSE [array_to_string(toks, ' ')] END AS shingles\n"
        "  FROM (SELECT {id}, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM {src})\n"
        "  WHERE len(toks) > 0)"
    )
    o["contamination_hits"] = (
        "WITH benchdocs AS (\n"
        "  SELECT doc_id AS bench_id, substring(text, 1, 120) AS text\n"
        "  FROM documents WHERE doc_id % 37 = 0),\n"
        "shc AS " + _CONTAM_SH.format(id="doc_id", src="documents") + ",\n"
        "shb AS " + _CONTAM_SH.format(id="bench_id", src="benchdocs") + "\n"
        "SELECT c.id AS doc_id, b.id AS bench_id,\n"
        "  CAST(len(list_intersect(c.shingles, b.shingles)) AS BIGINT) AS n_hits,\n"
        "  CAST(len(c.shingles) AS BIGINT) AS doc_shingles,\n"
        "  round(CAST(len(list_intersect(c.shingles, b.shingles)) AS DOUBLE)\n"
        "    / len(b.shingles), 6) AS overlap_frac\n"
        "FROM shc c JOIN shb b ON len(list_intersect(c.shingles, b.shingles)) >= 3"
    )

    o["doc_fingerprint"] = (
        "SELECT doc_id, md5(substring(text, 1, 16) || '|' || right(text, 16) || '|'\n"
        "  || CAST(length(text) AS VARCHAR)) AS fingerprint\n"
        "FROM documents WHERE doc_id < 50"
    )

    from nexlt_spark.ops.textstats import STOPWORDS

    def _sw_list(lang: str) -> str:
        return "[" + ",".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"

    _langs = sorted(STOPWORDS)
    _best = "greatest(" + ",".join(f"s_{g}" for g in _langs) + ")"
    _case = "CASE WHEN " + _best + " < 1 THEN 'und' " + " ".join(
        f"WHEN s_{g} = {_best} THEN '{g}'" for g in _langs[:-1]
    ) + f" ELSE '{_langs[-1]}' END"
    o["language_id"] = (
        "WITH tok AS (SELECT doc_id,\n"
        "    list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS toks\n"
        "  FROM documents),\n"
        "sc AS (SELECT doc_id, "
        + ", ".join(
            f"len(list_intersect(toks, {_sw_list(g)})) AS s_{g}" for g in _langs
        )
        + " FROM tok)\n"
        f"SELECT doc_id, {_case} AS lang_pred, {_best} AS hits\n"
        "FROM sc WHERE doc_id < 100"
    )

    o["embedding_near_dup_pairs"] = (
        "WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),\n"
        "p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,\n"
        "  round(list_dot_product(a.v, b.v) /\n"
        "    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos\n"
        "  FROM n a JOIN n b ON a.vec_id < b.vec_id)\n"
        "SELECT id_a, id_b, cos FROM p WHERE cos >= 0.45"
    )

    o["ann_cosine_topk"] = (
        "WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)\n"
        "SELECT vec_id, round(\n"
        "  list_dot_product(CAST(embedding AS DOUBLE[]), qv) /\n"
        "  (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))\n"
        "   * sqrt(list_dot_product(qv, qv))), 4) AS cos\n"
        "FROM embeddings, q\n"
        "ORDER BY list_dot_product(CAST(embedding AS DOUBLE[]), qv) /\n"
        "  (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))\n"
        "   * sqrt(list_dot_product(qv, qv))) DESC, vec_id ASC LIMIT 10"
    )
    # IVF at nprobe=n_cells ≡ exhaustive — deliberately the SAME exact SQL
    o["ann_ivf_topk"] = o["ann_cosine_topk"]
    o["tumbling_window_agg"] = (
        "SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,\n"
        "  event_type, count(*) AS n, round(sum(value), 4) AS total_value\n"
        "FROM events GROUP BY 1, 2"
    )

    return o
