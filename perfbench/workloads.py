"""The benchmark's workloads over the nexlt_spark engine.

- ``serve_multi``: one closed-loop client on the reloaded on-disk
  50k-vocab store with warm driver caches; OR-3, AND-2, 2-token phrases
  and attr-filtered OR-2 in equal shares (the zero-Spark-job driver
  routes).
- ``ingest_live``: incremental commits of disjoint conversation slices,
  each followed by a reopen of the live index and a fixed query set
  (the Spark-executed routes).

Every answer is compared after timing against the pure-Python BM25
oracle (``nexlt_spark.oracle.OracleIndex``) over the same documents.
See README.md in this directory for why each workload exists.
"""

from __future__ import annotations

import glob
import hashlib
import itertools
import json
import math
import os
import random
import resource
import shutil
import statistics
import time
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from nexlt_spark.analysis import tokenize
from nexlt_spark.flatten import flatten_transcripts
from nexlt_spark.index.blocks import load_blocked_index
from nexlt_spark.index.incremental import ingest_batch, live_blocked_index, live_documents
from nexlt_spark.index.packed import build_blocked_direct, save_blocked
from nexlt_spark.oracle import OracleIndex
from nexlt_spark.query import planner
from nexlt_spark.query.attrs import ATTRS_DIR, AttrFilter, save_doc_attrs
from nexlt_spark.query.model import Query, QueryFilters
from nexlt_spark.query.phrase_driver import phrase_topk
from nexlt_spark.synth import synth_transcripts

from spans import LayerTrace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

K = 10
SETUP_REPS = {"serve": 3, "ingest": 3}  # set-ups per run, median reported
COMMITS = 3  # a traced run makes 4: untraced, traced, traced, untraced
CORPUS_SEED = 7  # the serving corpus is fixed; --seed picks the queries
SERVE_VOCAB = 50000
ATTR_ROLES = ("user", "assistant")
MULTI_SHAPES = ("or3", "and2", "phrase2", "attr_or2")
INGEST_SHAPES = ("or3", "term")
SIZES = {
    # serve_convs: ~9k turns. ingest: whole conversations, cut into a
    # first batch of >= base_turns and commits of >= commit_turns turns
    # serve_pool: distinct serving queries, a quarter of each shape; the
    # first ``warm`` of them are part of every set-up
    "full": dict(serve_convs=1000, serve_pool=128, warm=32, base_turns=20, commit_turns=200),
    "tiny": dict(serve_convs=60, serve_pool=16, warm=8, base_turns=8, commit_turns=30),
}
# rank-identity tolerance of the engine's oracle tests
REL_TOL, ABS_TOL = 1e-12, 1e-15
# A traced run measures itself untraced and traced, in this order (tracing
# on?) so that drift cancels; the difference is the trace's overhead.
ABBA = (False, True, True, False)


# --------------------------------------------------------------- helpers
def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def nearest_rank(xs, p: float) -> float:
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[max(0, math.ceil(p * len(s)) - 1)]


def mean(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def doc_freqs(token_lists) -> Counter:
    dfs: Counter = Counter()
    for toks in token_lists:
        dfs.update(set(toks))
    return dfs


def term_sampler(dfs: Counter, rng: random.Random):
    """Distinct terms drawn by document frequency (Zipf head-heavy, as
    tools/bench_qps.py samples them)."""
    terms = sorted(dfs, key=lambda t: (-dfs[t], t))
    cum = list(itertools.accumulate(dfs[t] for t in terms))

    def pick(n: int) -> tuple:
        out: list = []
        while len(out) < n:
            t = rng.choices(terms, cum_weights=cum, k=1)[0]
            if t not in out:
                out.append(t)
        return tuple(out)

    return pick


def fingerprint(n_turns: int, docs: list, dfs: Counter, queries) -> dict:
    """What the run was given. Two runs are comparable only when equal."""
    h = hashlib.sha256()
    text_bytes = 0
    for d in docs:
        b = (d["text"] or "").encode()
        text_bytes += len(b)
        h.update(str(d["doc_id"]).encode() + b"\0" + b + b"\0")
    qh = hashlib.sha256(json.dumps(queries, sort_keys=True).encode())
    return {
        "turns": n_turns,
        "docs": len(docs),
        "text_bytes": text_bytes,
        "vocab": len(dfs),
        "docs_sha256": h.hexdigest()[:16],
        "queries_sha256": qh.hexdigest()[:16],
    }


class Oracle(OracleIndex):
    """The engine's pure-Python oracle, with its phrase scan restricted to
    documents that hold every phrase token: the same set of matches (a
    match needs them all), found without visiting every document."""

    def _phrase_ids(self, phrase, within, slop=0):
        for t in tokenize(phrase, self.analyzer):
            within = within & self.postings.get(t, {}).keys()
        return super()._phrase_ids(phrase, within, slop)


def oracle_query(q) -> Query:
    shape, terms = q
    if shape == "phrase2":
        return Query(phrase=" ".join(terms), k=K)
    if shape == "attr_or2":
        return Query(terms=list(terms), filters=QueryFilters(roles=list(ATTR_ROLES)), k=K)
    return Query(terms=list(terms), mode="and" if shape == "and2" else "or", k=K)


def answers_match(got, want) -> bool:
    if got is None or len(got) != len(want):
        return False
    return all(
        int(gd) == int(wd)
        and math.isclose(float(gs), float(ws), rel_tol=REL_TOL, abs_tol=ABS_TOL)
        for (gd, gs), (wd, ws) in zip(got, want)
    )


def answer(idx, q, stats: dict, lt: LayerTrace):
    """One query through the engine's public serving API."""
    shape, terms = q
    if shape == "phrase2":
        with lt.span("phrase_driver.topk"):
            return phrase_topk(idx, list(terms), k=K, as_rows=True, stats_out=stats)
    flt = AttrFilter(QueryFilters(roles=list(ATTR_ROLES))) if shape == "attr_or2" else None
    with lt.span("planner.topk_rows"):
        return planner.topk_rows(
            idx, list(terms), k=K, mode="and" if shape == "and2" else "or",
            doc_filter=flt, stats_out=stats,
        )


def serve_one(idx, q, lt: LayerTrace, req, snapshot=None) -> dict:
    """Run and time one query; an exception is recorded, not raised."""
    stats: dict = {}
    rec = {"q": q, "stats": stats, "traced": lt.on, "req": req, "snap": snapshot}
    if lt.on:
        gid = lt.jobs.begin()
        c0 = lt.py4j.count()
    t0 = time.perf_counter()
    try:
        with lt.span("query", req):
            rec["ans"] = answer(idx, q, stats, lt)
    except Exception as e:  # a failed query counts toward failed ops
        rec["ans"], rec["err"] = None, f"{type(e).__name__}: {e}"
    rec["lat"] = time.perf_counter() - t0
    if lt.on:
        rec["py4j"] = lt.py4j.count() - c0
        rec["jobs"] = lt.jobs.end(gid)
    return rec


def closed_loop(fn, items, seconds=None, start: int = 0):
    """One client that sends its next query only after its previous
    reply, in whole passes over ``items``: one pass without ``seconds``,
    else passes until the next would end past ``seconds`` (at least one).
    ``fn(n, item)`` gets a running number ``n`` from ``start``, unique
    across passes. Returns (passes, next number); a pass is a (records,
    wall seconds) pair."""
    deadline = time.perf_counter() + (seconds or 0)
    passes, n = [], start
    while True:
        t0 = time.perf_counter()
        recs = [fn(n + i, q) for i, q in enumerate(items)]
        n += len(items)
        passes.append((recs, time.perf_counter() - t0))
        if seconds is None or time.perf_counter() + passes[-1][1] > deadline:
            return passes, n


def pass_stats(passes) -> dict:
    """p50 and p95 over the pool of each query's median latency across
    the passes, and the median pass throughput. Every pass answers the
    same queries, seconds apart, so a pause or a slow spell of the host
    moves one pass, not these."""
    by_query: dict = {}
    for recs, _ in passes:
        for r in recs:
            by_query.setdefault(r["q"], []).append(r["lat"])
    typical = [median(v) for v in by_query.values()]
    return {
        "p50_ms": median(typical) * 1e3,
        "p95_ms": nearest_rank(typical, 0.95) * 1e3,
        "ops_per_s": median([len(recs) / wall for recs, wall in passes]),
    }


# ---------------------------------------------------------- serving store
def _source_key(size: str) -> str:
    h = hashlib.sha256(json.dumps([size, SIZES[size], CORPUS_SEED, SERVE_VOCAB]).encode())
    pkg = os.path.join(ROOT, "nexlt_spark")
    files = sorted(
        os.path.join(d, f) for d, _, fs in os.walk(pkg) for f in fs if f.endswith(".py")
    )
    for path in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build_serve_store(spark, size: str, dest: str, lt: LayerTrace) -> dict:
    """transcripts → flatten → packed build → save → doc_attrs sidecar,
    plus the documents the oracle needs. Returns build telemetry."""
    os.makedirs(dest)
    tr = synth_transcripts(
        spark, n_convs=SIZES[size]["serve_convs"], seed=CORPUS_SEED, vocab_size=SERVE_VOCAB
    ).persist()
    n_turns = tr.count()
    store = os.path.join(dest, "store")
    gid = lt.jobs.begin() if lt.on else None
    with lt.span("build", "build"):
        with lt.span("flatten"):
            docs = flatten_transcripts(tr).persist()
            docs.count()
        with lt.span("packed.build"):
            bidx = build_blocked_direct(docs, positions=True)
        with lt.span("packed.save"):
            save_blocked(bidx, store)
        with lt.span("attrs.save"):
            save_doc_attrs(docs, store)
    jobs = lt.jobs.end(gid) if gid is not None else 0
    pdf = docs.select("doc_id", "role", "text").toPandas().sort_values("doc_id")
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False), os.path.join(dest, "docs.parquet")
    )
    with open(os.path.join(dest, "meta.json"), "w") as fh:
        json.dump({"turns": n_turns}, fh)
    docs.unpersist()
    tr.unpersist()
    return {"spark.jobs_per_build": jobs}


def cached_store(size: str, cache: str) -> str:
    """Where untraced runs find the shared serving store: one per engine
    source tree under ``cache``."""
    return os.path.join(cache, f"serve-{size}-{_source_key(size)}")


def build_cached_store(spark, size: str, cache: str) -> None:
    """Build the shared serving store; run.py does this in a process of
    its own, so every measuring process starts alike."""
    dest = cached_store(size, cache)
    # stores of other engine sources are stale: drop them
    for old in glob.glob(os.path.join(cache, f"serve-{size}-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = f"{dest}.tmp-{os.getpid()}"
    build_serve_store(spark, size, tmp, LayerTrace(spark))
    os.rename(tmp, dest)


def serve_store(spark, size: str, work: str, cache: str, lt: LayerTrace):
    """(store dir, docs, turns, build telemetry). Untraced runs open the
    shared store (see cached_store); the traced run builds its own, so
    the build layers are traced."""
    if lt.on:
        dest = os.path.join(work, "serve")
        built = build_serve_store(spark, size, dest, lt)
    else:
        dest, built = cached_store(size, cache), {}
    docs = pq.read_table(os.path.join(dest, "docs.parquet")).to_pylist()
    with open(os.path.join(dest, "meta.json")) as fh:
        turns = json.load(fh)["turns"]
    return os.path.join(dest, "store"), docs, turns, built


def serve_stream(seed: int, tokens: list, dfs: Counter, n: int):
    """The seeded query pool: equal shares of MULTI_SHAPES in shuffled
    blocks of four. Phrases are adjacent tokens of sampled documents, so
    every phrase matches."""
    rng = random.Random(seed)
    pick = term_sampler(dfs, rng)
    long_docs = [i for i, t in enumerate(tokens) if len(t) >= 2]
    out = []
    while len(out) < n:
        block = list(MULTI_SHAPES)
        rng.shuffle(block)
        for shape in block:
            if shape == "phrase2":
                toks = tokens[rng.choice(long_docs)]
                i = rng.randrange(len(toks) - 1)
                out.append((shape, (toks[i], toks[i + 1])))
            else:
                out.append((shape, pick(3 if shape == "or3" else 2)))
    return out[:n]


def run_serve(spark, seed: int, seconds: float, traced: bool, size: str, work: str,
              cache: str) -> dict:
    lt = LayerTrace(spark)
    if traced:
        lt.activate()
    store, docs, turns, layers = serve_store(spark, size, work, cache, lt)
    tokens = [tokenize(d["text"]) for d in docs]
    dfs = doc_freqs(tokens)
    pool = serve_stream(seed, tokens, dfs, SIZES[size]["serve_pool"])
    del tokens

    # set-up: open the store, answer a fixed probe (OR of the three most
    # frequent terms) on its empty caches, then the pool's head
    warm = SIZES[size]["warm"]
    probe = ("or3", tuple(sorted(dfs, key=lambda t: (-dfs[t], t))[:3]))
    setups, firsts, loads, setup_recs, n = [], [], [], [], warm
    for r in range(SETUP_REPS["serve"]):
        t0 = time.perf_counter()
        with lt.span("blocks.load", f"load{r}"):
            sidx = load_blocked_index(spark, store)
        loads.append(time.perf_counter() - t0)
        first = serve_one(sidx, probe, lt, f"probe{r}")
        ((recs, _),), _ = closed_loop(
            lambda i, q, ix=sidx, r=r: serve_one(ix, q, lt, f"s{r}-{i}"), pool[:warm]
        )
        setups.append(time.perf_counter() - t0)
        firsts.append(first["lat"])
        setup_recs += [first] + recs

    # warm-up, untimed: the rest of the pool fills the last index's
    # driver caches, one more pass warms the JVM's JIT; then whole passes
    # over the pool until the deadline (a traced run in ABBA halves)
    for items in (pool[warm:], pool):
        ((recs, _),), n = closed_loop(
            lambda i, q: serve_one(sidx, q, lt, f"w{i}"), items, start=n
        )
        setup_recs += recs
    passes: dict = {False: [], True: []}
    for on in ABBA if traced else (False,):
        lt.switch(on)
        got, n = closed_loop(
            lambda i, q: serve_one(sidx, q, lt, f"q{i}"), pool,
            seconds / 2 if traced else seconds, start=n,
        )
        passes[on] += got
    lt.switch(False)
    rss = peak_rss_mb()

    oracle: list = []
    memo: dict = {}

    def expect(rec):
        if not oracle:
            oracle.append(Oracle(docs))
        if rec["q"] not in memo:
            memo[rec["q"]] = oracle[0].topk(oracle_query(rec["q"]))
        return memo[rec["q"]]

    fp = fingerprint(turns, docs, dfs, pool)
    plain = pass_stats(passes[False])
    layers["blocks.load_s"] = median(loads)
    layers["query.first_ms"] = median(firsts) * 1e3
    layers["trace.untraced_p50_ms"] = plain["p50_ms"]
    layers["trace.traced_p50_ms"] = pass_stats(passes[True])["p50_ms"] if traced else 0.0
    layers.update(_store_layers(store))
    return {
        "fingerprint": fp,
        # each timed pass: its wall time and latencies, in pool order
        "passes": [{"wall_s": wall, "lat_ms": [r["lat"] * 1e3 for r in recs]}
                   for recs, wall in passes[False]],
        "metrics": {
            "setup_s": median(setups),
            "op_p50_ms": plain["p50_ms"],
            "op_p95_ms": plain["p95_ms"],
            "ops_per_s": plain["ops_per_s"],
            "store_bytes_per_text_byte": dir_bytes(store) / fp["text_bytes"],
            "driver_rss_mb": rss,
        },
        "records": setup_recs + [r for on in (False, True) for recs, _ in passes[on]
                                 for r in recs],
        "expect": expect,
        "oracle_s": 0.0,
        "lt": lt,
        "layers": layers,
    }


def _store_layers(store: str) -> dict:
    return {
        "store.postings_bytes": dir_bytes(os.path.join(store, "postings_blocks")),
        "store.stats_bytes": sum(
            dir_bytes(os.path.join(store, d)) for d in ("term_stats", "doc_stats", "stats")
        ),
        "store.attrs_bytes": dir_bytes(os.path.join(store, ATTRS_DIR)),
    }


# ------------------------------------------------------------ live ingest
def run_ingest(spark, seed: int, seconds: float, traced: bool, size: str,
               work: str) -> dict:
    lt = LayerTrace(spark)
    # slice 0 is the store's first batch (set-up); a traced run commits 4
    want = [SIZES[size]["base_turns"]] + [SIZES[size]["commit_turns"]] * (COMMITS + 1)
    tr = synth_transcripts(spark, n_convs=sum(want) // 5, seed=seed).persist()
    rows = tr.select("conv_id", "text").collect()
    turns = Counter(r["conv_id"] for r in rows)
    convs, cut = iter(sorted(turns)), []
    for n in want:
        ids = []
        while sum(turns[c] for c in ids) < n:
            ids.append(next(convs))
        cut.append(ids)
    slices = [tr.where(F.col("conv_id").isin(ids)) for ids in cut]
    base_dfs = doc_freqs(tokenize(r["text"]) for r in rows if r["conv_id"] in cut[0])
    pick = term_sampler(base_dfs, random.Random(seed))
    queries = [(s, pick({"or3": 3, "term": 1}[s])) for s in INGEST_SHAPES]

    def cycle(path: str, i: int, req: str, prev=None):
        """commit slice i, reopen, answer the query set. Returns
        (commit s, reopen s, visible s, first query s, index, records);
        visible runs from the commit's start to the first answer."""
        gid = lt.jobs.begin() if lt.on else None
        t0 = time.perf_counter()
        with lt.span("commit_cycle", req):
            with lt.span("incremental.commit"):
                res = ingest_batch(slices[i], path, positions=True)
            t1 = time.perf_counter()
            commit_jobs = lt.jobs.end(gid) if gid is not None else 0
            with lt.span("incremental.reopen"):
                li = live_blocked_index(spark, path).persist()
            t2 = time.perf_counter()
        if prev is not None:
            _unpersist(prev)
        recs = []
        for j, q in enumerate(queries):
            recs.append(serve_one(li, q, lt, f"{req}-{j}", snapshot=res.max_doc_id))
            if j == 0:
                visible = time.perf_counter() - t0
        recs[0]["commit_jobs"] = commit_jobs
        return t1 - t0, t2 - t1, visible, recs[0]["lat"], li, recs

    # the live store as the searcher finds it: its first batch committed
    path = os.path.join(work, "live")
    first = ingest_batch(slices[0], path, positions=True).max_doc_id
    # set-up: open the live index and answer the first query
    setups, setup_recs = [], []
    for r in range(SETUP_REPS["ingest"]):
        t0 = time.perf_counter()
        li = live_blocked_index(spark, path).persist()
        setup_recs.append(serve_one(li, queries[0], lt, f"setup{r}", snapshot=first))
        setups.append(time.perf_counter() - t0)
        if r < SETUP_REPS["ingest"] - 1:
            _unpersist(li)

    # measurement: COMMITS cycles (traced ones in ABBA order), then the
    # query set on the final index until the deadline
    phases = ABBA if traced else (False,) * COMMITS
    cycles, meas = [], []
    t_start = time.perf_counter()
    for i, on in enumerate(phases, start=1):
        lt.switch(on)
        *times, li, recs = cycle(path, i, f"c{i}", prev=li)
        cycles.append(times)
        meas += recs
    lt.switch(False)
    snap = meas[-1]["snap"]
    while time.perf_counter() - t_start < seconds:
        meas += [serve_one(li, q, lt, "tail", snapshot=snap) for q in queries]
    rss = peak_rss_mb()
    _unpersist(li)

    t0 = time.perf_counter()
    live = live_documents(spark, path).select("doc_id", "role", "text").toPandas()
    docs = live.sort_values("doc_id").to_dict("records")
    tr.unpersist()
    n_turns = sum(turns[c] for ids in cut for c in ids)
    fp = fingerprint(n_turns, docs, doc_freqs(tokenize(d["text"]) for d in docs), queries)
    oracles: dict = {}

    def expect(rec):
        snap = rec["snap"]
        if snap not in oracles:
            oracles[snap] = (Oracle([d for d in docs if d["doc_id"] <= snap]), {})
        oracle, memo = oracles[snap]
        if rec["q"] not in memo:
            memo[rec["q"]] = oracle.topk(oracle_query(rec["q"]))
        return memo[rec["q"]]

    oracle_s = time.perf_counter() - t0
    plain = [c for c, on in zip(cycles, phases) if not on]
    traced_c = [c for c, on in zip(cycles, phases) if on]
    visible = [c[2] for c in plain]
    return {
        "fingerprint": fp,
        "metrics": {
            "setup_s": median(setups),
            "op_p50_ms": median(visible) * 1e3,
            "op_p95_ms": nearest_rank(visible, 0.95) * 1e3,
            "ops_per_s": len(visible) / sum(visible),
            "store_bytes_per_text_byte": dir_bytes(path) / fp["text_bytes"],
            "driver_rss_mb": rss,
        },
        "records": setup_recs + meas,
        "expect": expect,
        "oracle_s": oracle_s,
        "lt": lt,
        "layers": {
            "incremental.commit_s": median([c[0] for c in traced_c]),
            "incremental.reopen_s": median([c[1] for c in traced_c]),
            "query.first_ms": median([c[3] for c in traced_c]) * 1e3,
            "trace.untraced_p50_ms": median(visible) * 1e3,
            "trace.traced_p50_ms": median([c[2] for c in traced_c]) * 1e3,
            "live.query_ms": median([r["lat"] for r in meas if r["traced"]]) * 1e3,
        },
    }


def _unpersist(bidx) -> None:
    bidx.blocks.unpersist()
    bidx.term_stats.unpersist()


# ----------------------------------------------------------- oracle gate
def gate(res: dict, perturb: int = 0) -> list:
    """Compare every answer with the oracle, after all timing. Returns
    the failures (exceptions and wrong answers). ``perturb`` swaps the
    top-2 doc ids of the first ``perturb`` multi-row answers first: the
    gate's negative check."""
    t0 = time.perf_counter()
    failures = []
    for rec in res["records"]:
        ans = rec.get("ans")
        if perturb and ans is not None and len(ans) >= 2:
            (d1, s1), (d2, s2) = ans[0], ans[1]
            ans = [(d2, s1), (d1, s2)] + list(ans[2:])
            perturb -= 1
        if "err" in rec:
            failures.append({"q": rec["q"], "error": rec["err"]})
            continue
        want = res["expect"](rec)
        if not answers_match(ans, want):
            failures.append({"q": rec["q"], "got": ans, "want": want})
    res["oracle_s"] += time.perf_counter() - t0
    return failures


# ------------------------------------------------------ per-layer metrics
def layer_metrics(res: dict) -> dict:
    """Per-layer numbers from the traced records, their spans and the
    engine's stats_out. A layer the workload never calls reads 0."""
    spans = res["lt"].tracer.by_request()
    traced = [r for r in res["records"] if r["traced"]]
    durs: dict = {}
    for sp in spans.values():
        for name, vals in sp.items():
            durs.setdefault(name, []).extend(vals)
    exact, client = [], []
    for r in traced:
        sp = spans.get(r["req"], {})

        def tot(name, sp=sp):
            return sum(sp.get(name, ()))

        # layer time: planner + phrase driver + (exact remainder | WAND)
        layer = tot("planner.choose") + tot("phrase_driver.topk")
        if r["stats"].get("path") == "exact":
            exact.append(tot("planner.topk_rows") - tot("planner.choose"))
            layer += exact[-1]
        else:
            layer += tot("wand.topk") + tot("wand.attr_topk")
        client.append(tot("query") - layer)
    stats = [r["stats"] for r in traced]
    routed = [s for s in stats if "path" in s]
    wand = [s for s in routed if s["path"] == "wand"]
    kept = [s for s in stats if "blocks_kept" in s]
    phrase = [r["stats"] for r in traced if r["q"][0] == "phrase2"]

    def ms(name):
        return median(durs.get(name, [])) * 1e3

    def frac(part, whole):
        return len(part) / len(whole) if whole else 0.0

    m = dict.fromkeys(
        ("spark.jobs_per_build", "blocks.load_s", "store.postings_bytes", "store.stats_bytes",
         "store.attrs_bytes", "incremental.commit_s", "incremental.reopen_s", "live.query_ms"),
        0.0,
    )
    m.update({
        "planner.choose_ms": ms("planner.choose"),
        "planner.route_wand_frac": frac(wand, routed),
        "wand.topk_ms": ms("wand.topk"),
        "wand.attr_topk_ms": ms("wand.attr_topk"),
        "wand.blocks_kept_frac": (
            sum(s["blocks_kept"] for s in kept) / max(1, sum(s["blocks_total"] for s in kept))
        ),
        "wand.fallback_frac": frac([s for s in wand if s.get("fallback")], wand),
        "wand.n_candidates": mean([s["n_candidates"] for s in wand if "n_candidates" in s]),
        "phrase_driver.topk_ms": ms("phrase_driver.topk"),
        "phrase_driver.plan_driver_frac": frac(
            [s for s in phrase if s.get("plan") == "driver"], phrase
        ),
        "exact.route_ms": median(exact) * 1e3,
        "spark.jobs_per_query": mean([r["jobs"] for r in traced]),
        "py4j.calls_per_query": mean([r["py4j"] for r in traced]),
        "client.self_ms": median(client) * 1e3,
        "spark.jobs_per_commit": mean([r["commit_jobs"] for r in traced if "commit_jobs" in r]),
        "flatten.s": median(durs.get("flatten", [])),
        "packed.build_s": median(durs.get("packed.build", [])),
        "packed.save_s": median(durs.get("packed.save", [])),
        "attrs.save_s": median(durs.get("attrs.save", [])),
        "bench.oracle_s": res["oracle_s"],
    })
    m.update(res["layers"])
    base = m["trace.untraced_p50_ms"]
    m["trace.overhead_pct"] = 100.0 * (m["trace.traced_p50_ms"] / base - 1.0) if base else 0.0
    return m
