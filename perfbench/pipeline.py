"""The index_pipeline workload: the operators' write path and batch jobs on
Spark, then the written store served once over HTTP.

Steps, each in its own Spark job group (sparkacct.Accounting):
  build        resumable build of the base corpus with the positional sidecar
  add_docs     delta build (new + updated docs) + merge_many into a new store
  delete       tombstones for the deleted keys (admin.py delete-docs)
  links        extract_links over the live docs
  pagerank     5 iterations
  dedup        MinHash-LSH candidate pairs
  dist_term    load_searcher(...).search_terms stream
  dist_phrase  phrase_search_written stream
Set-up is the Spark session plus the base build. Then the merged store is
served (perfbench/server.py) and a closed-loop stream of term and phrase
queries, one at a time, gives cpu_ms_per_query and rss_peak_mb (client
latencies are per-layer figures); it also checks serving against the
distributed rankings and the add/delete results.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pyarrow.dataset as pds

import gen
from common import T0, WORK, cores, dir_bytes, log, pct
from serving import admission_layers, closed_loop_run, serve_layers, url_of

N_DOCS = 5_000
VOCAB = 30_000
MEAN_LEN = 120
DUP_CLUSTERS = 50
N_NEW, N_UPD, N_DEL = 250, 100, 50
ITERATIONS = 5
N_DIST_TERM = 3       # plus one query over the deleted docs' terms
N_DIST_PHRASE = 1     # plus one phrase of a deleted doc
N_SERVE = 400         # closed-loop serving queries over the written store
RECALL_MIN = 0.9
TOPK_PR = 20
STORE_SUBDIRS = ("docs", "segments", "postings", "tstats")
STEPS = 7  # session, build, add_docs, delete, links, pagerank, dedup
PHASES = ("session", "build", "add_docs", "links", "pagerank", "dedup",
          "dist_term", "dist_phrase")


class Checks:
    """Counts correctness checks; each failure counts against `attempted`."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def __call__(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"check failed: {what}")


def _docs_table(store: str):
    return pds.dataset(os.path.join(store, "docs"), partitioning="hive").to_table(
        columns=["doc_id", "repo", "path", "content"])


def _content_tokens(corpus: gen.Corpus, r: int) -> np.ndarray:
    return np.concatenate([corpus.title[r], corpus.body[r]])


def _adjacent(tokens: np.ndarray, a: int, b: int) -> bool:
    return bool(np.any((tokens[:-1] == a) & (tokens[1:] == b)))


def pagerank_numpy(n_ids: np.ndarray, edges: list[tuple[int, int]], iters: int) -> dict:
    """Power iteration with operators.pagerank's update rule."""
    n = len(n_ids)
    pos = {int(d): i for i, d in enumerate(n_ids)}
    src = np.array([pos[s] for s, _ in edges], dtype=np.int64)
    dst = np.array([pos[t] for _, t in edges], dtype=np.int64)
    out_deg = np.bincount(src, minlength=n).astype(np.float64)
    rank = np.full(n, 1.0 / n)
    d = 0.85
    for _ in range(iters):
        contrib = np.bincount(dst, weights=rank[src] / out_deg[src], minlength=n)
        dangling = rank[out_deg == 0].sum()
        rank = (1.0 - d) / n + d * (contrib + dangling / n)
    return {int(i): float(r) for i, r in zip(n_ids, rank)}


def run(seed: int, seconds: float, traced: bool) -> dict:
    from sparkacct import Accounting, start_spark, stop_spark
    from ucuddle_search_engine_spark.operators.dedup import lsh_candidate_pairs
    from ucuddle_search_engine_spark.operators.pagerank import extract_links, pagerank
    from ucuddle_search_engine_spark.plans.build_index import (
        build_index_resumable,
        load_analyzer,
        load_searcher,
        phrase_search_written,
    )
    from ucuddle_search_engine_spark.plans.merge import merge_many

    for old in WORK.glob("pipeline-*"):  # left by an interrupted run
        shutil.rmtree(old, ignore_errors=True)
    work = WORK / f"pipeline-{os.getpid()}"
    work.mkdir(parents=True)
    try:
        inp = gen.make_inputs(seed, N_DOCS, VOCAB, MEAN_LEN, DUP_CLUSTERS, N_NEW, N_UPD, N_DEL)
        base_pq, delta_pq = str(work / "base.parquet"), str(work / "delta.parquet")
        base_bytes = gen.write_corpus(inp["base"], seed, base_pq)
        gen.write_corpus(inp["delta"], seed, delta_pq)
        base, delta, merged = (str(work / d) for d in ("base", "delta", "merged"))
        queries = _dist_queries(seed, inp)
        chk = Checks()
        log(f"inputs written: {time.perf_counter() - T0:.2f}s after start")

        t0 = time.perf_counter()
        spark = start_spark(str(work), cores(), traced)
        try:
            session_s = time.perf_counter() - t0
            acct = Accounting(spark, traced)
            acct.wall["session"] = session_s
            with acct.phase("build"):
                build_index_resumable(spark, spark.read.parquet(base_pq), base,
                                      n_units=1, write_postings=True)
            setup_s = time.perf_counter() - t0
            with acct.phase("add_docs"):
                build_index_resumable(spark, spark.read.parquet(delta_pq), delta, n_units=1,
                                      analyzer=load_analyzer(base), write_postings=True)
                merge_many(spark, [base, delta], merged)
            ids = _ids_by_key(merged)
            dead = sorted(ids[k] for k in inp["deleted"])
            with acct.phase("delete"):
                spark.createDataFrame([(i,) for i in dead], "doc_id long").coalesce(1) \
                    .write.mode("append").parquet(os.path.join(merged, "tombstones"))
            docs = spark.read.parquet(os.path.join(merged, "docs")).join(
                spark.read.parquet(os.path.join(merged, "tombstones")), "doc_id", "left_anti")
            with acct.phase("links"):
                edges = extract_links(docs).persist()
                edges.count()
            with acct.phase("pagerank"):
                ranks = pagerank(edges, docs.select("doc_id"), iterations=ITERATIONS).collect()
            with acct.phase("dedup"):
                pairs = lsh_candidate_pairs(docs, text_col="content").collect()
            dist_term, dist_phrase = [], []
            with acct.phase("dist_term"):
                searcher = load_searcher(spark, merged)
                for terms, mode in queries["term"]:
                    t = time.perf_counter()
                    rows = searcher.search_terms(terms, k=10, mode=mode).collect()
                    dist_term.append((time.perf_counter() - t,
                                      [(r["doc_id"], round(r["score"], 6)) for r in rows]))
            with acct.phase("dist_phrase"):
                for a, b in queries["phrase"] + [queries["dead_phrase"]]:
                    t = time.perf_counter()
                    rows = phrase_search_written(spark, merged, [a, b], k=10).collect()
                    dist_phrase.append((time.perf_counter() - t,
                                        [(r["doc_id"], round(r["score"], 6)) for r in rows]))
            spark_layers = _spark_layers(acct, base, base_bytes, len(dist_term)) if traced else {}
        finally:
            t = time.perf_counter()
            stop_spark(spark)
            log(f"spark stopped in {time.perf_counter() - t:.2f}s")

        _check_writes(chk, inp, merged, ids, dead)
        _check_pagerank(chk, inp, ids, dead, ranks)
        _check_dedup(chk, inp, ids, pairs)
        # phrase_search_written applies no tombstones: the deleted doc's
        # phrase is left out of the checks and counted as deleted_hits
        dist_live = dist_term + dist_phrase[:-1]
        deleted_hits = len({d for d, _ in dist_phrase[-1][1]} & set(dead))
        chk(not {d for _, rows in dist_live for d, _ in rows} & set(dead),
            "distributed search returned a deleted doc")

        serve_q = _serve_queries(seed, inp, queries)
        picks = [(rid, p) for rid, (_, p) in enumerate(serve_q)]
        t = time.perf_counter()
        cl = closed_loop_run(merged, [], picks)
        lat, ref = cl["lat"], cl["ref"]
        log(f"serving pass: {time.perf_counter() - t:.2f}s")
        _check_serving(chk, serve_q, dist_live, ref, dead)
        out = {
            "attempted": STEPS + len(dist_term) + len(dist_phrase) + len(serve_q)
            + chk.attempted,
            "failed": chk.failed + cl["failed"],
        }
        if not traced:
            out["correct"] = out["failed"] == 0
            out["e2e"] = {"setup_s": setup_s, "cpu_ms_per_query": cl["cpu_ms_per_query"],
                          "rss_peak_mb": cl["hwm_mb"]}
            return out
        spans_path = str(work / "spans.json")
        tcl = closed_loop_run(merged, [], picks, spans=spans_path)
        tlat = tcl["lat"]
        out["failed"] += tcl["failed"] + sum(tcl["ref"].get(u, ref[u]) != ref[u] for u in ref)
        out["correct"] = out["failed"] == 0
        layers = dict(spark_layers)
        layers.update({
            "dist_term_p50_ms": pct([t for t, _ in dist_term], 50) * 1e3,
            "dist_phrase_p50_ms": pct([t for t, _ in dist_phrase], 50) * 1e3,
            "dist_phrase.deleted_hits": deleted_hits,
            "traced.setup_s": setup_s,
            "client.p50_ms": pct(lat.values(), 50),
            "client.p95_ms": pct(lat.values(), 95),
            "traced.rss_peak_mb": tcl["hwm_mb"],
            "traced.cpu_ms_per_query": tcl["cpu_ms_per_query"],
            "trace.overhead_p50_ms": pct(tlat.values(), 50) - pct(lat.values(), 50),
            "trace.overhead_p95_ms": pct(tlat.values(), 95) - pct(lat.values(), 95),
            "serve.fail_ratio": out["failed"] / out["attempted"],
            "serve.unloaded_samples": len(lat),
        })
        with open(spans_path) as f:
            spans = json.load(f)
        layers.update(serve_layers({rid: cls for rid, (cls, _) in enumerate(serve_q)},
                                   tlat, spans))
        layers.update(admission_layers(spans))
        out["layers"] = layers
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _ids_by_key(store: str) -> dict:
    t = _docs_table(store)
    return {(r, p): int(d) for d, r, p in zip(t["doc_id"].to_pylist(), t["repo"].to_pylist(),
                                               t["path"].to_pylist())}


def _dist_queries(seed: int, inp) -> dict:
    """Distributed query streams, drawn from live, not-updated base docs.
    The last term query targets the deleted docs' terms. The live phrases
    occur in no deleted doc, since phrase_search_written applies no
    tombstones and would return it; `dead_phrase`, a deleted doc's rarest
    adjacent pair, shows that bug as a count."""
    rng = np.random.default_rng([seed, 7])
    base = inp["base"]
    touched = set(inp["updated"]) | set(inp["deleted"])
    rows = [r for r, i in enumerate(base.idx) if gen.doc_key(i) not in touched]
    dead_rows = [r for r, i in enumerate(base.idx) if gen.doc_key(i) in set(inp["deleted"])]
    term = []
    for cls in ("or_mid", "and", "or_head", "tail1")[:N_DIST_TERM]:
        p = gen.term_query(rng, base, cls)
        term.append((p["q"].split(), p.get("mode", "or")))
    # each deleted doc's rarest body term: without its tombstone the doc
    # would rank at the top
    term.append((sorted({base.vocab[base.body[r].max()] for r in dead_rows[:3]}), "or"))
    phrase = []
    vix = {w: i for i, w in enumerate(base.vocab)}
    while len(phrase) < N_DIST_PHRASE:
        a, b = gen.phrase_pair(rng, base, rows)
        if not any(_adjacent(_content_tokens(base, r), vix[a], vix[b]) for r in dead_rows):
            phrase.append((a, b))
    body = base.body[dead_rows[0]]
    p = int(np.argmax(np.minimum(body[:-1], body[1:])))
    return {"term": term, "phrase": phrase,
            "dead_phrase": (base.vocab[body[p]], base.vocab[body[p + 1]])}


def _serve_queries(seed, inp, queries) -> list[tuple[str, dict]]:
    """(class, params) of the serving pass: the distributed queries first,
    in order (for the parity check; the deleted doc's phrase last), then a
    term-class stream."""
    qs = [("and" if m == "and" else "or_mid", {"q": " ".join(t), "mode": m})
          for t, m in queries["term"]]
    qs += [("phrase", {"q": f'"{a} {b}"'})
           for a, b in queries["phrase"] + [queries["dead_phrase"]]]
    rng = np.random.default_rng([seed, 3])
    return qs + gen.query_stream(rng, inp["base"], gen.TERM_CLASSES, N_SERVE - len(qs))


def _check_writes(chk, inp, merged, ids, dead) -> None:
    t = _docs_table(merged)
    content = dict(zip(zip(t["repo"].to_pylist(), t["path"].to_pylist()),
                       t["content"].to_pylist()))
    delta = inp["delta"]
    want = {gen.doc_key(i): delta.content(r) for r, i in enumerate(delta.idx)}
    chk(all(content.get(k) == want[k] for k in inp["updated"]),
        "updated docs do not carry the new content")
    chk(len(ids) == N_DOCS + N_NEW, f"merged store holds {len(ids)} docs")
    ts = pds.dataset(os.path.join(merged, "tombstones")).to_table()["doc_id"].to_pylist()
    chk(sorted(ts) == dead and len(ids) - len(set(ts)) == N_DOCS + N_NEW - N_DEL,
        "live doc count after delete-docs")


def _live_refs(inp, dead_keys) -> dict:
    """Current out-links per live doc index (updated and new docs have none)."""
    base, delta = inp["base"], inp["delta"]
    refs = {i: r for i, r in zip(base.idx, base.refs)}
    for i in delta.idx:
        refs[i] = []
    return {i: r for i, r in refs.items() if gen.doc_key(i) not in dead_keys}


def _check_pagerank(chk, inp, ids, dead, ranks) -> None:
    got = {r["doc_id"]: r["pagerank"] for r in ranks}
    chk(abs(sum(got.values()) - 1.0) <= 1e-9, "pagerank does not sum to 1")
    refs = _live_refs(inp, set(inp["deleted"]))
    live = {i: ids[gen.doc_key(i)] for i in refs}
    edges = sorted({(live[s], live[t]) for s, ts in refs.items() for t in ts
                    if t in live and t != s})
    want = pagerank_numpy(np.array(sorted(live.values())), edges, ITERATIONS)
    top = lambda d: sorted(d, key=lambda k: (-round(d[k], 12), k))[:TOPK_PR]  # noqa: E731
    chk(set(got) == set(want) and top(got) == top(want)
        and max(abs(got[k] - want[k]) for k in want) <= 1e-9,
        "pagerank top-k differs from the numpy power iteration")


def _check_dedup(chk, inp, ids, pairs) -> None:
    found = {(r["doc_a"], r["doc_b"]) for r in pairs}
    planted = set()
    for c in inp["clusters"]:
        d = sorted(ids[gen.doc_key(i)] for i in c)
        planted |= {(d[0], d[1]), (d[0], d[2]), (d[1], d[2])}
    recall = len(planted & found) / len(planted)
    chk(recall >= RECALL_MIN, f"dedup recall {recall:.3f} of planted pairs")


def _check_serving(chk, serve_q, dist, ref, dead) -> None:
    """Serving rankings equal the distributed ones (the serving pass sends
    the distributed queries first, in order); no deleted id is served, not
    even for the deleted doc's phrase."""
    for (_, p), (_, rows) in zip(serve_q, dist):
        body = ref.get(url_of(p))
        served = [(h["doc_id"], h["score"]) for h in json.loads(body)] if body else None
        chk(served == rows, f"serving vs distributed ranking for {p['q']!r}")
    chk(not {h["doc_id"] for b in ref.values() for h in json.loads(b)} & set(dead),
        "serving returned a deleted doc")


def _spark_layers(acct, base: str, base_bytes: int, n_queries: int) -> dict:
    out = {"spark.session.wall_s": acct.wall["session"]}
    for ph in PHASES[1:]:
        for k, v in acct.summary(ph).items():
            out[f"spark.{ph}.{k}"] = v
    for sub in STORE_SUBDIRS:
        out[f"spark.build.write_s.{sub}"] = acct.write_s.get(f"build.{sub}", 0.0)
        out[f"store.bytes.{sub}"] = dir_bytes(os.path.join(base, sub))
    out.update({
        "spark.pagerank.jobs_per_iter": out["spark.pagerank.jobs"] / ITERATIONS,
        "spark.dist_term.jobs_per_query": out["spark.dist_term.jobs"] / n_queries,
        "build_docs_per_s": N_DOCS / acct.wall["build"],
        "add_docs_s": acct.wall["add_docs"],
        "pagerank_s": acct.wall["links"] + acct.wall["pagerank"],
        "dedup_s": acct.wall["dedup"],
        "store_bytes_per_input_byte": dir_bytes(base) / base_bytes,
    })
    return out


