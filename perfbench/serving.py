"""The serve workload: open-loop HTTP load on scripts/serve.py
(perfbench/server.py in a child process) over a store the engine built with
Spark.

The serving corpus is fixed (CORPUS_SEED), so its store is a build artifact:
it is built once per checkout under .bench_work/, keyed by the source hash
of the package, scripts/serve.py and perfbench/gen.py plus the corpus
parameters. `--seed` draws the query streams and the arrival schedules.

An untraced run starts the server three times; set-up is the median
start (spawn until /health answers).
1. Closed loop, one client: UNLOADED queries, the ladder's own first (see
   `closed_loop_set`), sent one at a time. cpu_ms_per_query is the server's
   CPU time over them, rss_peak_mb its VmHWM afterwards, and their
   responses are the unloaded reference. It first gets untimed warm-up
   queries (see `warmup`). Their client latencies are only per-layer
   figures (client.p50_ms / client.p95_ms): they track the CPU time the
   hypervisor steals more than the program.
2. Open loop: the rate ladder, on a fresh server. Every response must equal
   the unloaded one for the same query.
3. A start that is only timed.
A traced run repeats 1 and 2 on traced servers instead of 2 and 3: the
closed loop gives the per-class layer times and the tracing overhead, the
ladder gives admission, process and load-generator figures.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from collections import defaultdict
from urllib.parse import urlencode

import numpy as np

import gen
from common import BENCH, ROOT, WORK, ProcStats, cores, log, pct, source_hash
from loadgen import LoadGen, Shot

CORPUS_SEED = 20261016
N_DOCS = 12_000
VOCAB = 60_000
MEAN_LEN = 200
DUP_CLUSTERS = 60
N_UNITS = 4

# open-loop ladder: rates in requests/s, each rung an equal share of the
# run; the SLO is p95 <= LIMIT_MS with no growing backlog
RATES = [5, 10, 20, 30]
LIMIT_MS = 500.0
UNLOADED = 216  # closed-loop queries, 24 per class, the ladder's own first
MAX_LAG_MS = 20.0


def corpus():
    return gen.make_inputs(CORPUS_SEED, N_DOCS, VOCAB, MEAN_LEN, DUP_CLUSTERS, 0, 0, 0)


def serving_store(inputs) -> str:
    """The cached serving store, built by the engine on first use."""
    params = f"{CORPUS_SEED}-{N_DOCS}-{VOCAB}-{MEAN_LEN}-{DUP_CLUSTERS}-{N_UNITS}"
    key = source_hash(BENCH / "gen.py", params)
    store = WORK / f"serve-store-{key}"
    if (store / "cstats.json").exists():
        return str(store)
    from sparkacct import start_spark, stop_spark
    from ucuddle_search_engine_spark.plans.build_index import build_index_resumable

    tmp = WORK / f"serve-build-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    t0 = time.perf_counter()
    src = str(tmp / "corpus.parquet")
    gen.write_corpus(inputs["base"], CORPUS_SEED, src)
    spark = start_spark(str(tmp), cores(), traced=False)
    try:
        build_index_resumable(spark, spark.read.parquet(src), str(tmp / "store"),
                              n_units=N_UNITS, write_postings=True)
    finally:
        stop_spark(spark)
    for old in WORK.glob("serve-store-*"):  # artifacts of other sources
        shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp / "store", store)
    shutil.rmtree(tmp, ignore_errors=True)
    log(f"built serving store {store.name} in {time.perf_counter() - t0:.1f}s")
    return str(store)


class Server:
    """One serving child process; `start_s` is spawn → first /health reply
    (the store is open and SearchApp.warm() has returned)."""

    def __init__(self, store: str, spans: str | None = None):
        env = dict(os.environ, PYTHONPATH=str(ROOT), TMPDIR=str(WORK / "tmp"))
        cmd = [sys.executable, str(BENCH / "server.py"), "--index", store]
        if spans:
            cmd += ["--spans", spans]
        self.errlog = open(WORK / "server.log", "ab")
        t0 = time.perf_counter()
        self.proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=self.errlog,
                                     env=env, cwd=str(ROOT))
        line = self.proc.stdout.readline().decode()
        if not line.startswith("PORT "):
            self.stop()
            raise RuntimeError(f"server failed to start (see {WORK / 'server.log'})")
        self.port = int(line.split()[1])
        self.client = LoadGen(self.port, 1)
        status, _ = self.client.get("/health")
        if status != 200:
            self.stop()
            raise RuntimeError(f"/health returned {status}")
        self.start_s = time.perf_counter() - t0
        self.stats = ProcStats(self.proc.pid)

    def warm(self, urls: list[str]) -> None:
        for url in urls:
            self.client.get(url)

    def stop(self) -> None:
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGTERM)
            try:
                self.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.proc.stdout.close()
        self.errlog.close()


def url_of(params: dict, rid: int | None = None) -> str:
    p = {"k": "10", **params}
    if rid is not None:
        p["rid"] = str(rid)
    return "/search?" + urlencode(p)


def schedule(rng, base, seconds: float):
    """(shot, class, params) for the whole ladder, due times ascending, and
    the (class, params) that fill the closed-loop pass up to UNLOADED."""
    d = seconds / len(RATES)
    times, rungs = [], []
    for i, r in enumerate(RATES):
        t = gen.arrivals(rng, r, d) + i * d
        times.append(t)
        rungs += [i] * len(t)
    due = np.concatenate(times)
    stream = gen.query_stream(rng, base, gen.ALL_CLASSES, len(due) + 2 * UNLOADED)
    plan = [(Shot(float(t), rung, url_of(p, rid)), cls, p)
            for rid, (t, rung, (cls, p)) in enumerate(zip(due, rungs, stream))]
    return plan, stream[len(due):]


def warmup(rng, base) -> list[str]:
    """Untimed preamble of the closed-loop server: one fuzzy query per first
    letter the fuzzy class uses (builds each prefix bucket once, a
    per-process cost) and two queries of every other class."""
    words = base.vocab[gen.MID[0]:]
    urls = []
    for c in gen.FUZZY_FIRST:
        w = next(x for x in words if x[0] == c)
        urls.append(url_of({"q": gen.one_edit(rng, w), "fuzzy": "1", "prefix": "1"}))
    rest = [c for c in gen.ALL_CLASSES if c not in ("fuzzy", "repeat")]
    urls += [url_of(p) for _, p in gen.query_stream(rng, base, rest, 2 * len(rest))]
    return urls


def closed_loop_set(plan, extra) -> tuple[list, dict]:
    """The closed-loop pass: UNLOADED queries, an equal count per class, the
    ladder's own queries first, so its p95 never depends on how many
    slow-class queries a seed happened to draw. A `repeat` is taken only
    once the query it repeats is in the pass, so each one is a result-cache
    hit: the pass and the warm-up stay below SearchApp.RESULT_CACHE_CAP
    (256). Returns ([(rid, params)], {rid: class})."""
    quota = dict.fromkeys(gen.ALL_CLASSES, UNLOADED // len(gen.ALL_CLASSES))
    cands = [(rid, cls, p) for rid, (_, cls, p) in enumerate(plan)]
    cands += [(len(plan) + j, cls, p) for j, (cls, p) in enumerate(extra)]
    seen, picks, cls_of = set(), [], {}
    for rid, cls, p in cands:
        if not quota[cls] or (url_of(p) in seen) != (cls == "repeat"):
            continue
        seen.add(url_of(p))
        quota[cls] -= 1
        picks.append((rid, p))
        cls_of[rid] = cls
    cls_of.update((rid, cls) for rid, (_, cls, _) in enumerate(plan) if rid not in cls_of)
    return picks, cls_of


def closed_loop(server: Server, picks) -> tuple[dict, dict, int]:
    """Send `picks` [(rid, params)] one at a time: ({rid: latency ms, inf on
    an HTTP error}, {url: first successful response body}, failed requests:
    HTTP errors and repeats answered unlike the first time)."""
    lat, ref, failed = {}, {}, 0
    for rid, p in picks:
        t = time.perf_counter()
        status, body = server.client.get(url_of(p, rid))
        lat[rid] = (time.perf_counter() - t) * 1e3 if status == 200 else float("inf")
        if status != 200 or ref.setdefault(url_of(p), body) != body:
            failed += 1
    return lat, ref, failed


def ladder(server: Server, plan) -> dict:
    """Run the ladder; sample the server's threads while it runs."""
    shots = [s for s, _, _ in plan]
    for s in shots:
        s.status, s.body, s.done = 0, b"", 0.0
    threads_max = 0
    stop = threading.Event()

    def sample():
        nonlocal threads_max
        while not stop.wait(0.05):
            threads_max = max(threads_max, server.stats.status()["Threads"])

    cpu0 = server.stats.cpu_s()
    sampler = threading.Thread(target=sample, daemon=True)
    sampler.start()
    LoadGen(server.port, cores()).run(shots)
    stop.set()
    sampler.join()
    st = server.stats.status()
    return {"shots": shots, "cpu_s": server.stats.cpu_s() - cpu0,
            "threads_max": max(threads_max, st["Threads"]), "hwm_mb": st["VmHWM"] / 1024}


def rung_stats(shots: list[Shot]) -> dict:
    """Per-rung p95 and the SLO rate: the highest rung, climbing from the
    lowest, whose p95 (a failed request misses any limit) stays within
    LIMIT_MS with no growing backlog."""
    by = defaultdict(list)
    for s in shots:
        by[s.rung].append(s)
    slo, climbing, out = 0.0, True, {}
    for i, r in enumerate(RATES):
        ss = by[i]
        p95 = pct([s.latency * 1e3 if s.status == 200 else float("inf") for s in ss], 95)
        out[f"serve.ladder_p95_ms.r{r}"] = p95
        tail = ss[len(ss) * 3 // 4:]
        growing = max((s.backlog for s in tail), default=0) > cores()
        climbing = climbing and bool(ss) and p95 <= LIMIT_MS and not growing
        if climbing:
            slo = float(r)
    out.update({
        "serve.slo_qps": slo,
        "loadgen.lag_p95_ms": pct([s.lag * 1e3 for s in shots], 95),
        "loadgen.backlog_max": max(s.backlog for s in shots),
    })
    return out


def check(plan, ref: dict[str, bytes]) -> int:
    """Failed ladder requests: an HTTP error, or a response that differs
    from the unloaded one for the same query."""
    failed = 0
    for s, _, p in plan:
        want = ref.get(url_of(p))
        if s.status != 200 or (want is not None and s.body != want):
            failed += 1
    return failed


def closed_loop_run(store: str, warm: list[str], picks, spans: str | None = None) -> dict:
    """A fresh server: warm-up, then the closed loop over `picks`: latencies,
    responses and failures (see closed_loop), server CPU ms per query, VmHWM
    and the start time."""
    srv = Server(store, spans=spans)
    try:
        srv.warm(warm)
        cpu0 = srv.stats.cpu_s()
        lat, ref, failed = closed_loop(srv, picks)
        return {"lat": lat, "ref": ref, "failed": failed,
                "cpu_ms_per_query": (srv.stats.cpu_s() - cpu0) * 1e3 / len(picks),
                "hwm_mb": srv.stats.status()["VmHWM"] / 1024, "start_s": srv.start_s}
    finally:
        srv.stop()


def _ladder_run(store: str, plan, spans: str | None = None):
    srv = Server(store, spans=spans)
    try:
        return ladder(srv, plan), srv.start_s
    finally:
        srv.stop()


def _spans(path: str) -> dict:
    with open(path) as f:
        doc = json.load(f)
    os.remove(path)
    return doc


def run(seed: int, seconds: float, traced: bool) -> dict:
    inputs = corpus()
    store = serving_store(inputs)
    rng = np.random.default_rng([seed, 1])
    plan, extra = schedule(rng, inputs["base"], seconds)
    warm = warmup(np.random.default_rng([seed, 2]), inputs["base"])
    picks, cls_of = closed_loop_set(plan, extra)

    cl = closed_loop_run(store, warm, picks)
    lat, ref = cl["lat"], cl["ref"]
    starts = [cl["start_s"]]
    failed_ref = cl["failed"]
    out = {"attempted": len(picks)}
    if not traced:
        res, start_s = _ladder_run(store, plan)
        starts.append(start_s)
        srv = Server(store)
        srv.stop()
        starts.append(srv.start_s)
        rs = rung_stats(res["shots"])
        out["attempted"] += len(plan)
        out["failed"] = failed_ref + check(plan, ref)
        out["e2e"] = {"setup_s": float(np.median(starts)),
                      "cpu_ms_per_query": cl["cpu_ms_per_query"], "rss_peak_mb": cl["hwm_mb"]}
    else:
        path = str(WORK / f"spans-{os.getpid()}.json")
        tcl = closed_loop_run(store, warm, picks, spans=path)
        tlat = tcl["lat"]
        layers = serve_layers(cls_of, tlat, _spans(path))
        res, _ = _ladder_run(store, plan, spans=path)
        loaded = _spans(path)
        rs = rung_stats(res["shots"])
        out["attempted"] += len(picks) + len(plan)
        out["failed"] = (failed_ref + tcl["failed"] + check(plan, ref)
                         + sum(tcl["ref"].get(u, ref[u]) != ref[u] for u in ref))
        layers.update(admission_layers(loaded))
        layers.update(rs)
        layers.update({
            "serve.fail_ratio": out["failed"] / out["attempted"],
            "serve.unloaded_samples": len(lat),
            "proc.cpu_ms_per_query": res["cpu_s"] * 1e3 / len(plan),
            "proc.threads_max": res["threads_max"],
            "traced.setup_s": tcl["start_s"],
            "traced.rss_peak_mb": tcl["hwm_mb"],
            "traced.cpu_ms_per_query": tcl["cpu_ms_per_query"],
            "client.p50_ms": pct(lat.values(), 50),
            "client.p95_ms": pct(lat.values(), 95),
            "trace.overhead_p50_ms": pct(tlat.values(), 50) - pct(lat.values(), 50),
            "trace.overhead_p95_ms": pct(tlat.values(), 95) - pct(lat.values(), 95),
        })
        out["layers"] = layers
    lag_ok = rs["loadgen.lag_p95_ms"] <= MAX_LAG_MS
    if not lag_ok:
        log(f"run invalid: the load generator fell behind (lag p95 > {MAX_LAG_MS} ms)")
    out["correct"] = out["failed"] == 0 and lag_ok
    return out


def _self_ms(span, children) -> float:
    """Span duration minus the union of its children's intervals, in ms."""
    t0, t1 = span[4], span[5]
    covered, end = 0.0, t0
    for c in sorted(children, key=lambda c: c[4]):
        lo, hi = max(c[4], end), min(c[5], t1)
        if hi > lo:
            covered += hi - lo
            end = hi
    return (t1 - t0 - covered) * 1e3


def serve_layers(cls_of: dict, client_ms: dict, spans_doc) -> dict:
    """Per-class layer times from the spans of a closed-loop pass; client_ms
    maps each request id to its client-side latency. Only spans of the
    pass's requests count (warm-up requests carry no id)."""
    spans = spans_doc["spans"]
    by_parent = defaultdict(list)
    for s in spans:
        by_parent[s[2]].append(s)
    per = defaultdict(lambda: defaultdict(list))  # layer -> class -> ms
    overhead, hits, searches, analyze, phrase = [], 0, 0, [], []
    gsm_ms, gsm_n, n_local = 0.0, 0, 0
    for s in spans:
        rid, sid, parent, name = s[0], s[1], s[2], s[3]
        if rid not in cls_of:
            continue
        ms = (s[5] - s[4]) * 1e3
        cls = cls_of[rid]
        if name == "serve.search" and parent is None:
            searches += 1
            kids = by_parent[sid]
            if not any(k[3] == "analyze.analyze_py" for k in kids):
                hits += 1
            per["search_self"][cls].append(_self_ms(s, kids))
            if rid in client_ms:
                overhead.append(client_ms[rid] - ms)
        elif name == "analyze.analyze_py":
            analyze.append(ms)
        elif name == "wand.search_local":
            n_local += 1
            per["search_local"][cls].append(ms)
        elif name == "wand.get_scored_many":
            gsm_ms += ms
            gsm_n += s[6]
        elif name == "phrase.search_local":
            phrase.append(ms)
    out = {
        "serve.http_overhead_ms": pct(overhead, 50),
        "serve.result_cache_hit_ratio": hits / searches if searches else 0.0,
        "analyze.analyze_py_p50_ms": pct(analyze, 50),
        "wand.get_scored_many_ms": gsm_ms / n_local if n_local else 0.0,
        "wand.get_scored_many_chains": gsm_n / n_local if n_local else 0.0,
        "phrase.search_local_p50_ms": pct(phrase, 50),
        "phrase.search_local_p95_ms": pct(phrase, 95),
    }
    for cls in gen.ALL_CLASSES:
        out[f"serve.search_self_p50_ms.{cls}"] = pct(per["search_self"][cls], 50)
        out[f"serve.search_self_p95_ms.{cls}"] = pct(per["search_self"][cls], 95)
    for cls in gen.WAND_CLASSES:
        out[f"wand.search_local_p50_ms.{cls}"] = pct(per["search_local"][cls], 50)
        out[f"wand.search_local_p95_ms.{cls}"] = pct(per["search_local"][cls], 95)
    return out


def admission_layers(spans_doc) -> dict:
    """Admission wait and in-flight queries under the ladder's load."""
    waits = [(s[5] - s[4]) * 1e3 for s in spans_doc["spans"] if s[3] == "mem.admission"]
    return {"mem.admission_wait_p50_ms": pct(waits, 50),
            "mem.admission_wait_p95_ms": pct(waits, 95),
            "mem.inflight_max": spans_doc["inflight_max"]}
