"""A traced serving process answers byte-for-byte like a plain one.

The benchmark's traced `serve` run is the only run that wraps the serving
layers in spans (perfbench/spans.py) and the only one that checks a second
fresh server, under concurrent load, against the first server's bytes. A
wrapped entry point that changes shape, or a response that depends on cache
state, request order, concurrency or str-hash order, fails that run while
every in-process test passes. This test starts perfbench/server.py twice on
one store: plain, sent one query per class serially, and with --spans, sent
the same queries in reverse order from 4 threads.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path
from urllib.parse import urlencode

ROOT = Path(__file__).resolve().parents[1]
BENCH = ROOT / "perfbench"

# one query per class, named as perfbench/gen.py names them
QUERIES = [
    ("or_head", {"q": "t0 t1 t5"}),
    ("and", {"q": "t2 t7", "mode": "and"}),
    ("paged", {"q": "t3 t9 t11", "from": "5"}),
    ("phrase", {"q": '"t0 t1"'}),
    ("fuzzy", {"q": "t1x", "fuzzy": "1", "prefix": "1"}),
    ("highlight", {"q": "t4 t8", "highlight": "1"}),
    ("repeat", {"q": "t0 t1 t5"}),
]


def _perfbench():
    """perfbench's serving and loadgen modules (imported, not copied)."""
    sys.path.insert(0, str(BENCH))
    try:
        import loadgen
        import serving
    finally:
        sys.path.remove(str(BENCH))
    return serving, loadgen


class _Server:
    def __init__(self, store: str, log: Path, spans: Path | None = None):
        cmd = [sys.executable, str(BENCH / "server.py"), "--index", store]
        if spans is not None:
            cmd += ["--spans", str(spans)]
        env = dict(os.environ, PYTHONPATH=str(ROOT))
        self.log = open(log, "ab")
        self.proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=self.log,
                                     env=env, cwd=str(ROOT))
        line = self.proc.stdout.readline().decode()
        if not line.startswith("PORT "):
            self.stop()
            raise RuntimeError(f"server failed to start: {log.read_text()[-2000:]}")
        self.port = int(line.split()[1])

    def stop(self) -> None:
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGTERM)
            try:
                self.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.proc.stdout.close()
        self.log.close()


def test_traced_server_answers_like_plain_server(built_store, tmp_path):
    serving, loadgen = _perfbench()
    store = built_store(400, 4, n_units=2, write_postings=True)
    urls = ["/search?" + urlencode({"k": "10", **p, "rid": str(rid)})
            for rid, (_, p) in enumerate(QUERIES)]

    plain = _Server(store, tmp_path / "plain.log")
    try:
        got_plain = [loadgen.LoadGen(plain.port, 1).get(u) for u in urls]
    finally:
        plain.stop()
    spans_path = tmp_path / "spans.json"
    traced = _Server(store, tmp_path / "traced.log", spans=spans_path)
    try:
        with ThreadPoolExecutor(4) as pool:
            futs = {u: pool.submit(loadgen.LoadGen(traced.port, 1).get, u)
                    for u in reversed(urls)}
            got_traced = [futs[u].result(timeout=300) for u in urls]
    finally:
        traced.stop()
    assert traced.proc.returncode == 0 and plain.proc.returncode == 0

    for (cls, _), (st_p, body_p), (st_t, body_t) in zip(QUERIES, got_plain, got_traced):
        assert st_p == 200 and st_t == 200, cls
        assert body_t == body_p, cls
    for cls in ("or_head", "and", "paged", "phrase", "fuzzy", "highlight"):
        assert json.loads(got_plain[[c for c, _ in QUERIES].index(cls)][1]), cls

    with open(spans_path) as f:
        doc = json.load(f)
    names = {s[3] for s in doc["spans"]}
    assert names >= {"serve.search", "analyze.analyze_py", "wand.search_local",
                     "wand.get_scored_many", "phrase.search_local", "mem.admission"}, names
    # perfbench's own span analysis reads every layer off this file
    cls_of = {rid: cls for rid, (cls, _) in enumerate(QUERIES)}
    layers = serving.serve_layers(cls_of, {rid: 1.0 for rid in cls_of}, doc)
    layers.update(serving.admission_layers(doc))
    for cls, _ in QUERIES:
        assert layers[f"serve.search_self_p50_ms.{cls}"] >= 0.0, cls
    for name in ("analyze.analyze_py_p50_ms", "wand.get_scored_many_ms",
                 "wand.get_scored_many_chains", "phrase.search_local_p50_ms",
                 "mem.inflight_max"):
        assert layers[name] > 0, name
