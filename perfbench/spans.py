"""In-memory span recorder for the serving process.

`Recorder.install()` wraps the serving layers' public functions in
`perf_counter` spans from outside the program: each span carries the request
id of the HTTP request that caused it (a context variable, copied into
thread-pool tasks) and the id of its parent span. Spans stay in a list until
`dump()` writes them at shutdown.

Span row: [rid, span_id, parent_id, name, t0, t1, n] — `n` is a per-call
count where the layer has one (chains for get_scored_many), else 0.
"""

from __future__ import annotations

import contextvars
import functools
import itertools
import json
import threading
import time
from concurrent.futures import ThreadPoolExecutor

RID = contextvars.ContextVar("perfbench_rid", default=None)
_PARENT = contextvars.ContextVar("perfbench_parent", default=None)


class Recorder:
    def __init__(self):
        self.spans: list[list] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._inflight = 0
        self.inflight_max = 0

    def span(self, name: str, fn, count=None):
        rec = self

        @functools.wraps(fn)
        def inner(*a, **kw):
            sid = next(rec._ids)
            tok = _PARENT.set(sid)
            parent = tok.old_value if tok.old_value is not contextvars.Token.MISSING else None
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                t1 = time.perf_counter()
                _PARENT.reset(tok)
                rec.spans.append([RID.get(), sid, parent, name, t0, t1,
                                  count(a) if count else 0])
        return inner

    def gate(self, admission):
        """Wrap mem.admission(): the span covers the wait for a slot, and
        `inflight_max` counts queries waiting or admitted at once."""
        rec = self

        class Timed:
            def __init__(self, g):
                self.g = g

            def __enter__(self):
                with rec._lock:
                    rec._inflight += 1
                    rec.inflight_max = max(rec.inflight_max, rec._inflight)
                t0 = time.perf_counter()
                self.g.__enter__()
                rec.spans.append([RID.get(), next(rec._ids), _PARENT.get(),
                                  "mem.admission", t0, time.perf_counter(), 0])
                return self

            def __exit__(self, *exc):
                try:
                    return self.g.__exit__(*exc)
                finally:
                    with rec._lock:
                        rec._inflight -= 1

        @functools.wraps(admission)
        def inner():
            return Timed(admission())
        return inner

    def install(self, serve_mod) -> None:
        """Patch the layers named in BENCHMARK.json's per-layer metrics."""
        from ucuddle_search_engine_spark.functions import analyze, mem
        from ucuddle_search_engine_spark.operators import phrase, wand

        app = serve_mod.SearchApp
        app.search = self.span("serve.search", app.search)
        analyze.Analyzer.analyze_py = self.span("analyze.analyze_py",
                                                analyze.Analyzer.analyze_py)
        wand.SegmentSearcher.search_local = self.span(
            "wand.search_local", wand.SegmentSearcher.search_local)
        wand.DecodeCache.get_scored_many = self.span(
            "wand.get_scored_many", wand.DecodeCache.get_scored_many,
            count=lambda a: len(a[1]))
        phrase.phrase_search_local = self.span("phrase.search_local",
                                               phrase.phrase_search_local)
        mem.admission = self.gate(mem.admission)
        submit = ThreadPoolExecutor.submit

        def submit_in_context(pool, fn, /, *args, **kwargs):
            return submit(pool, contextvars.copy_context().run, fn, *args, **kwargs)
        ThreadPoolExecutor.submit = submit_in_context

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "inflight_max": self.inflight_max}, f)
