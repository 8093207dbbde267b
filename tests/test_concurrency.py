"""Concurrent serving-tier queries must be race-free: scripts/serve.py is a
ThreadingHTTPServer whose handlers call SegmentSearcher.search_local directly
(no app-level serialization around the engine), so every shared structure the
read path touches — the seg-chain cache, DecodeCache full-chain/scored-chain
memos, the phrase keys cache, the admission gate — must tolerate many
in-flight queries. This pins rank parity under sustained 16-way concurrency
on a mixed workload, including deliberate cold (cache-filling) overlap, plus
the admission gate's parsing and holder count and the scoring fan-out's
response to that count.

The reference serves concurrent users through Flask/gunicorn in front of
Elasticsearch (web-interaction tier); here the engine itself is the
concurrent surface, so the race check lives at this level.
"""

from __future__ import annotations

import contextlib
import threading
import time

import pytest

from ucuddle_search_engine_spark.operators.wand import SegmentSearcher

QUERY_MIX = [
    (["t0", "t1"], "or"),
    (["t0", "t1", "t2", "t3"], "or"),
    (["t5", "t40"], "and"),
    (["t2", "t30", "t111"], "or"),
    (["t123"], "or"),
    (["t7", "t9"], "and"),
]

N_THREADS = 16
ITERS_PER_THREAD = 8


def _run(local: SegmentSearcher, terms, mode):
    return [(d, round(s, 9)) for d, s in local.search_local(terms, k=10, mode=mode)]


def test_search_local_concurrent_parity(built_store):
    out = built_store(400, 4, n_units=2, write_postings=True)

    # single-threaded reference on a FRESH searcher (its own caches)
    ref_searcher = SegmentSearcher.open_local(out)
    want = {(tuple(t), m): _run(ref_searcher, t, m) for t, m in QUERY_MIX}

    # a second fresh searcher: all caches cold, so the concurrent phase
    # exercises the fill paths racing each other, not just warm hits
    local = SegmentSearcher.open_local(out)
    failures: list[tuple] = []
    barrier = threading.Barrier(N_THREADS)

    def worker(tid: int) -> None:
        barrier.wait()  # maximize overlap
        for i in range(ITERS_PER_THREAD):
            terms, mode = QUERY_MIX[(tid + i) % len(QUERY_MIX)]
            try:
                got = _run(local, terms, mode)
            except Exception as exc:  # noqa: BLE001 — collected for the assert
                failures.append((tid, terms, mode, f"raised {exc!r}"))
                continue
            if got != want[(tuple(terms), mode)]:
                failures.append((tid, terms, mode, got))

    threads = [threading.Thread(target=worker, args=(t,)) for t in range(N_THREADS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not failures, failures[:5]

    # and once more on the now-warm caches (memo-hit path under concurrency)
    failures.clear()
    barrier = threading.Barrier(N_THREADS)
    threads = [threading.Thread(target=worker, args=(t,)) for t in range(N_THREADS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not failures, failures[:5]


def test_fair_gate_width_and_fifo_handoff():
    """mem._FairGate: never more than `width` concurrent holders, every
    entrant is served, and no slot/waiter leaks — plus FIFO handoff: a
    releaser passes its slot to the OLDEST waiter, so arrival order is
    service order once the gate saturates (threading.Semaphore barging
    starved individual closed-loop requests for tens of seconds, measured
    in BENCH/throughput.json before the gate)."""
    import threading
    import time

    from ucuddle_search_engine_spark.functions import mem

    g = mem._FairGate(1)
    lock = threading.Lock()
    active, peak, served = [0], [0], []

    # saturate: hold the only slot while the workers queue up in a known
    # arrival order, then release and let handoff drain them
    g.__enter__()
    started = threading.Barrier(9)

    def w(i):
        started.wait()
        # deterministic queue order: i-th worker waits for i waiters ahead
        while True:
            with g._lock:
                if len(g._waiters) == i:
                    break
            time.sleep(0.0005)
        with g:
            with lock:
                active[0] += 1
                peak[0] = max(peak[0], active[0])
                served.append(i)
            time.sleep(0.001)
            with lock:
                active[0] -= 1

    ts = [threading.Thread(target=w, args=(i,)) for i in range(8)]
    for t in ts:
        t.start()
    started.wait()
    while True:
        with g._lock:
            if len(g._waiters) == 8:
                break
        time.sleep(0.001)
    g.__exit__(None, None, None)
    for t in ts:
        t.join()
    assert peak[0] == 1
    assert served == list(range(8))  # FIFO: service order == arrival order
    assert g._active == 0 and not g._waiters


def test_admission_parsing_and_count(monkeypatch):
    """mem.admission() builds its gate once from UCUDDLE_MAX_INFLIGHT_QUERIES:
    0 gives an unbounded gate that still counts its holders, a malformed
    value warns and falls back to width 2, and active_queries() follows a
    bounded gate's holders — through a handoff to a waiter — back to 0."""
    from ucuddle_search_engine_spark.functions import mem

    def fresh(env: str):
        monkeypatch.setattr(mem, "_ADMIT_SEM", None)
        monkeypatch.setenv("UCUDDLE_MAX_INFLIGHT_QUERIES", env)
        return mem.admission()

    g = fresh("0")
    with contextlib.ExitStack() as holders:
        for n in range(1, 6):
            holders.enter_context(mem.admission())
            assert mem.active_queries() == n
    assert mem.active_queries() == 0
    assert mem.admission() is g

    with pytest.warns(UserWarning, match="not an int"):
        g = fresh("two")
    assert g._width == 2

    g = fresh("2")
    entered, release = threading.Event(), threading.Event()

    def third():
        with mem.admission():
            entered.set()
            release.wait(10)

    t = threading.Thread(target=third)
    with g, g:
        assert mem.active_queries() == 2
        t.start()
        deadline = time.monotonic() + 10
        while not g._waiters:  # queued behind the two holders
            assert time.monotonic() < deadline
            time.sleep(0.001)
        assert not entered.is_set()
    assert entered.wait(10)
    assert mem.active_queries() == 1  # the slot was handed over, not freed
    release.set()
    t.join(10)
    assert not t.is_alive()
    assert mem.active_queries() == 0 and not g._waiters


def test_fanout_narrows_when_queries_arrive_mid_query(built_store, monkeypatch):
    """The scoring fan-out re-reads mem.active_queries() at every refill. A
    query that starts beside one other query on 32 cores may keep
    (32 // 4) // 2 = 4 (shard, unit) groups in flight; once the count rises
    to 8 mid-query, every later submission leaves at most max(2, 8 // 8) = 2
    in flight. The answer equals the unpooled one."""
    import concurrent.futures as cf

    from ucuddle_search_engine_spark.functions import mem
    from ucuddle_search_engine_spark.operators import wand

    out = built_store(400, 4, n_units=2, write_postings=True)  # 3 shards × 2 units
    terms = ["t0", "t1", "t2", "t3"]
    want = SegmentSearcher.open_local(out).search_local(terms, k=10, mode="or",
                                                        algorithm="wand")

    local = SegmentSearcher.open_local(out)
    for knob in ("POOL_MIN_POSTINGS", "PER_UNIT_MIN_POSTINGS", "FINE_GROUP_MIN_POSTINGS"):
        monkeypatch.setattr(SegmentSearcher, knob, 0)  # pool every (shard, unit) group
    monkeypatch.setattr(wand.os, "cpu_count", lambda: 32)
    active = [2]
    monkeypatch.setattr(mem, "active_queries", lambda: active[0])

    lock = threading.Lock()
    in_flight = [0]
    after_rise: list[int] = []
    score = wand._score_chains

    def counted_score(*a, **kw):
        try:
            return score(*a, **kw)
        finally:
            with lock:
                in_flight[0] -= 1

    monkeypatch.setattr(wand, "_score_chains", counted_score)

    class CountingPool:
        def __init__(self):
            self.ex = cf.ThreadPoolExecutor(4)
            self.submitted = 0

        def submit(self, fn, *a):
            with lock:
                in_flight[0] += 1
                self.submitted += 1
                if active[0] == 8:
                    after_rise.append(in_flight[0])
                if self.submitted == 4:
                    active[0] = 8  # six more queries admitted mid-query
            return self.ex.submit(fn, *a)

    local._pool = pool = CountingPool()
    try:
        got = local.search_local(terms, k=10, mode="or", algorithm="wand")
    finally:
        pool.ex.shutdown()
    assert pool.submitted >= 6, pool.submitted
    assert after_rise and max(after_rise) <= 2, after_rise
    assert [(d, round(s, 9)) for d, s in got] == [(d, round(s, 9)) for d, s in want]
