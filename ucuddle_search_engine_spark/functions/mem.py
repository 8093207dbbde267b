"""Process-level memory and admission posture for the serving tier.

Three pieces, all idempotent per process:

- ``enable_heap_reuse()``: mallopt(M_MMAP_THRESHOLD, max) + trim-threshold
  so numpy's large blocks come from the sbrk heap and stay faulted across
  frees. First allocation pays the fault; every later query reuses hot
  pages (measured on a 32-core VM: 286M-element uint32 cumsum 9.4 s →
  0.95 s on reuse). The trade-off — freed memory is retained by the process
  — is the standard serving-tier allocator posture (jemalloc/mimalloc
  behave the same way by default), bounded by peak working set.
- ``retain_arrow_memory()``: Arrow's pool is jemalloc (its scans/sorts
  fault multi-threaded already); disabling its dirty-page decay lets warm
  queries reuse pages instead of refaulting them.
- ``admission()``: the FIFO gate that bounds how many serving queries
  execute at once; ``active_queries()`` reads its holder count.

``serving_posture()`` applies the two allocator settings; ``open_local``
calls it at store open and ``admission()`` on its first use.

There is no arena pre-touch. The 32-core VM this tier was first tuned on
first-touched anonymous pages at ~5.4 s/GB at any parallelism, which once
justified touching the heap ahead of queries. A 4-core, 15 GB box
first-touches a fresh 512 MiB numpy fill at 0.2-1.2 s/GiB and re-touches
faulted pages at ~0.12 s/GiB. On the 12k-doc benchmark store the open-time
pre-touch was sized to 37 MiB, under its own 64 MiB floor, so it touched
0 bytes; its idle-time re-warm never started a thread, and the in-query
touch-ahead needed more than 4M uncached postings in one query against a
store of 1.65M. Nothing it did showed in any measured number, so it is gone.
"""

from __future__ import annotations

import threading

_LOCK = threading.Lock()  # _ENABLED and _ADMIT_SEM init
_ENABLED = False
_ADMIT_SEM = None


class _FairGate:
    """FIFO admission gate: at most `width` holders; a releasing holder
    hands its slot DIRECTLY to the oldest waiter. threading.Semaphore is
    not fair — a woken waiter must re-win the condition lock against
    freshly-arriving acquirers (barging), and under closed-loop load that
    starved individual requests for the whole run (measured: max wait
    33.9 s at 32 in-flight clients while p95 stayed 43 ms). With direct
    handoff the worst wait is queue-length × service time."""

    def __init__(self, width: float):
        import collections

        self._lock = threading.Lock()
        self._width = width
        self._active = 0
        self._waiters: collections.deque = collections.deque()

    def __enter__(self):
        with self._lock:
            if self._active < self._width and not self._waiters:
                self._active += 1
                return self
            ev = threading.Event()
            self._waiters.append(ev)
        ev.wait()  # slot is transferred by the releaser; _active unchanged
        return self

    def __exit__(self, *a):
        with self._lock:
            if self._waiters:
                self._waiters.popleft().set()  # hand off, count carries over
            else:
                self._active -= 1
        return False


def admission() -> _FairGate:
    """Bounded-admission gate for serving-tier queries (search_local /
    phrase_search_local): at most N queries EXECUTE concurrently; the rest
    wait on the gate (a GIL-free futex wait), exactly the ES
    search-thread-pool-plus-queue posture. Rationale (BENCH/throughput.json,
    1M docs, 24-query warm mix, 32-core VM): each query is already
    internally parallel — the scoring pool fans (shard, unit) groups across
    up to 32 threads — so stacking more QUERY threads on top oversubscribes
    the same cores and convoys the GIL-held per-chain bookkeeping: measured
    QPS peaked at concurrency 2 (66.2) and COLLAPSED to 29 at 8-32
    in-flight, with p95 inflating 35 ms → 6.9 s. Closed-loop latency is
    c/QPS regardless (Little's law), so capping execution width raises
    throughput AND tightens the tail.

    Limit: UCUDDLE_MAX_INFLIGHT_QUERIES (0 = unbounded, the gate still
    counts holders); default 2 — the measured optimum on the 32-core VM
    (width 2: 86-88 QPS / p95 ~41 ms at 8-32 in flight; width 4: 63-75 QPS /
    p95 131-195 ms). A malformed value warns and uses the default.

    First use also applies serving_posture(), which covers searchers that
    did not come from open_local."""
    global _ADMIT_SEM
    if _ADMIT_SEM is None:
        serving_posture()  # outside _LOCK: enable_heap_reuse takes it
        with _LOCK:
            if _ADMIT_SEM is None:
                import os

                env = os.environ.get("UCUDDLE_MAX_INFLIGHT_QUERIES")
                try:
                    limit = int(env) if env not in (None, "") else 2
                except ValueError:
                    # fail soft at first use, not as a mid-query 500
                    import warnings

                    warnings.warn(
                        f"UCUDDLE_MAX_INFLIGHT_QUERIES={env!r} is not an int; using default 2"
                    )
                    limit = 2
                _ADMIT_SEM = _FairGate(limit if limit > 0 else float("inf"))
    return _ADMIT_SEM


def active_queries() -> int:
    """Serving queries admitted right now (the gate's holder count; 0
    before the first query). Read racily by the scoring fan-out's width
    heuristic, which needs no more."""
    gate = _ADMIT_SEM
    return gate._active if gate is not None else 0


def enable_heap_reuse() -> bool:
    """mallopt so glibc serves large allocations from the reusable heap
    instead of fresh mmaps. Idempotent; returns False on non-glibc."""
    global _ENABLED
    with _LOCK:
        if _ENABLED:
            return True
        try:
            import ctypes

            libc = ctypes.CDLL("libc.so.6", use_errno=True)
            M_TRIM_THRESHOLD, M_MMAP_THRESHOLD, M_MMAP_MAX = -1, -3, -4
            M_ARENA_MAX = -8
            ok = (libc.mallopt(M_MMAP_THRESHOLD, 2**31 - 1) == 1
                  and libc.mallopt(M_TRIM_THRESHOLD, 2**31 - 1) == 1
                  and libc.mallopt(M_MMAP_MAX, 0) == 1)
            # single arena: per-THREAD arenas (the scoring pool's) shrink
            # their heaps back to the OS on free regardless of the main
            # arena's trim threshold, so a 24-thread scorer re-faulted
            # ~2 GB/query (measured 400-550k minor faults, warm latency
            # 10-22 s vs 2.6 s with one arena). Large-block mallocs under one
            # arena serialize on its lock, but the serving tier's blocks are
            # few and big — measured net win. Threads that already mapped an
            # arena keep it; call this before the pools spawn.
            libc.mallopt(M_ARENA_MAX, 1)
            _ENABLED = bool(ok)
            return _ENABLED
        except Exception:
            return False


def retain_arrow_memory() -> None:
    """Stop jemalloc returning Arrow's pages to the OS (decay −1): warm
    scans/sorts reuse hot pages instead of refaulting them."""
    try:
        import pyarrow as pa

        if pa.default_memory_pool().backend_name == "jemalloc":
            pa.jemalloc_set_decay_ms(-1)
    except Exception:
        pass


def serving_posture() -> None:
    """Apply the serving tier's allocator posture (heap reuse + Arrow page
    retention). Idempotent; glibc/jemalloc-only, silently skipped elsewhere."""
    enable_heap_reuse()
    retain_arrow_memory()
