"""Process-level memory posture for the serving tier.

Anonymous-page first-touch cost depends on the host. The 32-core VM this
module was tuned on served faults at ~5-7 s per GB single-threaded with
transparent hugepages in `madvise` mode — measured there: a 1.1 GB fresh
ndarray cost ~7 s to first-touch serially but only ~1.5 s when 16 threads
faulted disjoint ranges, and ~0.2 s when the pages were already faulted
into the glibc heap; a cold phrase-cache fill at 5M docs allocated several
GB of numpy temporaries, so allocation faults — not compute — dominated its
cold latency (17 s of a 31 s fill). On a 4-core, 15 GB box a fresh 512 MiB
numpy fill first-touches at 0.2-1.2 s/GiB (the first fill of a process is
the slowest) and re-touching faulted pages costs ~0.12 s/GiB, so the fault
cost the touch-ahead below hides is 5-25x smaller there.

Two fixes, both glibc/Linux-only and silently skipped elsewhere:

- ``enable_heap_reuse()``: mallopt(M_MMAP_THRESHOLD, max) + trim-threshold
  so numpy's large blocks come from the sbrk heap and stay faulted across
  frees. First allocation pays the fault; every later query reuses hot
  pages (measured: 286M-element uint32 cumsum 9.4 s → 0.95 s on reuse).
  The trade-off — freed memory is retained by the process — is the standard
  serving-tier allocator posture (jemalloc/mimalloc behave the same way by
  default), bounded by peak working set, fine on a dedicated search box.
- ``prefault(nbytes)``: touch-ahead of the heap arena. Measured on the
  32-core VM, fault cost was ~5.4 s/GB at ANY parallelism (1 thread,
  16-thread memset, 32-thread MADV_POPULATE_WRITE all landed 5.4-6.3 s/GB —
  the kernel/hypervisor serialized zero-page allocation), while REUSING
  already-faulted arena pages cost ~0.16 s/GB. So the only lever is WHEN
  the faults happen: ``startup_warm()`` pays them once at store-open (the
  JVM ``-XX:+AlwaysPreTouch`` posture), and every query after that reuses
  hot pages. A module-level high-water mark makes repeat calls no-ops.

Arrow's pool is jemalloc (its scans/sorts fault multi-threaded already);
``retain_arrow_memory()`` disables its dirty-page decay so warm queries
reuse instead of refaulting.
"""

from __future__ import annotations

import threading

_LOCK = threading.Lock()        # fast-path state: _ENABLED, _ADMIT_SEM init
_TOUCH_LOCK = threading.Lock()  # prefault's (potentially minutes-long) touch
_ENABLED = False
_HOT_BYTES = 0

# queries currently executing (query_begin/query_end). The idle-time top-up
# (topup_async) aborts its touch loop the moment this goes nonzero: a
# background prefault competes with live queries for memory bandwidth and
# the allocator — measured as multi-second warm-latency outliers when a
# top-up kicked off by one bench class ran through the next class's timed
# reps. In-query prefaults (search_local's touch-ahead) do NOT yield — the
# query is waiting on them.
_ACTIVE_QUERIES = 0


_ADMIT_SEM = None


class _NoAdmission:
    """Context no-op when admission control is disabled (limit 0)."""

    def __enter__(self):
        return self

    def __exit__(self, *a):
        return False


class _FairGate:
    """FIFO admission gate: at most `width` holders; a releasing holder
    hands its slot DIRECTLY to the oldest waiter. threading.Semaphore is
    not fair — a woken waiter must re-win the condition lock against
    freshly-arriving acquirers (barging), and under closed-loop load that
    starved individual requests for the whole run (measured: max wait
    33.9 s at 32 in-flight clients while p95 stayed 43 ms). With direct
    handoff the worst wait is queue-length × service time."""

    def __init__(self, width: int):
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


def admission():
    """Bounded-admission gate for serving-tier queries (search_local /
    phrase_search_local): at most N queries EXECUTE concurrently; the rest
    wait on the semaphore (a GIL-free futex wait), exactly the ES
    search-thread-pool-plus-queue posture. Rationale (BENCH/throughput.json,
    1M docs, 24-query warm mix): each query is already internally parallel
    — the scoring pool fans (shard, unit) groups across up to 32 threads
    and the probe/decode pools behave likewise — so stacking more QUERY
    threads on top oversubscribes the same cores and convoys the GIL-held
    per-chain bookkeeping: measured QPS peaked at concurrency 2 (66.2) and
    COLLAPSED to 29 at 8-32 in-flight, with p95 inflating 35 ms → 6.9 s.
    Closed-loop latency is c/QPS regardless (Little's law), so capping
    execution width raises throughput AND tightens the tail.

    Limit: UCUDDLE_MAX_INFLIGHT_QUERIES (0 disables); default 2 — the
    measured optimum on the 32-cpu box (width 2: 86-88 QPS / p95 ~41 ms at
    8-32 in flight; width 4: 63-75 QPS / p95 131-195 ms; each query's own
    pools already use the cores). Operators with many slow-I/O cold queries
    can widen via the env knob."""
    global _ADMIT_SEM
    if _ADMIT_SEM is None:
        with _LOCK:
            if _ADMIT_SEM is None:
                import os

                env = os.environ.get("UCUDDLE_MAX_INFLIGHT_QUERIES")
                try:
                    limit = int(env) if env not in (None, "") else 2
                except ValueError:
                    # fail soft at first use, not as a mid-query 500: a
                    # malformed env value falls back to the measured default
                    import warnings

                    warnings.warn(
                        f"UCUDDLE_MAX_INFLIGHT_QUERIES={env!r} is not an int; using default 2"
                    )
                    limit = 2
                _ADMIT_SEM = _FairGate(limit) if limit > 0 else _NoAdmission()
    return _ADMIT_SEM


_AQ_LOCK = threading.Lock()


def query_begin() -> None:
    """Mark a serving query in flight. Locked: `x += 1` on a global is
    LOAD/ADD/STORE bytecodes and IS preemptible mid-sequence, so two
    concurrent queries could lose an update and leave the counter
    permanently drifted (stuck > 0 kills every future idle top-up; stuck
    < 0 makes yielding prefaults never abort). The lock is a few ns
    against multi-ms queries."""
    global _ACTIVE_QUERIES
    with _AQ_LOCK:
        _ACTIVE_QUERIES += 1


def query_end() -> None:
    global _ACTIVE_QUERIES
    with _AQ_LOCK:
        _ACTIVE_QUERIES -= 1


def active_queries() -> int:
    """Queries executing right now (admission-bounded). Racy reads are fine
    for its consumers (width heuristics); the counter itself is lock-kept."""
    return _ACTIVE_QUERIES


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


def _arena_free_bytes() -> int | None:
    """Free (hot, reusable) bytes in the glibc arena via mallinfo2 — the
    quantity that actually bounds how much of a query's allocations reuse
    pages instead of faulting. None on non-glibc / pre-2.33."""
    try:
        import ctypes

        class _MI2(ctypes.Structure):
            _fields_ = [(n, ctypes.c_size_t) for n in (
                "arena", "ordblks", "smblks", "hblks", "hblkhd",
                "usmblks", "fsmblks", "uordblks", "fordblks", "keepcost")]

        libc = ctypes.CDLL("libc.so.6")
        if not hasattr(libc, "mallinfo2"):
            return None
        libc.mallinfo2.restype = _MI2
        mi = libc.mallinfo2()
        # fordblks counts free chunks but NOT the top-of-heap chunk
        # (keepcost) — and with trim disabled the arena a startup_warm just
        # touched-and-freed sits ENTIRELY at the heap top, so fordblks alone
        # reported ~0 free right after a 16 GB pre-touch and every first
        # query re-touched its whole estimate (hot pages, so cheap — but a
        # wasted pass and a dishonest contract)
        return int(mi.fordblks) + int(mi.keepcost)
    except Exception:
        return None


def prefault(nbytes: int, threads: int = 16, yield_to_queries: bool = False) -> int:
    """Ensure ~`nbytes` of FREE, already-faulted heap arena, touching only
    the shortfall. Free-arena accounting (mallinfo2), not a touched-ever
    high-water mark: pages touched earlier but since occupied by LIVE cache
    data (phrase keys, decode cache) no longer help a new query's
    temporaries — measured: a second distinct fuzzy query after a phrase
    fill grew RSS re-faulted from scratch (26 s) under high-water
    accounting. Returns the bytes actually touched. Safe to call from a
    background thread (the touch loop is inside the lock, so concurrent
    callers serialize instead of double-faulting).

    yield_to_queries: ABORT (not pause — aborting releases the lock so an
    in-query prefault can't deadlock behind us) as soon as a query goes in
    flight; the idle-time top-up retries after that query ends anyway. Each
    worker checks between ~32 MB strips, so a query loses at most one
    strip's worth of bandwidth per worker."""
    global _HOT_BYTES
    if not enable_heap_reuse():
        return 0
    # NOT the module _LOCK: a startup pre-touch can run for tens of seconds
    # to minutes, and holding the shared lock that admission() and
    # enable_heap_reuse() need would stall the FIRST query of any process
    # that didn't explicitly warm() (e.g. scripts/admin.py's one-shot
    # search) for the whole touch pass. Concurrent prefault callers still
    # serialize here instead of double-faulting the same pages.
    with _TOUCH_LOCK:
        if yield_to_queries and _ACTIVE_QUERIES > 0:
            # abort BEFORE the arena allocation below: under sustained
            # concurrent traffic queries are always in flight, and a
            # GB-scale np.empty + free per attempt is pure malloc-arena
            # churn against the live queries (single-arena posture — the
            # allocation serializes on the same lock their numpy
            # temporaries need). The last query to end re-arms the top-up.
            return 0
        free = _arena_free_bytes()
        if free is not None:
            delta = int(nbytes) - free
        else:
            delta = int(nbytes) - _HOT_BYTES
        if delta <= 64 * 1024 * 1024:  # not worth a touch pass
            return 0
        _HOT_BYTES = max(_HOT_BYTES, int(nbytes))
        import numpy as np

        arena = np.empty(delta, dtype=np.uint8)
        page = 4096
        # yield path: small strips + ONE worker. Fault throughput is
        # serialized by the kernel at ANY parallelism (~5.4 s/GB on the
        # 32-core VM, see module docstring), so extra workers buy nothing —
        # but each worker finishes its in-flight strip after a query
        # starts, so N workers × strip is the bandwidth stolen from that
        # query (16 × 32 MB ≈ 0.5 GB ≈ 2.7 s of serialized faults, measured
        # as 1.5-2.5× warm-latency inflation on the classes that followed a
        # cache-growing one).
        if yield_to_queries:
            threads = 1
            strip = 8 * 1024 * 1024
        else:
            strip = 32 * 1024 * 1024
        ch = max(1, len(arena) // max(1, threads))

        def touch(i: int) -> None:
            lo = i * ch
            hi = (i + 1) * ch if i < threads - 1 else len(arena)
            while lo < hi:
                if yield_to_queries and _ACTIVE_QUERIES > 0:
                    return
                arena[lo:min(lo + strip, hi):page] = 0
                lo += strip

        from concurrent.futures import ThreadPoolExecutor

        try:
            with ThreadPoolExecutor(threads) as ex:
                list(ex.map(touch, range(threads)))
        except RuntimeError:
            # interpreter shutdown while a daemon top-up was queued — the
            # process is exiting; warmed pages are moot
            return 0
        del arena  # stays in the heap arena, pages remain resident
    return delta


def prefault_async(nbytes: int, threads: int = 16,
                   yield_to_queries: bool = False) -> threading.Thread:
    """Kick prefault on a daemon thread (overlap with I/O); join() to wait."""
    t = threading.Thread(target=prefault, args=(nbytes, threads, yield_to_queries),
                         daemon=True)
    t.start()
    return t


def startup_warm_bytes(store_dir) -> int:
    """How much arena to pre-touch when a serving view opens: the PEAK
    serving working set — decode cache (~5% RAM at 24 B/posting, see
    wand._default_decode_cache_postings) with headroom for transient decode
    buffers, PLUS half the phrase keys-cache budget (its resident entries
    are what consumed the original, decode-only target: a heavy phrase class
    left the next cold query ~10 GB of fresh faults at 5.4 s/GB — 83 s
    user-visible, measured on the 32-core VM) — but never more than the store's own on-disk
    bytes (decoded live arrays roughly trade compression against the
    un-decoded docs/positions share). Capped at 24 GB; tiny test
    stores land under prefault's 64 MB floor and cost nothing. Startup pays
    this once, off the query path — the ES index-warmer / JVM AlwaysPreTouch
    posture. Env override: UCUDDLE_STARTUP_WARM_BYTES (0 disables)."""
    import os

    env = os.environ.get("UCUDDLE_STARTUP_WARM_BYTES")
    if env is not None:
        return int(env)
    total = 0
    try:
        for root, _dirs, files in os.walk(str(store_dir)):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
    except OSError:
        return 0
    from ..operators.phrase import PhraseKeysCache
    from ..operators.wand import _default_decode_cache_postings

    cache_bytes = _default_decode_cache_postings() * 24
    phrase_bytes = PhraseKeysCache().max_bytes
    return int(min(total, cache_bytes * 3 // 2 + phrase_bytes // 2, 24 << 30))


def startup_warm(store_dir) -> threading.Thread:
    """Pre-touch the serving arena for a store view, asynchronously — the
    once-per-process answer to the anonymous-fault cost (~5.4 s/GB on the
    32-core VM, 0.2-1.2 s/GiB on a 4-core box; see the module docstring).
    ES index warmers / JVM AlwaysPreTouch do the same. Returns the thread;
    join() it (e.g. before binding the serving port) to start fully warm.
    Also records the target for idle-time top-ups (topup_async)."""
    n = startup_warm_bytes(store_dir)
    set_topup_target(n)
    return prefault_async(n)


_TOPUP_TARGET = 0
_TOPUP_THREAD: threading.Thread | None = None


def set_topup_target(nbytes: int) -> None:
    global _TOPUP_TARGET
    _TOPUP_TARGET = max(_TOPUP_TARGET, int(nbytes))


def topup_async() -> None:
    """Debounced idle-time arena re-warm: as live cache data (decode cache,
    phrase keys) grows, it OCCUPIES previously-free hot pages, so the next
    distinct query's temporaries would fault fresh ones (~5.4 s/GB on the
    32-core VM) —
    measured 26-28 s on a fuzzy query issued right after a 5M-doc phrase
    fill. Serving boxes idle between queries; calling this at the END of a
    query restores the free-arena target in the background, off every
    query's critical path. No-ops (one mallinfo2 read) once the bounded
    caches stop growing."""
    global _TOPUP_THREAD
    if _TOPUP_TARGET <= 0 or not _ENABLED:
        return
    if _ACTIVE_QUERIES > 0:
        # other queries still in flight (the caller's own just ended): a
        # top-up would abort against them anyway — don't even spawn the
        # thread. The last query to end when the box goes idle re-arms it.
        return
    free = _arena_free_bytes()
    if free is not None and _TOPUP_TARGET - free <= 64 * 1024 * 1024:
        return
    # the alive-check + assignment is under _LOCK (spawn-time only, never
    # during the touch): two queries ending simultaneously could otherwise
    # both see no live thread and both spawn GB-scale prefault threads —
    # they'd serialize on _TOUCH_LOCK, but the loser's touch is pure waste
    with _LOCK:
        t = _TOPUP_THREAD
        if t is not None and t.is_alive():
            return
        # yield_to_queries: the top-up must never compete with a live query
        # for memory bandwidth — it aborts on query_begin and retries after
        # that query's own end-of-query topup_async call
        _TOPUP_THREAD = prefault_async(_TOPUP_TARGET, yield_to_queries=True)
