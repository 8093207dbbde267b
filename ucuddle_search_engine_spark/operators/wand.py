"""Query execution over the compressed segment store: per-shard top-k with
an exhaustive term-at-a-time scan or block-max pruning (OR queries) and
block-interval-pruned intersection (AND queries), then a global k-way merge —
the native re-implementation of what the reference delegates to ES
scatter-gather (3 shards, crawler/functs_with_elastic.go:75; per-shard top-20
heaps implied by size:20 at web/elastic_interaction.py:21).

Correctness contract: rank- and score-identical to operators/bm25.InvertedIndex
(tests/test_segments_wand.py). Because shards partition documents disjointly,
the global top-k is contained in the union of per-shard top-k — the merge is
exact.

Scale posture: the only shuffle is segments.filter(term ∈ q) → groupBy(shard);
the filter is a pruned parquet scan (partitioned by shard, term-sorted row
groups), each shard task decodes only the query terms' blocks, and block-max
skips blocks whose max_impact bound cannot beat the running threshold θ.
Driver traffic is |q| idf rows + S·k candidate rows.
"""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.varbyte import decode_doc_ids_concat, vb_decode_concat
from .bm25 import B, K1, DEFAULT_BOOSTS

# Stored block bounds (max_impact) and live contributions are computed from
# avgdl values that may differ at the last ULP (e.g. cstats persisted through
# JSON). Bounds must stay true UPPER bounds, so every ub is inflated by this
# relative margin before any pruning comparison — a few extra decoded blocks,
# never a dropped k-boundary tie.
UB_EPS = 1e-9


_GSM_POOL = None


#: above this many values, pa_points_filter falls back to isin — a huge OR
#: expression costs more to build/evaluate per row group than the residual
#: pruning it buys (a full-vocabulary fuzzy expansion scans its buckets anyway)
_POINTS_OR_CAP = 512


def pa_points_filter(col: str, values):
    """Equality-set dataset filter `col ∈ values`, built as an OR of ==
    comparisons. Semantically identical to pds.field(col).isin(values), but
    parquet row-group statistics pruning evaluates ==/OR guarantees and NOT
    isin (measured on a term-major 5M-doc store: a 58-term isin kept 31/31
    row groups per file — a full-bucket decompress, 17.6 s — while the same
    58 terms as an OR kept 4/31), so the OR form turns wide point-lookup
    reads from bucket-sized to value-sized. Partition-column (directory)
    pruning handles isin fine — this matters for ROW-GROUP stats only."""
    import functools
    import operator

    import pyarrow.dataset as pds

    vals = sorted(set(values))
    if not vals or len(vals) > _POINTS_OR_CAP:
        return pds.field(col).isin(vals)
    return functools.reduce(operator.or_, (pds.field(col) == v for v in vals))


def _gsm_pool():
    """2-thread helper pool for get_scored_many's independent stream decodes
    (docs/tfs run here, dls on the caller thread)."""
    global _GSM_POOL
    if _GSM_POOL is None:
        from concurrent.futures import ThreadPoolExecutor

        _GSM_POOL = ThreadPoolExecutor(2, thread_name_prefix="gsm-decode")
    return _GSM_POOL


def _default_decode_cache_postings() -> int:
    """Default DecodeCache bound, sized to the serving box like a page cache:
    ~5% of physical RAM at the ~24 B/cached-posting worst case, floored at
    16M postings (~400 MB) and hard-capped at 512M (~12 GB). Still a fixed
    bound independent of corpus/vocabulary — a box serving a 5M-doc shard
    with 128 GB RAM keeps the four-head-term working set (4 terms × df ×
    full+scored chains) resident instead of thrashing a cap tuned for 1M-df
    terms. Override: UCUDDLE_DECODE_CACHE_POSTINGS env var."""
    env = os.environ.get("UCUDDLE_DECODE_CACHE_POSTINGS")
    if env:
        return max(1, int(env))
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):
        return 16_000_000
    return min(max(16_000_000, ram // 20 // 24), 512_000_000)


def _default_seg_cache_bytes() -> int:
    """Default per-term chain-cache bound (SegmentSearcher._seg_chains),
    charged in ACTUAL resident bytes — compressed postings + block-metadata
    row overhead. RAM-derived like the decode cache: ~3% of physical RAM,
    floored at 256 MB, capped at 8 GB. The round-6 motivation is a wide-OR
    working set: a 58-term fuzzy expansion on a 5M-doc store carries ~720k
    block rows / ~0.5 GB of chains — over the old fixed 500k-ROW budget, so
    the LRU swept 100% cold on every warm query and each query re-paid the
    Arrow read + groupby + _BlockList builds (~2.5 s/query, measured).
    Override: UCUDDLE_SEG_CACHE_BYTES env var."""
    env = os.environ.get("UCUDDLE_SEG_CACHE_BYTES")
    if env:
        return max(1, int(env))
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):
        return 256 << 20
    return min(max(256 << 20, ram // 32), 8 << 30)


class DecodeCache:
    """Serving-tier cache of DECODED posting blocks — the page-cache analogue
    every on-disk engine keeps: a static store's block bytes decode to the
    same arrays on every query and head terms recur across queries, so the
    varbyte decode (the dominant serving cost at 1M docs: ~230 ms of a
    ~520 ms head-term query; reads are ~30 ms) is paid once per block.

    Keyed (chain_key, block_ordinal); LRU-bounded by TOTAL CACHED POSTINGS,
    so memory is capped regardless of corpus or vocabulary size. Misses
    batch-decode through the same concat decoders as the uncached path; each
    block's slice is COPIED out of the batch buffer before caching, so an
    evicted block actually frees its memory (a numpy split view would pin the
    whole batch). Only SegmentSearcher.search_local uses it; distributed
    executors are stateless per task and keep the plain batched decode. The
    serving tier is a ThreadingHTTPServer, so all cache state mutates under
    one lock (decode of misses happens outside it). Cached arrays are
    unfiltered (tombstones apply after retrieval, exactly where they applied
    after decode)."""

    __slots__ = ("max_postings", "_d", "_n", "_lock")

    # 16M cached postings ≈ 400 MB worst case (full + scored chains of four
    # 1M-df head terms fit together) — still a hard bound independent of
    # corpus and vocabulary size
    def __init__(self, max_postings: int = 16_000_000):
        import threading

        self.max_postings = max_postings
        self._d: dict[tuple, tuple] = {}  # insertion-ordered → LRU via re-insert
        self._n = 0
        self._lock = threading.Lock()

    def _put(self, key: tuple, v: tuple) -> None:
        with self._lock:
            old = self._d.pop(key, None)
            if old is not None:
                self._n -= len(old[0])
            self._d[key] = v
            self._n += len(v[0])
            self._evict_locked()

    def _touch(self, key: tuple):
        with self._lock:
            v = self._d.pop(key, None)
            if v is not None:
                self._d[key] = v  # re-insert at LRU tail
            return v

    def get_full(self, ckey: tuple, doc_bytes, tf_bytes, dl_bytes):
        """FULL-CHAIN fast path: one cache entry holding the whole chain's
        concatenated (docs, tfs, dls). Head-term queries select (nearly) every
        block — assembling 10⁴+ per-block entries (dict traffic + a 10⁴-way
        concatenate, ×3 arrays) dominated the warm path at 1M docs; a chain
        hit is three array refs. Misses decode in ONE vectorized concat pass
        (same cost as the uncached cold path)."""
        key = (ckey, "__full__")
        v = self._touch(key)
        if v is not None:
            return v
        v = (
            decode_doc_ids_concat(list(doc_bytes))[0].astype(np.int64),
            vb_decode_concat(list(tf_bytes))[0].astype(np.int64),
            vb_decode_concat(list(dl_bytes))[0].astype(np.int64),
        )
        self._put(key, v)
        return v

    def get_scored(self, ckey: tuple, weight_idf: float, avgdl: float,
                   doc_bytes, tf_bytes, dl_bytes):
        """(docs, BM25 contributions) for the whole chain, memoized — the
        per-posting scoring arithmetic is also static per (store, boosts), so
        warm head-term queries skip it too. The expression replicates
        _BlockList.decode verbatim (same float op order → bit-identical
        scores, rank parity preserved)."""
        key = (ckey, "__scored__", float(weight_idf), float(avgdl))
        v = self._touch(key)
        if v is not None:
            return v[0], v[1]
        full = self._touch((ckey, "__full__"))
        if full is not None:
            docs, tfs, dls = full
        else:
            # decode WITHOUT retaining the full chain: a wide-OR working set
            # (fuzzy expansion, ~200 chains) would otherwise hold every chain
            # twice (full + scored) and thrash the postings cap — the scored
            # entry alone serves warm OR queries; AND/phrase re-decode full
            docs = decode_doc_ids_concat(list(doc_bytes))[0].astype(np.int64)
            tfs = vb_decode_concat(list(tf_bytes))[0].astype(np.int64)
            dls = vb_decode_concat(list(dl_bytes))[0].astype(np.int64)
        tfs = tfs.astype(np.float64)
        dls = dls.astype(np.float64)
        contrib = weight_idf * tfs / (tfs + K1 * (1 - B + B * dls / avgdl))
        self._put(key, (docs, contrib, None))
        return docs, contrib

    def scored_cached_all(self, entries: list) -> bool:
        """True iff EVERY (ckey, weight_idf, avgdl, ...) entry's scored-chain
        memo is resident right now. Pure probe — no LRU touch, no decode:
        lets the query planner pick exhaustive TAAT (a gather + one dense
        aggregate over memoized chains) over block-max when pruning can't
        save any decode work because there is none left to save."""
        with self._lock:
            return all((e[0], "__scored__", float(e[1]), float(e[2])) in self._d
                       for e in entries)

    def get_scored_many(self, entries: list) -> list:
        """Batched get_scored over MANY whole chains: entries are
        (ckey, weight_idf, avgdl, doc_bytes, tf_bytes, dl_bytes); returns
        [(docs, contribs)] aligned with them. Hits come straight from the
        memo; ALL misses decode in ONE varbyte pass per stream (docs/tfs/dls)
        and score in ONE vectorized expression with the per-chain weight and
        avgdl expanded by np.repeat — the same scalar-broadcast IEEE ops as
        get_scored, so scores are bit-identical. Motivation: a cold 58-term
        fuzzy fill at 5M docs made 4,176 per-chain decode calls whose Python
        overhead (bytes.join / fromiter / flag-bit nonzero per call) was
        GIL-held — 14 s serial OR parallel; batching drops it to 3 calls per
        scoring group. Per-chain cache entries are sliced out as copies so
        eviction frees real memory (same contract as get_many).

        Big miss sets additionally split into up to GSM_MAX_PARTS
        block-balanced parts decoded on their own threads: chains are
        independent byte streams and the per-chain scoring broadcast is
        elementwise, so the partition leaves every array bit-identical while
        the numpy kernels (which release the GIL) overlap — measured 7.4 s →
        ~2.5 s on a 65M-posting cold fuzzy fill at 5M docs. Plain threads,
        not a pool: parts must never queue behind another caller's parts (or
        deadlock behind this method's own stream-overlap submissions to
        _gsm_pool on the single-part path)."""
        out: list = [None] * len(entries)
        miss: list[int] = []
        for i, e in enumerate(entries):
            key = (e[0], "__scored__", float(e[1]), float(e[2]))
            v = self._touch(key)
            if v is not None:
                out[i] = (v[0], v[1])
            else:
                miss.append(i)
        if not miss:
            return out
        total_blocks = sum(len(entries[i][3]) for i in miss)
        nparts = min(self.GSM_MAX_PARTS,
                     max(1, total_blocks // self.GSM_PART_MIN_BLOCKS))
        if nparts > 1:
            # greedy balance by block count (chain sizes are zipf-skewed)
            order = sorted(miss, key=lambda i: -len(entries[i][3]))
            parts: list[list[int]] = [[] for _ in range(nparts)]
            loads = [0] * nparts
            for i in order:
                p = loads.index(min(loads))
                parts[p].append(i)
                loads[p] += len(entries[i][3])
            import threading

            ts = [threading.Thread(target=self._score_miss_part,
                                   args=(entries, part, out))
                  for part in parts[1:] if part]
            for t in ts:
                t.start()
            self._score_miss_part(entries, parts[0], out)
            for t in ts:
                t.join()
            return out
        self._score_miss_part(entries, miss, out, overlap=True)
        return out

    #: cap on concurrent decode parts — beyond ~6 the allocator (single
    #: glibc arena, see mem.enable_heap_reuse) and memory bandwidth saturate
    #: (r7: env-tunable for per-box sweeps; 6 stays the measured default —
    #: the 12/16-part sweep on this box did not beat it, see
    #: BENCH/query_classes.json cold-fuzzy rows)
    try:
        GSM_MAX_PARTS = max(1, int(os.environ.get("UCUDDLE_GSM_MAX_PARTS", "6")))
    except ValueError:
        GSM_MAX_PARTS = 6
    #: minimum blocks (~128 postings each) per part — below ~2M postings a
    #: part's thread + join overhead outweighs the overlap
    GSM_PART_MIN_BLOCKS = 16384

    def _score_miss_part(self, entries: list, miss: list[int], out: list,
                         overlap: bool = False) -> None:
        """Decode + score one part of a get_scored_many miss set into `out`
        (disjoint indices per part — no synchronization needed on the list;
        cache puts take the instance lock). With overlap=True the three
        streams fan out on _gsm_pool (single-part path only)."""
        if not miss:
            return
        doc_bufs: list = []
        tf_bufs: list = []
        dl_bufs: list = []
        nblocks = np.empty(len(miss), dtype=np.int64)
        for j, i in enumerate(miss):
            _, _, _, db, tb, lb = entries[i]
            doc_bufs.extend(db)
            tf_bufs.extend(tb)
            dl_bufs.extend(lb)
            nblocks[j] = len(db)
        if overlap:
            # the three streams decode independently — overlap them on a
            # small dedicated pool (the numpy kernels inside release the
            # GIL; the byte-joins interleave). Dedicated so a scoring-pool
            # caller can never deadlock against its own pool.
            fd = _gsm_pool().submit(decode_doc_ids_concat, doc_bufs)
            ft = _gsm_pool().submit(vb_decode_concat, tf_bufs)
            dls_all = vb_decode_concat(dl_bufs)[0].astype(np.float64)
            docs_all, cnt_blk = fd.result()
            tfs_all = ft.result()[0].astype(np.float64)
        else:
            # multi-part caller: parts already overlap each other — inline
            # streams keep thread count at nparts, not 3×nparts
            docs_all, cnt_blk = decode_doc_ids_concat(doc_bufs)
            tfs_all = vb_decode_concat(tf_bufs)[0].astype(np.float64)
            dls_all = vb_decode_concat(dl_bufs)[0].astype(np.float64)
        # per-chain posting counts from per-BLOCK counts (zero-block chains
        # included): chain j covers blocks [bo[j], bo[j+1])
        bo = np.concatenate(([0], np.cumsum(nblocks)))
        psum = np.concatenate(([0], np.cumsum(cnt_blk)))
        chain_n = psum[bo[1:]] - psum[bo[:-1]]
        w = np.repeat(np.array([float(entries[i][1]) for i in miss]), chain_n)
        adl = np.repeat(np.array([float(entries[i][2]) for i in miss]), chain_n)
        contrib_all = w * tfs_all / (tfs_all + K1 * (1 - B + B * dls_all / adl))
        starts = np.concatenate(([0], np.cumsum(chain_n)))
        for j, i in enumerate(miss):
            a, b = int(starts[j]), int(starts[j + 1])
            docs = docs_all[a:b].astype(np.int64)  # copy (and int64, as get_scored)
            contrib = contrib_all[a:b].copy()
            e = entries[i]
            self._put((e[0], "__scored__", float(e[1]), float(e[2])),
                      (docs, contrib, None))
            out[i] = (docs, contrib)

    def get_many(self, ckey: tuple, ordinals, doc_bytes, tf_bytes, dl_bytes):
        """(docs, tfs, dls) concatenated over `ordinals` (block ids within one
        doc-ordered chain, ascending)."""
        ordinals = [int(i) for i in ordinals]
        with self._lock:
            miss = [i for i in ordinals if (ckey, i) not in self._d]
        decoded: dict[int, tuple] = {}
        if miss:
            docs_m, ns_d = decode_doc_ids_concat([doc_bytes[i] for i in miss])
            tfs_m, ns_t = vb_decode_concat([tf_bytes[i] for i in miss])
            dls_m, _ = vb_decode_concat([dl_bytes[i] for i in miss])
            cuts_d = np.cumsum(ns_d)[:-1]
            cuts_t = np.cumsum(ns_t)[:-1]
            for i, d, t, l in zip(
                miss,
                np.split(docs_m.astype(np.int64), cuts_d),
                np.split(tfs_m.astype(np.int64), cuts_t),
                np.split(dls_m.astype(np.int64), cuts_t),
            ):
                # .copy(): own the block's memory, don't pin the batch buffer
                decoded[i] = (d.copy(), t.copy(), l.copy())
        parts = []
        with self._lock:
            for i, v in decoded.items():
                key = (ckey, i)
                old = self._d.pop(key, None)
                if old is not None:
                    self._n -= len(old[0])
                self._d[key] = v
                self._n += len(v[0])
            self._evict_locked()
            for i in ordinals:
                key = (ckey, i)
                v = self._d.pop(key, None)
                if v is not None:
                    self._d[key] = v  # touch: re-insert at LRU tail
                parts.append((i, v))
        out = []
        for i, v in parts:
            if v is None:
                # evicted before the touch (cap below the query's own working
                # set, or a concurrent request's churn) — decode straight
                # through, don't cache
                v = decoded.get(i) or (
                    decode_doc_ids_concat([doc_bytes[i]])[0].astype(np.int64),
                    vb_decode_concat([tf_bytes[i]])[0].astype(np.int64),
                    vb_decode_concat([dl_bytes[i]])[0].astype(np.int64),
                )
            out.append(v)
        if not out:
            z = np.empty(0, np.int64)
            return z, z, z
        return (
            np.concatenate([p[0] for p in out]),
            np.concatenate([p[1] for p in out]),
            np.concatenate([p[2] for p in out]),
        )

    def _evict_locked(self) -> None:
        # oldest-first (dicts iterate in insertion order; hits re-insert at
        # the tail, so the head is the least-recently-used entry). Caller
        # holds self._lock.
        while self._n > self.max_postings and self._d:
            oldest = next(iter(self._d))
            d, _, _ = self._d.pop(oldest)
            self._n -= len(d)


class _ChainCols:
    """One (shard[, unit], field) slice of a term's posting chain as plain
    numpy/list columns, PRE-SORTED by block_no — the serving tier's
    pandas-free chain frame. _term_chains builds these straight from the
    Arrow table (one lexsort + boundary slicing, C-side throughout): the
    pandas groupby-iterate it replaces was ~2/3 of a 5M-doc cold wide-OR
    fill — 6.5 s of groupby iteration, 2.9 s of per-chain frame ops and
    3.5 s of Series.map byte accounting across 4640 chains (profiled on a
    58-term fuzzy expansion) — while the actual varbyte decode was 2 s.
    nbytes carries the chain's resident-byte charge (compressed postings +
    per-row overhead), precomputed vectorized at build."""

    __slots__ = ("ns", "max_impact", "min_doc", "max_doc",
                 "doc_bytes", "tf_bytes", "dl_bytes", "nbytes")

    def __init__(self, ns, max_impact, min_doc, max_doc,
                 doc_bytes, tf_bytes, dl_bytes, nbytes: int):
        self.ns = ns
        self.max_impact = max_impact
        self.min_doc = min_doc
        self.max_doc = max_doc
        self.doc_bytes = doc_bytes
        self.tf_bytes = tf_bytes
        self.dl_bytes = dl_bytes
        self.nbytes = nbytes

    def __len__(self) -> int:
        return len(self.ns)


class _BlockList:
    """Lazy per-block view of one (term, field[, unit]) posting chain: block
    metadata (ub, doc range) without decoding — decode happens per selected
    block. Feeds the vectorized block-max scorer."""

    __slots__ = ("ubs", "min_docs", "max_docs", "ns", "weight_idf", "avgdl",
                 "doc_bytes", "tf_bytes", "dl_bytes", "_range_exact", "_sparse",
                 "_cache", "_ckey", "_starts")

    # a selection covering ≥ this fraction of the chain's postings routes
    # through the full-chain cache + run-gather instead of per-block entries
    FULL_FRAC = 0.5

    def __init__(self, blocks, weight_idf: float, avgdl: float,
                 cache: "DecodeCache | None" = None, ckey: tuple | None = None):
        self._cache = cache
        self._ckey = ckey
        if isinstance(blocks, _ChainCols):
            # already block_no-sorted; float op order identical to the
            # pandas branch (max_impact f64 * weight_idf * (1+eps))
            self.ubs = blocks.max_impact * weight_idf * (1.0 + UB_EPS)
            self.min_docs = blocks.min_doc
            self.max_docs = blocks.max_doc
            self.ns = blocks.ns
            self.doc_bytes = blocks.doc_bytes
            self.tf_bytes = blocks.tf_bytes
            self.dl_bytes = blocks.dl_bytes
        else:
            blocks = blocks.sort_values("block_no")  # doc-ordered, disjoint ranges
            self.ubs = blocks["max_impact"].to_numpy(np.float64) * weight_idf * (1.0 + UB_EPS)
            self.min_docs = blocks["min_doc"].to_numpy(np.int64)
            self.max_docs = blocks["max_doc"].to_numpy(np.int64)
            self.ns = blocks["n"].to_numpy(np.int64)
            self.doc_bytes = list(blocks["doc_bytes"])
            self.tf_bytes = list(blocks["tf_bytes"])
            self.dl_bytes = list(blocks["dl_bytes"])
        self.weight_idf = weight_idf
        self.avgdl = avgdl
        self._sparse = None  # lazy range-max sparse table (range_max_ub_vec)
        self._starts = None  # lazy posting offsets per block (full-chain gather)
        # Defensive: block_no order must be doc order with DISJOINT ranges or
        # range_max_ub's searchsorted silently underestimates bounds and
        # block-max pruning drops true top-k docs (e.g. a store mixing
        # several builds without a unit column). Sort by min_doc; if ranges
        # still interleave, every range query must see the global max
        # (single-interval bound) — coarser pruning, never wrong.
        self._range_exact = True
        if len(self.min_docs) > 1:
            if not (self.min_docs[1:] >= self.min_docs[:-1]).all():
                order = np.argsort(self.min_docs, kind="stable")
                self.ubs = self.ubs[order]
                self.min_docs = self.min_docs[order]
                self.max_docs = self.max_docs[order]
                self.ns = self.ns[order]
                self.doc_bytes = [self.doc_bytes[i] for i in order]
                self.tf_bytes = [self.tf_bytes[i] for i in order]
                self.dl_bytes = [self.dl_bytes[i] for i in order]
            if not (
                (self.max_docs[1:] >= self.max_docs[:-1]).all()
                and (self.min_docs[1:] > self.max_docs[:-1]).all()
            ):
                self._range_exact = False  # overlapping ranges

    def range_max_ub(self, lo: int, hi: int) -> float:
        """Max block ub over blocks whose doc range intersects [lo, hi]."""
        if not self._range_exact:
            return float(self.ubs.max()) if len(self.ubs) else 0.0
        i0 = int(np.searchsorted(self.max_docs, lo, side="left"))
        i1 = int(np.searchsorted(self.min_docs, hi, side="right"))
        return float(self.ubs[i0:i1].max()) if i0 < i1 else 0.0

    def range_max_ub_vec(self, lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
        """Vectorized range_max_ub over ARRAYS of [lo, hi] ranges — one
        sparse-table (O(n log n) build, O(1)/query range-max) pass instead of
        a Python call per block, which dominated the block-max prune loop."""
        n = len(self.ubs)
        if n == 0 or not self._range_exact:
            m = float(self.ubs.max()) if n else 0.0
            return np.full(len(lo), m, dtype=np.float64)
        if self._sparse is None:
            tabs = [self.ubs]
            j = 1
            while (1 << j) <= n:
                prev = tabs[-1]
                half = 1 << (j - 1)
                tabs.append(np.maximum(prev[: len(prev) - half], prev[half:]))
                j += 1
            self._sparse = tabs
        i0 = np.searchsorted(self.max_docs, lo, side="left")
        i1 = np.searchsorted(self.min_docs, hi, side="right")
        out = np.zeros(len(lo), dtype=np.float64)
        valid = i0 < i1
        if not valid.any():
            return out
        v0, v1 = i0[valid], i1[valid]
        lev = np.frexp((v1 - v0).astype(np.float64))[1] - 1  # floor(log2)
        res = np.empty(len(v0), dtype=np.float64)
        for L in np.unique(lev):
            m = lev == L
            tab = self._sparse[L]
            sz = 1 << int(L)
            res[m] = np.maximum(tab[v0[m]], tab[v1[m] - sz])
        out[valid] = res
        return out

    def _covers(self, idxs) -> bool:
        """True when `idxs` selects ≥ FULL_FRAC of the chain's postings —
        the head-term shape where per-block cache assembly costs more than
        slicing the memoized full chain."""
        sel = int(self.ns[np.asarray(idxs, dtype=np.int64)].sum())
        return sel >= self.FULL_FRAC * int(self.ns.sum())

    def _gather(self, arrs: tuple, idxs) -> tuple:
        """Slice selected blocks out of full-chain arrays: consecutive block
        ids merge into runs, so an all-but-seed selection is a handful of
        large views instead of 10⁴ small copies."""
        if self._starts is None:
            self._starts = np.concatenate(([0], np.cumsum(self.ns)))
        s = self._starts
        idxs = np.asarray(idxs, dtype=np.int64)
        brk = np.flatnonzero(np.diff(idxs) > 1)
        run_a = idxs[np.concatenate(([0], brk + 1))]
        run_b = idxs[np.concatenate((brk, [len(idxs) - 1]))]
        segs = [(int(s[a]), int(s[b + 1])) for a, b in zip(run_a, run_b)]
        if len(segs) == 1:
            a, b = segs[0]
            return tuple(x[a:b] for x in arrs)
        return tuple(np.concatenate([x[a:b] for a, b in segs]) for x in arrs)

    def decode_raw(self, idxs) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Selected blocks → (doc_ids, tfs, dls), through the decoded-block
        cache when one is attached (serving tier)."""
        if len(idxs) == 0:
            z = np.empty(0, np.int64)
            return z, z, z
        if self._cache is not None:
            if self._covers(idxs):
                full = self._cache.get_full(
                    self._ckey, self.doc_bytes, self.tf_bytes, self.dl_bytes)
                if len(idxs) == len(self.ns):
                    return full
                return self._gather(full, idxs)
            return self._cache.get_many(
                self._ckey, idxs, self.doc_bytes, self.tf_bytes, self.dl_bytes
            )
        return (
            decode_doc_ids_concat([self.doc_bytes[i] for i in idxs])[0].astype(np.int64),
            vb_decode_concat([self.tf_bytes[i] for i in idxs])[0].astype(np.int64),
            vb_decode_concat([self.dl_bytes[i] for i in idxs])[0].astype(np.int64),
        )

    def decode(self, idxs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Selected blocks → (doc_ids, exact BM25 contributions)."""
        if len(idxs) == 0:
            return np.empty(0, np.int64), np.empty(0, np.float64)
        if self._cache is not None and self._covers(idxs):
            # memoized full-chain contributions (bit-identical arithmetic),
            # sliced to the selection — warm head-term queries skip both the
            # per-block assembly AND the per-posting BM25 recompute
            docs, contrib = self._cache.get_scored(
                self._ckey, self.weight_idf, self.avgdl,
                self.doc_bytes, self.tf_bytes, self.dl_bytes)
            if len(idxs) == len(self.ns):
                return docs, contrib
            return self._gather((docs, contrib), idxs)
        docs, tfs, dls = self.decode_raw(idxs)
        tfs = tfs.astype(np.float64)
        dls = dls.astype(np.float64)
        contrib = self.weight_idf * tfs / (tfs + K1 * (1 - B + B * dls / self.avgdl))
        return docs, contrib


def _read_store_meta(store_dir: str | None) -> dict:
    """store_meta.json sidecar (num_shards/sharding/block_size) written by
    the batch build, merge and streaming compaction. Older stores don't have
    one — absence just disables the geometry-aware fast paths."""
    if not store_dir:
        return {}
    try:
        with open(os.path.join(store_dir, "store_meta.json")) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {}


def _aggregate_scores(docs_all: np.ndarray, contribs: np.ndarray,
                      assume_positive: bool = False, stride: int = 1):
    """(uniq_doc_ids, per-doc score sums). Doc ids are DENSE by construction
    (operators/ids assigns 0..N-1), so a weighted bincount — O(n + max_id),
    no sort — replaces unique + scatter-add whenever the id space is
    reasonably dense; both accumulate per input order, so the float sums are
    bit-identical. The unique path stays as the fallback for arbitrary ids.
    The matched set is recovered from an UNWEIGHTED bincount, not from the
    score sums: a caller may zero a field boost (weight_idf = 0), and a doc
    matched only through such a list must still appear with score 0.0 —
    exactly as the unique branch reports it — rather than vanish when the
    dense branch happens to be picked.

    stride: the shard stride for modulo-sharded stores (shard = doc_id % S).
    A single-shard group's ids all share one residue class, so the LOCAL
    index (doc_id - mn) // S is dense over span/S slots — without it a
    10-shard 5M-doc store's head-query groups (len ~1M, raw span 5M) failed
    the density test and fell to the sort path (measured 117 → 277 ms warm
    or2_head going 3 → 10 shards). The residues are verified before use —
    a mixed-residue input (merged/foreign store) falls back rather than
    silently colliding slots — and both branches accumulate in input order,
    so the float sums stay bit-identical whichever branch runs."""
    if not len(docs_all):
        return np.empty(0, np.int64), np.empty(0, np.float64)
    mx = int(docs_all.max())
    mn = int(docs_all.min())
    # span is measured from the slice's own min id: a (shard, unit) scoring
    # group sees ids inside one unit's range (e.g. [4.4M, 5M)), which is
    # dense relative to ITS OWN width even though it fails an origin-based
    # test — without the offset every late-unit group fell to the sort path
    st = max(1, int(stride))
    if st > 1 and mn >= 0:
        span = (mx - mn) // st + 1
        if span <= max(4 * len(docs_all), 1 << 20):
            off, rem = np.divmod(docs_all - mn, st)
            if not rem.any():  # single residue class — stride map is exact
                dense = np.bincount(off, weights=contribs, minlength=span)
                if assume_positive:
                    uniq = np.flatnonzero(dense)
                else:
                    uniq = np.flatnonzero(np.bincount(off, minlength=span))
                return uniq.astype(np.int64) * st + mn, dense[uniq]
    if mn >= 0 and mx - mn + 1 <= max(4 * len(docs_all), 1 << 20):
        off = docs_all - mn if mn else docs_all
        dense = np.bincount(off, weights=contribs, minlength=mx - mn + 1)
        if assume_positive:
            # caller guarantees every contribution > 0 (all weights
            # positive), so nonzero sums ARE the matched set — skip the
            # unweighted counting pass
            uniq = np.flatnonzero(dense)
        else:
            uniq = np.flatnonzero(np.bincount(off, minlength=mx - mn + 1))
        return uniq.astype(np.int64) + mn, dense[uniq]
    uniq, inv = np.unique(docs_all, return_inverse=True)
    scores = np.zeros(len(uniq), dtype=np.float64)
    np.add.at(scores, inv, contribs)
    return uniq, scores


def _topk_order(uniq: np.ndarray, scores: np.ndarray, k: int) -> np.ndarray:
    """Indices of the top-k by (score desc, doc_id asc). O(n) partition to
    the k-th score, then lexsort ONLY the boundary-inclusive candidates —
    float ties at the k-th score all reach the lexsort, so the doc-id
    tie-break is exactly the full-sort's. Falls back to the full lexsort on
    small inputs where partition overhead wouldn't pay."""
    n = len(scores)
    if k <= 0:
        return np.empty(0, np.int64)  # ?k=0 must yield [], not a crash
    if n > max(4 * k, 64):
        kth = np.partition(scores, n - k)[n - k]
        cand = np.flatnonzero(scores >= kth)
        return cand[np.lexsort((uniq[cand], -scores[cand]))[:k]]
    return np.lexsort((uniq, -scores))[:k]


#: above this many posting lists a disjunction is scored exhaustively (TAAT
#: bincount) instead of block-max pruned — see the wide-OR branch below
WIDE_OR_LISTS = 48

#: an OR query whose selected postings exceed this fraction of
#: nterms × n_docs is HEAD-DOMINATED: block-max bounds can prune almost
#: nothing (every block holds near-uniform impacts), so θ bookkeeping plus
#: per-block python overhead dominates — exhaustive TAAT per SHARD (dense
#: bincount over the shard's full doc span) is strictly faster there
TAAT_DENSITY = 0.4

#: the values search_terms and search_local accept for `algorithm`
ALGORITHMS = ("auto", "taat", "wand")


def _check_algorithm(algorithm: str) -> None:
    if algorithm not in ALGORITHMS:
        raise ValueError(f"algorithm must be one of {ALGORITHMS}, got {algorithm!r}")


def _choose_or_algorithm(algorithm: str, sum_df: int, nterms: int, n_docs: int,
                         round_dp: int | None, warm=None) -> str:
    """The one place an OR query's kernel is picked: "taat" (_taat_or) or
    "wand" (_blockmax_or_numpy). Both are exact, so the choice moves cost,
    never rankings. Decided once per QUERY from its Σdf over the (term,
    field) stats — deciding per scoring group would demote a head query to
    the unpruned kernel wherever its per-group slice falls under the
    threshold (measured 7× slower at 5M docs).

    TAAT whenever pruning cannot pay or is not allowed: round_dp (rounding
    under block-max pruning would need inflated bounds), small selections
    (< WAND_MIN_POSTINGS), head-dominated ones (Σdf ≥ TAAT_DENSITY ×
    nterms × n_docs: every block holds near-uniform impacts), and — on the
    serving path — when `warm()` reports every scored chain already in the
    memo, so there is no decode left for block-max to skip (a warm 3-term
    mid-frequency OR at 5M docs measured ~600 ms block-max vs ~30 ms
    TAAT)."""
    if round_dp is not None or algorithm == "taat":
        return "taat"
    if algorithm == "wand":
        return "wand"
    if sum_df < SegmentSearcher.WAND_MIN_POSTINGS \
            or sum_df >= TAAT_DENSITY * nterms * n_docs:
        return "taat"
    if warm is not None and warm():
        return "taat"
    return "wand"


def _taat_or(lists: list["_BlockList"], k: int,
             dead: np.ndarray | None = None,
             round_dp: int | None = None, stride: int = 1) -> list[tuple[int, float]]:
    """Exhaustive term-at-a-time disjunction over whole chains: decode every
    block (full-chain scored memo when cached), one dense aggregate, top-k.
    No pruning — the right plan when pruning can't pay (head-dominated or
    very wide queries)."""
    cache = lists[0]._cache if lists else None
    if cache is not None and all(L._cache is cache for L in lists):
        # serving tier: one BATCHED decode+score pass for every cold chain
        # (see DecodeCache.get_scored_many) instead of a Python call chain
        # per (chain, stream) — the wide-OR cold fill was GIL-bound on that
        # overhead (14 s at 5M docs for a 58-term expansion, measured)
        parts = cache.get_scored_many(
            [(L._ckey, L.weight_idf, L.avgdl,
              L.doc_bytes, L.tf_bytes, L.dl_bytes) for L in lists])
    else:
        parts = [L.decode(np.arange(len(L.ubs))) for L in lists]
    docs_all = np.concatenate([d for d, _ in parts])
    contribs = np.concatenate([c for _, c in parts])
    if dead is not None and len(dead) and len(docs_all):
        alive = ~np.isin(docs_all, dead)
        docs_all, contribs = docs_all[alive], contribs[alive]
    uniq, scores = _aggregate_scores(
        docs_all, contribs,
        # every chain weight strictly positive → every contribution is > 0,
        # so the score sums themselves identify the matched set and the
        # second (unweighted) bincount pass can be skipped
        assume_positive=all(L.weight_idf > 0 for L in lists),
        stride=stride,
    )
    if round_dp is not None:
        scores = np.round(scores, round_dp)  # BEFORE the cut (tie-break contract)
    order = _topk_order(uniq, scores, k)
    return [(int(uniq[i]), float(scores[i])) for i in order]


def _blockmax_or_numpy(lists: list[_BlockList], k: int,
                       dead: np.ndarray | None = None,
                       stride: int = 1) -> list[tuple[int, float]]:
    """Vectorized block-max disjunctive top-k (exact scores) — the WAND
    replacement whose inner work is numpy over whole blocks, not per-posting
    Python:

    1. SEED: decode the globally highest-ub blocks until ≥ ~4k postings are
       in hand; scatter-add partials; θ = k-th best partial score (a valid
       lower bound of the true k-th best).
    2. PRUNE: a remaining block b (list L, doc range [lo,hi]) can only matter
       if ub_b + Σ_{L'≠L} max-ub of L' blocks overlapping [lo,hi] ≥ θ. Blocks
       below θ are skipped WITHOUT decoding. A skipped block only contains
       docs whose total score < θ, so they can never enter the top-k — partial
       scores they may get from decoded blocks stay < θ too. Exactness holds.
    3. SCORE: decode survivors, scatter-add everything, lexsort top-k.
    """
    lists = [L for L in lists if len(L.ubs)]
    if not lists:
        return []
    if len(lists) > WIDE_OR_LISTS:
        # Very wide disjunctions (fuzzy/prefix expansions): partial seed
        # scores sit far below the true k-th total, so θ prunes almost
        # nothing and the bound bookkeeping dominates. Exhaustive TAAT over
        # whole chains is both faster and hits the full-chain decode memo.
        return _taat_or(lists, k, dead=dead, stride=stride)
    # ---- seed: globally top-ub blocks until ~4k postings are decoded ------
    owner = np.concatenate([np.full(len(L.ubs), li, np.int64) for li, L in enumerate(lists)])
    bidx = np.concatenate([np.arange(len(L.ubs), dtype=np.int64) for L in lists])
    ubs_all = np.concatenate([L.ubs for L in lists])
    ns_all = np.concatenate([L.ns for L in lists])
    order = np.argsort(-ubs_all, kind="stable")
    target = max(4 * k, 4096)
    csum = np.cumsum(ns_all[order])
    n_seed = int(np.searchsorted(csum, target, side="left")) + 1
    seed_mask = np.zeros(len(ubs_all), dtype=bool)
    seed_mask[order[:n_seed]] = True

    docs_parts: list[np.ndarray] = []
    contrib_parts: list[np.ndarray] = []
    for li, L in enumerate(lists):
        sel = bidx[(owner == li) & seed_mask]
        d, c = L.decode(np.sort(sel))
        docs_parts.append(d)
        contrib_parts.append(c)

    def topk_from(parts_d, parts_c):
        docs_all = np.concatenate(parts_d)
        contribs = np.concatenate(parts_c)
        if dead is not None and len(dead) and len(docs_all):
            alive = ~np.isin(docs_all, dead)
            docs_all, contribs = docs_all[alive], contribs[alive]
        return _aggregate_scores(docs_all, contribs, stride=stride)

    uniq, scores = topk_from(docs_parts, contrib_parts)
    if len(uniq) >= k:
        theta = float(np.partition(scores, -k)[-k])
    else:
        theta = -np.inf

    # ---- prune + score survivors ------------------------------------------
    if np.isfinite(theta):
        # Bound for block b of list L: ub_b + Σ_{O≠L} range-max of O over
        # b's doc range. Σ_{O≠L} rm_O = (Σ_all rm_O) − rm_L, so instead of a
        # range query per (L, O) PAIR — O(L²) calls, the dominant cost on
        # many-list queries like fuzzy expansions (~230 lists → 160k calls) —
        # gather every needy block across all lists and answer with ONE
        # batched query per list, accumulating the total and remembering each
        # owner's own contribution. Identical bound, O(L) calls.
        rest_by: list[np.ndarray] = []
        lo_p, hi_p, owner_p, ub_p = [], [], [], []
        for li, L in enumerate(lists):
            rest = bidx[(owner == li) & ~seed_mask]
            need = L.ubs[rest] < theta  # alone it can't reach θ — needs help
            rest_by.append(rest[~need])  # survives unconditionally
            if need.any():
                lo_p.append(L.min_docs[rest[need]])
                hi_p.append(L.max_docs[rest[need]])
                ub_p.append(L.ubs[rest[need]])
                owner_p.append(np.full(int(need.sum()), li, np.int64))
                rest_by[li] = (rest[~need], rest[need])
        if lo_p:
            lo_all = np.concatenate(lo_p)
            hi_all = np.concatenate(hi_p)
            ub_all = np.concatenate(ub_p)
            owner_all = np.concatenate(owner_p)
            total = np.zeros(len(lo_all), dtype=np.float64)
            own = np.zeros(len(lo_all), dtype=np.float64)
            for lj, O in enumerate(lists):
                rm = O.range_max_ub_vec(lo_all, hi_all)
                total += rm
                m = owner_all == lj
                if m.any():
                    own[m] = rm[m]
            needy_keep = ub_all + total - own >= theta
        for li, L in enumerate(lists):
            entry = rest_by[li]
            if isinstance(entry, tuple):
                sure, needy = entry
                keep = np.concatenate((sure, needy[needy_keep[owner_all == li]]))
            else:
                keep = entry
            if not len(keep):
                continue
            d, c = L.decode(np.sort(keep))
            docs_parts.append(d)
            contrib_parts.append(c)
    else:
        for li, L in enumerate(lists):
            rest = bidx[(owner == li) & ~seed_mask]
            d, c = L.decode(np.sort(rest))
            docs_parts.append(d)
            contrib_parts.append(c)

    uniq, scores = topk_from(docs_parts, contrib_parts)
    order = _topk_order(uniq, scores, k)
    return [(int(uniq[i]), float(scores[i])) for i in order]


def _merge_intervals(los: np.ndarray, his: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Union of [lo, hi] intervals → disjoint sorted intervals (vectorized)."""
    order = np.argsort(los, kind="stable")
    los, his = los[order], his[order]
    runmax = np.maximum.accumulate(his)
    new = np.concatenate(([True], los[1:] > runmax[:-1]))
    return los[new], np.maximum.reduceat(his, np.flatnonzero(new))


#: per-GROUP full-decode ceiling for the dense AND path: below it, decoding
#: every chain through the scored-chain memo (one batched pass, then pure
#: cache hits) beats block-interval pruning — the pruning path re-runs its
#: per-block Python every query even when fully warm (measured 426 ms warm
#: vs ~30 ms dense for head∧mid∧tail at 5M docs / 10 shards)
AND_DENSE_MAX_POSTINGS = 2_000_000


def _dense_and(blists_by_term: dict[str, list["_BlockList"]], k: int,
               dead: np.ndarray | None, round_dp: int | None,
               stride: int, cache: "DecodeCache") -> list | None:
    """AND top-k over fully-memoized scored chains, on dense LOCAL slots
    ((doc - mn) // stride — valid because one scoring group holds one shard's
    single residue class): a per-term presence vector, an == nterms mask,
    and per-chain contribution adds in the SAME chain order and with the
    SAME float expression as _intersect_and_blocks — bit-identical scores.
    Returns None (caller falls back to block-interval pruning) when the id
    space disproves the stride assumption or is too sparse for dense
    vectors."""
    entries = [(L._ckey, L.weight_idf, L.avgdl, L.doc_bytes, L.tf_bytes, L.dl_bytes)
               for ls in blists_by_term.values() for L in ls]
    parts = cache.get_scored_many(entries)
    flat: list = []
    i = 0
    mn, mx, total = None, None, 0
    for t, ls in blists_by_term.items():
        per_term = []
        for _L in ls:
            d, c = parts[i]
            i += 1
            if dead is not None and len(dead) and len(d):
                alive = ~np.isin(d, dead)
                d, c = d[alive], c[alive]
            if len(d):
                mn = int(d[0]) if mn is None else min(mn, int(d[0]))
                mx = int(d[-1]) if mx is None else max(mx, int(d[-1]))
                total += len(d)
            per_term.append((d, c))
        if all(len(d) == 0 for d, _ in per_term):
            return []  # a term with zero live postings in this group → empty AND
        flat.append(per_term)
    st = max(1, int(stride))
    span = (mx - mn) // st + 1
    if span > max(4 * total, 1 << 20):
        return None  # too sparse for dense vectors — pruning path instead
    nterms = len(blists_by_term)
    cnt = np.zeros(span, dtype=np.uint8 if nterms < 255 else np.int64)
    slots_by = []
    for per_term in flat:
        tb = np.zeros(span, dtype=bool)
        tslots = []
        for d, c in per_term:
            if not len(d):
                tslots.append(None)
                continue
            off, rem = np.divmod(d - mn, st)
            if rem.any():
                return None  # mixed residues: stride assumption is false here
            tb[off] = True
            tslots.append(off)
        slots_by.append(tslots)
        cnt += tb
    matched = cnt == nterms
    if not matched.any():
        return []
    dense = np.zeros(span, dtype=np.float64)
    for per_term, tslots in zip(flat, slots_by):
        for (d, c), off in zip(per_term, tslots):
            if off is not None:
                dense[off] += c  # unique slots within a chain → plain fancy add
    slots = np.flatnonzero(matched)
    docs = slots.astype(np.int64) * st + mn
    scores = dense[slots]
    if round_dp is not None:
        scores = np.round(scores, round_dp)
    order = _topk_order(docs, scores, k)
    return [(int(docs[i]), float(scores[i])) for i in order]


def _intersect_and_blocks(blists_by_term: dict[str, list[_BlockList]], k: int,
                          dead: np.ndarray | None = None,
                          round_dp: int | None = None) -> list[tuple[int, float]]:
    """AND semantics (minimum_should_match 100%) with block-interval
    pruning: a doc in the intersection must lie inside some block of EVERY
    query term, so a block of term t whose doc range overlaps no block range
    of some other term can be skipped without decoding. For rare-term ∧
    head-term queries this skips most of the head term's blocks — the
    dominant AND shape at scale. Decoded survivors then go through a
    sorted-merge intersection of per-term doc sets (union across fields per
    term) and exact scoring — the posting-intersection join J1
    (SURVEY.md §2.3)."""
    # disjoint merged intervals per TERM (union over its field/unit lists)
    merged = {}
    for t, ls in blists_by_term.items():
        los = np.concatenate([L.min_docs for L in ls])
        his = np.concatenate([L.max_docs for L in ls])
        if not len(los):
            return []
        merged[t] = _merge_intervals(los, his)

    # term → [(docs, tfs, dls, list)] over the surviving blocks
    decoded: dict[str, list] = {}
    for t, ls in blists_by_term.items():
        others = [merged[o] for o in merged if o != t]
        for L in ls:
            keep = np.ones(len(L.ubs), dtype=bool)
            for m_lo, m_hi in others:
                # block [lo,hi] overlaps some interval iff the first interval
                # with m_hi >= lo exists and starts at or before hi
                idx = np.searchsorted(m_hi, L.min_docs, side="left")
                ok = idx < len(m_lo)
                ok[ok] &= m_lo[np.minimum(idx[ok], len(m_lo) - 1)] <= L.max_docs[ok]
                keep &= ok
                if not keep.any():
                    break
            idxs = np.flatnonzero(keep)
            if len(idxs) == 0:
                docs = tfs = dls = np.empty(0, np.int64)
            else:
                docs, tfs, dls = L.decode_raw(idxs)
                if dead is not None and len(dead) and len(docs):
                    alive = ~np.isin(docs, dead)
                    docs, tfs, dls = docs[alive], tfs[alive], dls[alive]
                if len(docs) > 1 and not (docs[1:] > docs[:-1]).all():
                    # defensive: a chain whose block_no order is not doc
                    # order would break the searchsorted probes below
                    order = np.argsort(docs, kind="stable")
                    docs, tfs, dls = docs[order], tfs[order], dls[order]
            decoded.setdefault(t, []).append((docs, tfs, dls, L))
    if not decoded:
        return []
    term_docs = [ps[0][0] if len(ps) == 1 else np.unique(np.concatenate([p[0] for p in ps]))
                 for ps in decoded.values()]
    common = term_docs[0]
    for d in sorted(term_docs[1:], key=len):
        common = common[np.isin(common, d, assume_unique=True)]
        if len(common) == 0:
            return []
    scores = np.zeros(len(common), dtype=np.float64)
    for ps in decoded.values():
        for docs, tfs, dls, L in ps:
            if len(docs) == 0:
                continue
            pos = np.clip(np.searchsorted(docs, common), 0, len(docs) - 1)
            hit = docs[pos] == common
            tf = tfs[pos[hit]].astype(np.float64)
            dl = dls[pos[hit]].astype(np.float64)
            scores[hit] += L.weight_idf * tf / (tf + K1 * (1 - B + B * dl / L.avgdl))
    if round_dp is not None:
        scores = np.round(scores, round_dp)
    order = _topk_order(common, scores, k)
    return [(int(common[i]), float(scores[i])) for i in order]


def _score_shard_rows(pdf: pd.DataFrame, widf: dict, avgdl: dict, mode: str, k: int,
                      nterms: int, algorithm: str, dead, round_dp,
                      stride: int = 1) -> list:
    """Block rows of ONE shard → top-k [(doc_id, score)] — the distributed
    path's applyInPandas body, scoring through the same _score_chains as
    the driver-side serving path, so both return identical rankings."""
    if len(pdf) == 0:
        return []
    # Stores written unit-by-unit (plans/build_index.py) reuse block_no
    # ranges across units with overlapping doc ranges; each unit's chain IS
    # doc-sorted, so build one list per (term, field, unit) — every scorer
    # handles multiple lists per term.
    gcols = ["term", "field", "unit"] if "unit" in pdf.columns else ["term", "field"]
    groups = []
    for gkey, g in pdf.groupby(gcols, sort=False):
        key = (gkey[0], int(gkey[1]))
        if key in widf:
            groups.append((key[0], _BlockList(g, widf[key], avgdl[key])))
    return _score_chains(groups, mode, k, nterms, algorithm, dead, round_dp,
                         stride=stride)


def _score_chains(groups: list[tuple[str, _BlockList]], mode: str, k: int,
                  nterms: int, algorithm: str, dead, round_dp,
                  stride: int = 1) -> list:
    """Core scorer over one scoring group's (term, _BlockList) chains. OR
    queries run the kernel the caller resolved through _choose_or_algorithm
    ("taat" or "wand"); AND queries ignore it. The serving tier feeds
    MEMOIZED _BlockList views (attached to its DecodeCache) straight from
    its per-term chain cache, so the block-metadata extraction is paid once
    per chain instead of once per query."""
    if not groups:
        return []
    if mode == "and":
        # block-interval pruning: skip decoding blocks that overlap no block
        # range of some other query term
        blists_by_term: dict[str, list[_BlockList]] = {}
        for t, L in groups:
            blists_by_term.setdefault(t, []).append(L)
        if len(blists_by_term) < nterms:
            return []
        cache = groups[0][1]._cache
        if cache is not None and \
                sum(int(L.ns.sum()) for _, L in groups) <= AND_DENSE_MAX_POSTINGS:
            # serving tier, cache-sized selection: dense AND over the scored
            # chain memos (see _dense_and) — warm queries are pure gathers
            res = _dense_and(blists_by_term, k, dead, round_dp, stride, cache)
            if res is not None:
                return res
        return _intersect_and_blocks(blists_by_term, k, dead=dead, round_dp=round_dp)
    lists = [L for _, L in groups]
    if algorithm == "wand":
        # vectorized block-max scorer: decodes only blocks whose interval
        # bound can beat θ (numpy-blocked, no per-posting loop)
        return _blockmax_or_numpy(lists, k, dead=dead, stride=stride)
    # exhaustive disjunction: every chain fully decoded (through the
    # scored-chain memo on the serving tier), ONE dense aggregate per group
    return _taat_or(lists, k, dead=dead, round_dp=round_dp, stride=stride)


class SegmentSearcher:
    """Query engine over a (written or in-memory) segment store."""

    def __init__(self, segments: DataFrame, tstats: DataFrame, cstats: DataFrame,
                 boosts: dict[int, float] | None = None,
                 tombstones: list[int] | None = None,
                 store_dir: str | None = None):
        self.segments = segments
        self.tstats = tstats
        self.cstats = cstats
        self.boosts = boosts if boosts is not None else dict(DEFAULT_BOOSTS)
        # deleted doc ids (soft-delete until next rebuild, like ES/Lucene
        # per-segment delete bitmaps — kept driver-side, |deletes| << corpus)
        self.tombstones = sorted(set(tombstones)) if tombstones else []
        # physical store path (written stores) — enables the no-Spark-job
        # serving path (search_local)
        self.store_dir = store_dir
        # shard stride (= the store's num_shards under modulo sharding),
        # from store_meta.json when the store carries one. Lets single-shard
        # scoring groups aggregate into DENSE local slots ((id-mn)//S) at
        # any shard count — None/1 keeps the raw-id density test, which is
        # what in-memory and legacy stores get.
        self.num_shards: int | None = _read_store_meta(store_dir).get("num_shards") \
            if store_dir is not None else None
        self._warm_thread = None
        # serving-tier memory posture is DEFERRED to the first search_local
        # call: the allocator flip (trim/mmap disabled → freed memory
        # retained for the process lifetime) and the multi-GB arena
        # pre-touch only benefit the driver-side serving path, and a
        # searcher constructed for DISTRIBUTED queries (load_searcher →
        # search_terms, scoring runs in executors) must not spend tens of
        # seconds of background faulting and pin ~12% of the Spark driver's
        # RAM for a path it never runs. open_local — the serving
        # constructor — applies it eagerly at open instead.
        self._mem_deferred = store_dir is not None
        self._coll: dict | None = None
        self._tstats_cache: dict | None = None
        # per-term memo for the no-prepare() path: repeat queries never
        # re-read the tstats parquet; missing terms are remembered too
        import threading

        self._term_memo: dict[tuple[str, int], float | None] = {}
        self._memo_lock = threading.Lock()
        self._pds: dict[str, object] = {}
        self._decode_cache: DecodeCache | None = None  # built on first search_local
        self._pool = None  # lazy shard-parallel scoring pool (search_local)
        import collections

        self._seg_chains: "collections.OrderedDict[str, list]" = collections.OrderedDict()
        self._seg_bytes = 0
        self._seg_costs: dict[str, int] = {}

    def prepare(self) -> "SegmentSearcher":
        """Collect the term-stats dictionary once (one job) so every query
        afterwards is a single Spark job. Appropriate while the vocabulary
        fits the driver (tens of millions of terms); beyond that, skip
        prepare() and each query pays one extra tiny lookup job instead."""
        self._tstats_cache = {
            (r["term"], r["field"]): r["df"] for r in self.tstats.collect()
        }
        self._collection()
        return self

    def _collection(self) -> dict:
        if self._coll is None:
            self._coll = {r["field"]: (r["n_docs"], r["avgdl"]) for r in self.cstats.collect()}
        return self._coll

    # -- bounded per-term dictionary cache (the no-prepare path) --------------
    # With a tb-partitioned + term-sorted tstats store, cold terms cost one
    # directory- and row-group-pruned read; hot terms hit this LRU. The cap
    # bounds serving-tier memory at ANY vocabulary size (10⁹ terms never load).
    TERM_MEMO_CAP = 200_000
    # serving-tier decoded-block cache bound (postings; ~24 B each). RAM-
    # derived (page-cache sizing, see _default_decode_cache_postings): the
    # fixed 16M floor covers four 1M-df head terms' full+scored chains, but a
    # box serving a 5M-doc shard needs ~40M for the same query shape or warm
    # queries re-decode everything (measured: warm == cold at 5M docs with
    # the 16M cap). Instance/class override and env var both respected.
    DECODE_CACHE_POSTINGS = _default_decode_cache_postings()

    def _memo_put_locked(self, key, val) -> None:
        """Caller holds self._memo_lock."""
        memo = self._term_memo
        memo.pop(key, None)
        memo[key] = val  # dicts iterate in insertion order → eviction order
        if len(memo) > self.TERM_MEMO_CAP:
            memo.pop(next(iter(memo)))

    def _memo_stats(self, terms: list[str], fields: list[int], read_rows) -> dict:
        """(term, field) → df for the query's terms, via the LRU memo;
        read_rows(missing_terms) resolves cold terms from the backing store
        (Spark or pyarrow — both prune on tb before reading rows). Missing
        terms are remembered as None so repeat misses cost nothing. The
        serving tier is threaded, so memo state mutates only under the lock,
        and this request's answer comes from ONE locked snapshot plus its own
        read — a concurrent eviction can cost a re-read, never a wrong df."""
        vals: dict[tuple, float | None] = {}
        missing: list[str] = []
        with self._memo_lock:
            memo = self._term_memo
            for t in terms:
                keys = [(t, f) for f in fields]
                if all(k in memo for k in keys):
                    for kk in keys:
                        v = memo.pop(kk)  # touch: re-insert at LRU tail
                        memo[kk] = v
                        vals[kk] = v
                else:
                    missing.append(t)
        if missing:
            found = {(t, int(f)): d for t, f, d in read_rows(missing)}
            for t in missing:
                for f in fields:
                    vals[(t, f)] = found.get((t, f))
            with self._memo_lock:
                for t in missing:
                    for f in fields:
                        self._memo_put_locked((t, f), vals[(t, f)])
        return {k: v for k, v in vals.items() if v is not None}

    def tstats_lookup_df(self, missing: list[str], fields: list[int]) -> DataFrame:
        """The cold-term dictionary lookup as a DataFrame: term + field
        filters pushed to the scan, plus tb directory pruning on written
        stores (plan-asserted in tests/test_plans.py)."""
        q = self.tstats.filter(
            F.col("term").isin(missing) & F.col("field").isin(fields)
        )
        if "tb" in self.tstats.columns:
            from ..functions.hashing import term_buckets

            q = q.filter(F.col("tb").isin(term_buckets(missing)))
        return q.select("term", "field", "df")

    def _read_tstats_spark(self, missing: list[str], fields: list[int]):
        return [(r["term"], r["field"], r["df"])
                for r in self.tstats_lookup_df(missing, fields).collect()]

    def _read_tstats_local(self, missing: list[str], fields: list[int]):
        import pyarrow.dataset as pds

        from ..functions.hashing import term_buckets

        ds = self._dataset("tstats")
        flt = pa_points_filter("term", missing) & pds.field("field").isin(sorted(fields))
        if "tb" in ds.schema.names:
            flt = flt & pds.field("tb").isin(term_buckets(missing))
        tt = ds.to_table(filter=flt, columns=["term", "field", "df"])
        return zip(tt["term"].to_pylist(), tt["field"].to_pylist(), tt["df"].to_pylist())

    # below this many selected postings (a query's Σdf) an OR query is
    # scored by exhaustive TAAT; above it the block-max scorer's skipped
    # decodes pay off (BENCH/wand_micro.json measured the crossover against
    # the retired exact scan: parity at ~0.8M, widening with size)
    WAND_MIN_POSTINGS = 500_000
    #: below this many selected postings a query is scored in shard-only
    #: groups — finer (shard, unit) fan-out only pays once chains are big
    #: (per-group fixed overhead + per-group θ convergence both cost; at 1M
    #: docs a 0.8M-posting mid query measured 146 ms in 3 shard groups vs
    #: 218 ms in 12 (shard, unit) groups)
    PER_UNIT_MIN_POSTINGS = 2_000_000
    #: ... and even above that total, only when the AVERAGE fine group
    #: clears this many postings — per-group cost must be numpy-dominated
    #: for the finer fan-out (and the pool) to pay
    FINE_GROUP_MIN_POSTINGS = 200_000
    #: below this many selected postings PER SCORING GROUP, search_local
    #: scores the groups serially in the calling thread: the work is then
    #: GIL-held Python (chain/frame bookkeeping), and a thread-pool fan-out
    #: is a convoy, not a speedup (see the routing comment in search_local)
    POOL_MIN_POSTINGS = 300_000

    def search_terms(self, terms: list[str], k: int = 20, mode: str = "and",
                     algorithm: str = "auto", offset: int = 0,
                     round_dp: int | None = None) -> DataFrame:
        """offset: pagination (ES from+size) — each shard returns its top
        (offset+k), which provably contains the global rows offset..offset+k
        (shards partition docs disjointly), then the merge skips offset.
        round_dp: boundary-stable mode — scores are rounded BEFORE every
        top-k cut (per shard and at the merge) so ties break by doc_id
        exactly like a rounded-score oracle; OR queries route to TAAT
        (rounding under block-max pruning would need inflated bounds).
        algorithm: "auto", "taat" or "wand" (OR queries; see
        _choose_or_algorithm) — anything else raises ValueError."""
        _check_algorithm(algorithm)
        if offset:
            inner = self.search_terms(terms, k=offset + k, mode=mode, algorithm=algorithm,
                                      round_dp=round_dp)
            return inner.orderBy(F.col("score").desc(), F.col("doc_id").asc()).offset(offset).limit(k)
        terms = sorted(set(terms))
        spark = self.segments.sparkSession
        fields = sorted(self.boosts)
        # tiny driver lookups: |q|·|fields| idf rows + |fields| collection stats
        if self._tstats_cache is not None:
            stats = {
                (t, f): self._tstats_cache[(t, f)]
                for t in terms for f in fields if (t, f) in self._tstats_cache
            }
        else:
            stats = self._memo_stats(terms, fields,
                                     lambda m: self._read_tstats_spark(m, fields))
        coll = self._collection()
        if mode == "and":
            # a term absent from every field can never satisfy AND
            present = {t for (t, f) in stats}
            if set(terms) - present:
                return spark.createDataFrame([], "doc_id long, score double")
        widf = {}
        avgdl = {}
        for (t, f), df_ in stats.items():
            n = float(coll[f][0])
            widf[(t, f)] = self.boosts[f] * math.log(1.0 + (n - df_ + 0.5) / (df_ + 0.5))
            avgdl[(t, f)] = float(coll[f][1])
        b_widf = spark.sparkContext.broadcast(widf)
        b_avgdl = spark.sparkContext.broadcast(avgdl)
        b_dead = (
            spark.sparkContext.broadcast(np.asarray(self.tombstones, dtype=np.int64))
            if self.tombstones else None
        )
        boosts = self.boosts
        nterms = len(terms)
        if mode != "and":
            # resolved once per QUERY on the driver, not per shard group
            algorithm = _choose_or_algorithm(
                algorithm, sum(stats.values()), nterms,
                max((coll[f][0] for f in fields if f in coll), default=0), round_dp)

        matched = self.segments.filter(
            F.col("term").isin(terms) & F.col("field").isin(list(boosts))
        )
        if "tb" in self.segments.columns:
            # written stores carry the md5 term-bucket PARTITION column —
            # directory-level pruning before any row is read
            from ..functions.hashing import term_buckets

            matched = matched.filter(F.col("tb").isin(term_buckets(terms)))

        stride = self.num_shards or 1

        def run_shard(pdf: pd.DataFrame) -> pd.DataFrame:
            dead = b_dead.value if b_dead is not None else None
            top = _score_shard_rows(pdf, b_widf.value, b_avgdl.value, mode, k,
                                    nterms, algorithm, dead, round_dp, stride=stride)
            return pd.DataFrame(top, columns=["doc_id", "score"]).astype(
                {"doc_id": "int64", "score": "float64"})

        per_shard = matched.groupBy("shard").applyInPandas(run_shard, schema="doc_id long, score double")
        return per_shard.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)

    # -- driver-side serving path (no Spark job) ------------------------------

    @classmethod
    def open_local(cls, store_dir: str, boosts: dict[int, float] | None = None) -> "SegmentSearcher":
        """Open a written store WITHOUT a SparkSession — the serving-tier
        constructor (scripts/serve.py): term stats + collection stats +
        tombstones load via pyarrow/json, queries run through search_local
        only. Startup is file reads, not a JVM."""
        import pyarrow.dataset as pds

        obj = cls.__new__(cls)
        obj.segments = None
        obj.tstats = None
        obj.cstats = None
        obj.boosts = boosts if boosts is not None else dict(DEFAULT_BOOSTS)
        obj.store_dir = store_dir
        obj.num_shards = _read_store_meta(store_dir).get("num_shards")
        tpath = os.path.join(store_dir, "tstats")
        if any(e.startswith("tb=") for e in os.listdir(tpath)):
            # vocabulary-scale layout (tb-partitioned, term-sorted): open
            # WITHOUT materializing the dictionary — each query resolves its
            # terms through a pruned read + the bounded LRU memo. Serving-tier
            # RAM is O(memo cap), not O(vocabulary).
            obj._tstats_cache = None
        else:
            # legacy flat layout: no pruned access path exists, so eager-load
            # once (bounded only by the store's actual vocabulary)
            tt = pds.dataset(tpath).to_table()
            obj._tstats_cache = {
                (t, int(f)): d
                for t, f, d in zip(tt["term"].to_pylist(), tt["field"].to_pylist(),
                                   tt["df"].to_pylist())
            }
        with open(os.path.join(store_dir, "cstats.json")) as fh:
            obj._coll = {r["field"]: (r["n_docs"], r["avgdl"]) for r in json.load(fh)}
        ts_path = os.path.join(store_dir, "tombstones")
        obj.tombstones = []
        if os.path.isdir(ts_path):
            tt = pds.dataset(ts_path).to_table()
            if "doc_id" in tt.column_names:
                obj.tombstones = sorted(set(tt["doc_id"].to_pylist()))
            # else: a delete-docs writer is mid-commit (only _temporary files
            # exist, which pyarrow ignores → empty schema). Serve the
            # pre-delete view; the serving tier's generation check reopens
            # the store the moment the committed files land.
        import threading

        obj._term_memo = {}
        obj._memo_lock = threading.Lock()
        obj._pds = {}
        obj._decode_cache = None
        obj._pool = None
        import collections

        obj._seg_chains = collections.OrderedDict()
        obj._seg_bytes = 0
        obj._seg_costs = {}
        # same startup pre-touch as the Spark-backed constructor (this path
        # skips __init__): pay the ~5.4 s/GB fault cost at open, off the
        # query path. Async — join via warm() before taking traffic.
        from ..functions import mem

        mem.enable_heap_reuse()
        mem.retain_arrow_memory()
        obj._warm_thread = mem.startup_warm(store_dir)
        obj._mem_deferred = False  # posture applied eagerly just above
        return obj

    def _ensure_serving_posture(self) -> None:
        """Apply the serving-tier memory posture on FIRST serving use of a
        Spark-constructed searcher (allocator heap-reuse + async arena
        pre-touch — see __init__'s deferral rationale; measured 3.4 s vs
        10-22 s warm on a 58-chain fuzzy OR at 5M docs without it, and a
        truly-cold 5M first query was 57 s of which ~26 s was mid-query
        arena faulting). open_local applies the same posture eagerly, so
        this is a no-op on serving-tier searchers."""
        if not getattr(self, "_mem_deferred", False):
            return
        with self._memo_lock:
            if not self._mem_deferred:
                return
            from ..functions import mem

            mem.enable_heap_reuse()
            mem.retain_arrow_memory()
            self._warm_thread = mem.startup_warm(self.store_dir)
            self._mem_deferred = False

    def warm(self) -> "SegmentSearcher":
        """Block until the startup arena pre-touch finishes (serving
        processes call this before binding the port; benches call it so
        per-query numbers reflect a warmed server, with the warm cost
        reported separately)."""
        t = getattr(self, "_warm_thread", None)
        if t is not None:
            t.join()
            self._warm_thread = None
        return self

    def _dataset(self, rel: str):
        """Memoized pyarrow dataset handle for <store>/<rel> — discovery
        (file listing + partition inference) costs ~10 ms on a 256-file store
        and would otherwise be paid on EVERY serving query. The serving tier
        reopens the searcher on a store-generation change (scripts/serve.py),
        so a cached handle can never go stale."""
        import pyarrow.dataset as pds

        if rel not in self._pds:
            ds = pds.dataset(os.path.join(self.store_dir, rel), partitioning="hive")
            # mixed-width block_no guard: a store whose units were written
            # both before and after the int32→int64 block_no widening holds
            # both parquet types under one dataset, and pds.dataset() adopts
            # the FIRST fragment's schema — if that happens to be an int32
            # unit, the int64 fragments would fail (or unsafely downcast) at
            # scan time. Pin the dataset schema to int64; int32 fragments
            # upcast losslessly.
            import pyarrow as pa

            if "block_no" in ds.schema.names and pa.types.is_int32(
                ds.schema.field("block_no").type
            ):
                idx = ds.schema.get_field_index("block_no")
                ds = pds.dataset(
                    os.path.join(self.store_dir, rel), partitioning="hive",
                    schema=ds.schema.set(idx, pa.field("block_no", pa.int64())),
                )
            self._pds[rel] = ds
        return self._pds[rel]

    def search_local(self, terms: list[str], k: int = 20, mode: str = "and",
                     algorithm: str = "auto", offset: int = 0,
                     round_dp: int | None = None) -> list[tuple[int, float]]:
        """Query-in-flight wrapper around the serving read path: marks the
        query active so the background arena top-up yields the memory bus
        (functions/mem), and fires the idle-time top-up AFTER the active
        mark drops — launching it before query_end would make it abort
        against our own query. Rejects an `algorithm` outside ALGORITHMS
        before any read."""
        from ..functions import mem

        _check_algorithm(algorithm)
        self._ensure_serving_posture()
        with mem.admission():  # bounded execution width (see mem.admission)
            mem.query_begin()
            try:
                return self._search_local_impl(terms, k=k, mode=mode,
                                               algorithm=algorithm, offset=offset,
                                               round_dp=round_dp)
            finally:
                mem.query_end()
                # idle-time arena re-warm: cache growth during THIS query
                # consumed free hot pages; restore the free-arena target in
                # the background so the next distinct query doesn't fault at
                # ~5.4 s/GB. No-op while OTHER queries remain in flight
                # (functions/mem) — the last one to end re-arms it.
                mem.topup_async()

    def _search_local_impl(self, terms: list[str], k: int = 20, mode: str = "and",
                           algorithm: str = "auto", offset: int = 0,
                           round_dp: int | None = None) -> list[tuple[int, float]]:
        """The serving-tier read path: identical ranking to search_terms, but
        executed entirely driver-side — a pyarrow dataset read of the
        directory-pruned store (tb partition filter + term row-group
        predicate) feeding the same per-shard numpy scorers. No Spark job, so
        latency is file-read + decode (ms), not job scheduling (~1 s floor).

        This is how the 1000-executor picture serves queries too: the INDEX
        is built by Spark; point reads hit the layout directly (the reference
        serves from ES while ingest writes to it, web/app.py:26-43). Requires
        a written store (store_dir set — load_searcher does)."""
        if self.store_dir is None:
            raise ValueError("search_local needs a written store (store_dir)")
        import pyarrow.dataset as pds

        terms = sorted(set(terms))
        fields = sorted(self.boosts)
        if self._tstats_cache is not None:
            stats = {
                (t, f): self._tstats_cache[(t, f)]
                for t in terms for f in fields if (t, f) in self._tstats_cache
            }
        else:
            stats = self._memo_stats(terms, fields,
                                     lambda m: self._read_tstats_local(m, fields))
        if self._coll is None:
            with open(os.path.join(self.store_dir, "cstats.json")) as fh:
                self._coll = {r["field"]: (r["n_docs"], r["avgdl"]) for r in json.load(fh)}
        coll = self._coll
        if mode == "and" and set(terms) - {t for (t, f) in stats}:
            return []
        widf, avgdl = {}, {}
        for (t, f), df_ in stats.items():
            n = float(coll[f][0])
            widf[(t, f)] = self.boosts[f] * math.log(1.0 + (n - df_ + 0.5) / (df_ + 0.5))
            avgdl[(t, f)] = float(coll[f][1])

        # fault the heap arena for the cold decode BEHIND the Arrow chain
        # read (same overlap as the phrase fill): a cold wide-OR expansion
        # decodes Σdf postings into fresh numpy arrays (scored memos
        # ~16 B/posting + transient decode buffers), and this box touches
        # anonymous pages at ~1.3-1.6 s/GB even on 16 threads. Sized to the
        # terms whose chains are NOT already cached — the old Σdf-over-ALL-
        # terms target (×96, 10 GB cap) re-fired on every warm query once
        # the caches legitimately owned the arena (free < target forever),
        # and its join made a 10 GB shortfall a ~13 s SYNCHRONOUS stall on
        # cold queries after a heavy phrase class (measured: bench cold
        # fuzzy 15.4 s of which the scan was 3.8 s). The 2 GB cap bounds
        # the worst post-scan wait to ~1 s; deeper misses fault inline in
        # the GIL-released decode kernels at the same serialized rate.
        from ..functions import mem

        est_miss = sum(df for (t, _f), df in stats.items()
                       if t not in self._seg_chains)
        arena = mem.prefault_async(min(int(est_miss) * 24, 2 << 30)) \
            if est_miss > 4e6 else None
        chains_by_term = self._term_chains(terms, fields)
        if arena is not None:
            arena.join()

        dead = np.asarray(self.tombstones, dtype=np.int64) if self.tombstones else None
        nterms = len(terms)
        tops: list[tuple[int, float]] = []
        total_sel = sum(n for t in terms
                        for (_sh, _u, f, _g, n, _s) in chains_by_term.get(t, ())
                        if (t, f) in widf)
        if total_sel:
            if self._decode_cache is None:
                with self._memo_lock:  # threaded serving: create exactly once
                    if self._decode_cache is None:
                        self._decode_cache = DecodeCache(self.DECODE_CACHE_POSTINGS)
            cache = self._decode_cache
            if mode != "and":
                algorithm = _choose_or_algorithm(
                    algorithm, sum(stats.values()), nterms,
                    max(coll[f][0] for f in fields if f in coll), round_dp,
                    warm=lambda: cache.scored_cached_all(
                        [((sh, t, f) if u is None else (sh, t, f, u),
                          widf[(t, f)], avgdl[(t, f)])
                         for t in terms
                         for (sh, u, f, _g, _n, _s) in chains_by_term.get(t, ())
                         if (t, f) in widf]))
            # Shard-parallel scoring: (shard, unit) groups are doc-disjoint —
            # shards partition doc_id by hash, and a live doc's postings for
            # a term live in exactly one unit (updates tombstone the prior
            # unit's row; summing tf across units would mis-score BM25's
            # nonlinear tf term anyway) — so per-group top-(offset+k) heaps
            # merge by a plain sort, no cross-group score summing.
            # DecodeCache is lock-safe.
            # small selections collapse to shard-only groups: per-group fixed
            # overhead (list/cache assembly) dominates tiny chains. The
            # criterion is postings PER FINE GROUP, not total — a fixed total
            # threshold tuned at 12 (shard, unit) slices exploded to 80
            # undersized groups on a 10-shard × 8-unit store (measured 3-6×
            # warm-latency inflation on mid-OR and mixed-AND classes, pure
            # per-group Python overhead)
            fine_keys = {(sh, u) for t in terms
                         for (sh, u, f, _g, _n, _s) in chains_by_term.get(t, ())
                         if (t, f) in widf}
            # TAAT groups by SHARD ONLY: its dense bincount then runs once
            # per shard over the full doc span, not once per unit
            per_unit = algorithm != "taat" \
                and total_sel >= SegmentSearcher.PER_UNIT_MIN_POSTINGS \
                and total_sel >= SegmentSearcher.FINE_GROUP_MIN_POSTINGS * max(1, len(fine_keys))
            groups: dict = {}
            for t in terms:
                for sh, u, f, g, _n, slot in chains_by_term.get(t, ()):
                    key = (t, f)
                    if key not in widf:
                        continue
                    gk = (sh, u) if per_unit and u is not None else sh
                    ck = (sh, t, f) if u is None else (sh, t, f, u)
                    # memoized chain view (same lifetime/eviction as the
                    # chain-frame cache entry it rides in): the pandas
                    # block-metadata extraction is static per chain — widf
                    # and avgdl derive from stored df/cstats/boosts, all
                    # fixed for a store view — so pay it once, not per
                    # query. Benign race: two threads may both build; both
                    # are correct, one ref wins.
                    if slot:
                        L = slot[0]
                    else:
                        L = _BlockList(g, widf[key], avgdl[key],
                                       cache=cache, ckey=ck)
                        slot.append(L)
                    groups.setdefault(gk, []).append((t, L))

            # OR cold prefill: when every group will decode its chains
            # EXHAUSTIVELY anyway (taat, or a >WIDE_OR_LISTS
            # disjunction that _blockmax_or_numpy reroutes to taat), fill the
            # scored-chain memo for ALL groups in ONE batched decode+score
            # pass up front. 24 pool threads each running their own decode
            # convoy on the GIL and the allocator (measured 13.5 s cold for a
            # 58-term fuzzy at 5M docs); one thread over the same bytes with
            # the batched cache-blocked decoder takes ~4 s, after which the
            # pool's group scoring is pure cache hits.
            if cache is not None and mode != "and" and (
                algorithm == "taat"
                or any(len(v) > WIDE_OR_LISTS for v in groups.values())
            ):
                cache.get_scored_many(
                    [(L._ckey, L.weight_idf, L.avgdl,
                      L.doc_bytes, L.tf_bytes, L.dl_bytes)
                     for v in groups.values() for _, L in v])

            stride = self.num_shards or 1

            def run_group(chains):
                return _score_chains(chains, mode, offset + k, nterms,
                                     algorithm, dead, round_dp, stride=stride)

            # Pool only when per-GROUP work is numpy-dominated (big decoded
            # selections release the GIL for long spans). Small/medium
            # groups are dominated by per-chain Python (frame slicing,
            # cache bookkeeping, block loops) which HOLDS the GIL — fanning
            # those across 10+ threads is a convoy: measured on a 10-shard
            # 5M-doc store, tail-term 27 ms serial vs ~210 ms pooled, 3-term
            # AND 88 ms serial vs 1.4-3.1 s pooled, while head-TAAT or4 was
            # 321 ms pooled vs 1.37 s serial.
            if len(groups) > 1 and \
                    total_sel >= SegmentSearcher.POOL_MIN_POSTINGS * len(groups):
                # Adaptive per-query fan-out width (r7, VERDICT directive 4):
                # the pool itself stays all-cores wide, but when OTHER
                # queries are executing (mem.active_queries > 1) this query
                # submits in waves of cores // (2 × active) — the 5M sweep
                # (BENCH/serving_sweep_5m.json) measured 2 queries × 8
                # threads at 25.2 QPS p95 406 ms vs 17.6 QPS p95 702 ms
                # when both fanned to all 32 (thread thrash), while a LONE
                # query keeps the full width (fuzzy warm 0.6 s at 32 vs
                # 1.0-1.1 s at a fixed 8). Wave quota, not pool width, so
                # both regimes get their measured optimum.
                import concurrent.futures as _cf
                import itertools as _it

                from ..functions import mem as _mem

                work = list(groups.values())
                act = _mem.active_queries()
                cores = os.cpu_count() or 8
                # under concurrency the sweep optimum (pool 8 TOTAL on 32
                # cores for 2 queries) says the scoring path is GIL-convoy
                # bound past ~cores/4 live threads — so split that budget
                # across the active queries, don't give each a slice of all
                # cores
                quota = len(work) if act <= 1 else max(2, (cores // 4) // act)
                pool = self._scoring_pool()
                it = iter(work)
                futs = {pool.submit(run_group, w)
                        for w in _it.islice(it, quota)}
                while futs:
                    done, futs = _cf.wait(futs, return_when=_cf.FIRST_COMPLETED)
                    for f in done:
                        tops.extend(f.result())
                    futs.update(pool.submit(run_group, w)
                                for w in _it.islice(it, len(done)))
            else:
                for chains in groups.values():
                    tops.extend(run_group(chains))
        tops.sort(key=lambda x: (-x[1], x[0]))
        return tops[offset:offset + k]

    # per-term segment-metadata chain cache budget, charged in ACTUAL bytes
    # (compressed postings + ~200 B/row metadata/object overhead — pandas
    # frame columns, the bytes objects' headers, and the memoized _BlockList
    # view's numpy metadata arrays). Bounded LRU like the tstats memo:
    # serving-tier RAM stays fixed at ANY vocabulary size, but the budget is
    # RAM-derived so a wide-OR working set (fuzzy expansion) stays resident
    # on a serving box instead of sweeping the LRU cold every query.
    SEG_CACHE_BYTES = _default_seg_cache_bytes()
    _SEG_ROW_OVERHEAD = 200

    @staticmethod
    def _chain_bytes(chains: list) -> int:
        """Resident-byte charge for one term's cached chain list (each
        _ChainCols precomputes its own at build)."""
        return sum(g.nbytes for _, _, _, g, _, _ in chains)

    def _term_chains(self, terms: list[str], fields: list[int]) -> dict:
        """term → [(shard, unit|None, field, chain-frame, n_postings)] from
        the segments dataset, LRU-cached per term: repeat queries skip the
        to_table read, the arrow→pandas conversion AND the per-query groupby
        (which together cost ~200 ms/query on a 5M-doc store's head terms).
        Terms absent from the store cache an empty list — absence is an
        answer too. Frames are immutable once built (threads share them)."""
        import pyarrow.dataset as pds

        from ..functions.hashing import term_buckets

        out: dict = {}
        with self._memo_lock:
            missing = []
            for t in terms:
                hit = self._seg_chains.pop(t, None)
                if hit is not None:
                    self._seg_chains[t] = hit  # re-insert → LRU tail
                    out[t] = hit
                else:
                    missing.append(t)
        if not missing:
            return out
        data = self._dataset("segments")
        flt = pa_points_filter("term", missing) & pds.field("field").isin(fields)
        if "tb" in data.schema.names:
            flt = flt & pds.field("tb").isin(term_buckets(missing))
        tab = data.to_table(filter=flt)
        built: dict[str, list] = {t: [] for t in missing}
        if tab.num_rows:
            # group (term, shard[, unit], field) rows into _ChainCols chains
            # with ONE numeric lexsort + boundary slicing — no pandas: the
            # groupby-iterate + per-group frame this replaces cost ~10 s of
            # a 12 s cold 58-term fuzzy fill at 5M docs (profiled; decode
            # itself was 2 s). Arrow dictionary-encode factorizes the term
            # strings C-side so the sort keys are all integers.
            import pyarrow.compute as pc

            has_unit = "unit" in tab.schema.names
            term_d = pc.dictionary_encode(tab.column("term")).combine_chunks()
            tid = term_d.indices.to_numpy()
            tstrs = term_d.dictionary.to_pylist()
            shard = tab.column("shard").to_numpy()
            unit = tab.column("unit").to_numpy() if has_unit else None
            field = tab.column("field").to_numpy()
            block_no = tab.column("block_no").to_numpy()
            # block_no ascending inside each chain (the order every scorer
            # and DecodeCache ordinal assumes — sort_values("block_no") in
            # the pandas-frame constructors)
            keys = ((block_no, field, shard, tid) if unit is None
                    else (block_no, field, unit, shard, tid))
            idx = np.lexsort(keys)
            tid, shard, field = tid[idx], shard[idx], field[idx]
            if unit is not None:
                unit = unit[idx]
            ns = tab.column("n").to_numpy()[idx].astype(np.int64, copy=False)
            mi = tab.column("max_impact").to_numpy()[idx].astype(np.float64, copy=False)
            mind = tab.column("min_doc").to_numpy()[idx].astype(np.int64, copy=False)
            maxd = tab.column("max_doc").to_numpy()[idx].astype(np.int64, copy=False)
            # resident-byte charge per row, vectorized (compressed postings
            # + fixed metadata/object overhead)
            lens = self._SEG_ROW_OVERHEAD + sum(
                pc.binary_length(tab.column(c)).to_numpy().astype(np.int64)
                for c in ("doc_bytes", "tf_bytes", "dl_bytes"))[idx]
            bcols = [tab.column(c).to_numpy(zero_copy_only=False)[idx]
                     for c in ("doc_bytes", "tf_bytes", "dl_bytes")]
            change = (tid[1:] != tid[:-1]) | (shard[1:] != shard[:-1]) \
                | (field[1:] != field[:-1])
            if unit is not None:
                change |= unit[1:] != unit[:-1]
            starts = np.concatenate(
                ([0], np.flatnonzero(change) + 1, [len(tid)]))
            for j in range(len(starts) - 1):
                i0, i1 = int(starts[j]), int(starts[j + 1])
                chain = _ChainCols(
                    ns[i0:i1].copy(), mi[i0:i1].copy(),
                    mind[i0:i1].copy(), maxd[i0:i1].copy(),
                    bcols[0][i0:i1].tolist(), bcols[1][i0:i1].tolist(),
                    bcols[2][i0:i1].tolist(), int(lens[i0:i1].sum()))
                # final [] slot: lazily memoized _BlockList view (see
                # search_local) — rides the cache entry so view and chain
                # evict together
                built[tstrs[int(tid[i0])]].append(
                    (int(shard[i0]),
                     int(unit[i0]) if unit is not None else None,
                     int(field[i0]), chain, int(chain.ns.sum()), []))
        costs = {t: self._chain_bytes(chains) for t, chains in built.items()}
        with self._memo_lock:
            for t, chains in built.items():
                if t not in self._seg_chains:
                    self._seg_chains[t] = chains
                    self._seg_costs[t] = costs[t]
                    self._seg_bytes += costs[t]
                out[t] = self._seg_chains[t]
            while self._seg_bytes > self.SEG_CACHE_BYTES and len(self._seg_chains) > 1:
                old_t, _ = self._seg_chains.popitem(last=False)
                self._seg_bytes -= self._seg_costs.pop(old_t)
        return out

    def _scoring_pool(self):
        """Shared thread pool for per-(shard, unit) scoring — created once
        per searcher (threads are reused across queries and across the
        serving tier's own request threads; map() just enqueues)."""
        if self._pool is None:
            with self._memo_lock:
                if self._pool is None:
                    import concurrent.futures

                    # r7: width env-tunable for the admission × pool sweep at
                    # 5M (VERDICT r6 directive 4); default = all cores. The
                    # CONCURRENT-query throttling the sweep motivated lives
                    # at the submission site (adaptive wave quota from
                    # mem.active_queries, above), not in the pool width — a
                    # fixed narrow pool bought 25 QPS under load but doubled
                    # a lone query's fuzzy fan-out latency.
                    try:
                        width = int(os.environ.get("UCUDDLE_QUERY_POOL_WIDTH", "0"))
                    except ValueError:
                        width = 0
                    if width <= 0:
                        width = min(32, os.cpu_count() or 8)
                    self._pool = concurrent.futures.ThreadPoolExecutor(
                        max_workers=width,
                        thread_name_prefix="score")
        return self._pool
