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

Serving posture (SegmentSearcher.search_local): the same scorers run
driver-side with no Spark job, and each query runs on the one request thread
that mem.admission() admitted — shards scored in order, cache misses decoded
inline. Serving throughput comes from admitting several queries at once (as
Elasticsearch runs each shard-level search on one search-pool thread), not
from splitting one query across threads. The serving path imports numpy and
pyarrow only; pyspark and pandas are imported inside the distributed
functions (search_terms, tstats_lookup_df).
"""

from __future__ import annotations

import json
import math
import os

import numpy as np

from ..functions.arrow_np import to_np
from ..functions.varbyte import decode_doc_ids_concat, vb_decode_concat
from .bm25_params import B, DEFAULT_BOOSTS, K1
from .storefiles import StoreFiles, _default_seg_cache_bytes

# Stored block bounds (max_impact) and live contributions are computed from
# avgdl values that may differ at the last ULP (e.g. cstats persisted through
# JSON). Bounds must stay true UPPER bounds, so every ub is inflated by this
# relative margin before any pruning comparison — a few extra decoded blocks,
# never a dropped k-boundary tie.
UB_EPS = 1e-9


def _default_decode_cache_postings() -> int:
    """Default DecodeCache bound, sized to the serving box like a page cache:
    ~5% of physical RAM counted at 24 B per cached posting, floored at 16M
    postings and hard-capped at 512M. A cached posting holds 16 B (an int64
    doc id and a float64 contribution), so the cache itself stays near
    ~3.3% of RAM at the cap (16M postings ≈ 256 MB). Still a fixed bound
    independent of corpus/vocabulary — a box serving a 5M-doc shard with
    128 GB RAM keeps a head-term working set resident instead of thrashing a
    cap tuned for 1M-df terms. Override: UCUDDLE_DECODE_CACHE_POSTINGS env
    var."""
    env = os.environ.get("UCUDDLE_DECODE_CACHE_POSTINGS")
    if env:
        return max(1, int(env))
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):
        return 16_000_000
    return min(max(16_000_000, ram // 20 // 24), 512_000_000)


def _bm25(weight_idf, tfs: np.ndarray, dls: np.ndarray, avgdl) -> np.ndarray:
    """Per-posting BM25 contributions — the one float expression every
    scorer uses (scalar or per-posting weight/avgdl: the same IEEE ops per
    element, so scores are bit-identical across paths)."""
    return weight_idf * tfs / (tfs + K1 * (1 - B + B * dls / avgdl))


class DecodeCache:
    """Serving-tier cache of SCORED posting chains — the page-cache analogue
    every on-disk engine keeps: a static store's block bytes decode to the
    same arrays on every query and head terms recur across queries, so the
    varbyte decode (the dominant serving cost at 1M docs: ~230 ms of a
    ~520 ms head-term query; reads are ~30 ms) and the per-posting BM25
    arithmetic (static per store view and boosts) are paid once per chain.

    Keyed (chain key, weight_idf, avgdl); each entry is one whole chain's
    (doc ids, BM25 contributions). LRU-bounded by TOTAL CACHED POSTINGS, so
    memory is capped regardless of corpus or vocabulary size. Only the
    serving tier (SegmentSearcher.search_local) uses it; distributed
    executors are stateless per task and decode only the blocks they
    select. The serving tier is a ThreadingHTTPServer, so all cache state
    mutates under one lock (decode of misses happens outside it). Cached
    arrays are unfiltered (tombstones apply after retrieval)."""

    __slots__ = ("max_postings", "_d", "_n", "_lock")

    def __init__(self, max_postings: int = 16_000_000):
        import threading

        self.max_postings = max_postings
        self._d: dict[tuple, tuple] = {}  # insertion-ordered → LRU via re-insert
        self._n = 0
        self._lock = threading.Lock()

    @staticmethod
    def _key(L: "_BlockList") -> tuple:
        return (L._ckey, float(L.weight_idf), float(L.avgdl))

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

    def scored_cached_all(self, lists: list) -> bool:
        """True iff EVERY chain of `lists` (_BlockLists) is resident right
        now. Pure probe — no LRU touch, no decode: lets the query planner
        pick exhaustive TAAT (a gather + one dense aggregate over memoized
        chains) over block-max when pruning can't save any decode work
        because there is none left to save."""
        with self._lock:
            return all(self._key(L) in self._d for L in lists)

    def get_scored_many(self, lists: list) -> list:
        """[(docs, contribs)] for MANY whole chains (_BlockLists), aligned
        with them. Hits come straight from the memo; ALL misses decode in
        ONE varbyte pass per stream (docs/tfs/dls) and score in ONE
        vectorized _bm25 with the per-chain weight and avgdl expanded by
        np.repeat — the same IEEE ops as the uncached _BlockList.decode, so
        scores are bit-identical. Motivation: a cold 58-term fuzzy fill at
        5M docs made 4,176 per-chain decode calls whose Python overhead
        (bytes.join / fromiter / flag-bit nonzero per call) was GIL-held —
        14 s; batching drops it to 3 calls per query. Per-chain entries are
        sliced out as copies so an evicted chain frees its memory (a view
        would pin the whole batch buffer).

        Misses decode on the calling thread (see the module docstring's
        serving posture)."""
        out: list = [None] * len(lists)
        miss: list[int] = []
        for i, L in enumerate(lists):
            v = self._touch(self._key(L))
            if v is not None:
                out[i] = v
            else:
                miss.append(i)
        if not miss:
            return out
        doc_bufs: list = []
        tf_bufs: list = []
        dl_bufs: list = []
        nblocks = np.empty(len(miss), dtype=np.int64)
        for j, i in enumerate(miss):
            L = lists[i]
            doc_bufs.extend(L.doc_bytes)
            tf_bufs.extend(L.tf_bytes)
            dl_bufs.extend(L.dl_bytes)
            nblocks[j] = len(L.doc_bytes)
        docs_all, cnt_blk = decode_doc_ids_concat(doc_bufs)
        tfs_all = vb_decode_concat(tf_bufs)[0].astype(np.float64)
        dls_all = vb_decode_concat(dl_bufs)[0].astype(np.float64)
        # per-chain posting counts from per-BLOCK counts (zero-block chains
        # included): chain j covers blocks [bo[j], bo[j+1])
        bo = np.concatenate(([0], np.cumsum(nblocks)))
        psum = np.concatenate(([0], np.cumsum(cnt_blk)))
        chain_n = psum[bo[1:]] - psum[bo[:-1]]
        w = np.repeat(np.array([float(lists[i].weight_idf) for i in miss]), chain_n)
        adl = np.repeat(np.array([float(lists[i].avgdl) for i in miss]), chain_n)
        contrib_all = _bm25(w, tfs_all, dls_all, adl)
        starts = np.concatenate(([0], np.cumsum(chain_n)))
        for j, i in enumerate(miss):
            a, b = int(starts[j]), int(starts[j + 1])
            v = (docs_all[a:b].astype(np.int64), contrib_all[a:b].copy())  # copies
            self._put(self._key(lists[i]), v)
            out[i] = v
        return out

    def _evict_locked(self) -> None:
        # oldest-first (dicts iterate in insertion order; hits re-insert at
        # the tail, so the head is the least-recently-used entry). Caller
        # holds self._lock.
        while self._n > self.max_postings and self._d:
            oldest = next(iter(self._d))
            self._n -= len(self._d.pop(oldest)[0])


class _BlockList:
    """One (shard, term, field[, unit]) posting chain: per-block metadata
    (ub, doc range, posting count) plus the compressed block bytes, blocks
    in block_no (= doc) order. Scorers read the metadata without decoding;
    decode() returns the selected blocks' (doc ids, BM25 contributions).
    Built by _build_chains for both the serving tier (which attaches its
    DecodeCache and the chain's cache key) and the distributed path."""

    __slots__ = ("ubs", "min_docs", "max_docs", "ns", "weight_idf", "avgdl",
                 "doc_bytes", "tf_bytes", "dl_bytes", "_range_exact", "_sparse",
                 "_cache", "_ckey", "_starts")

    def __init__(self, ns, max_impact, min_docs, max_docs,
                 doc_bytes: list, tf_bytes: list, dl_bytes: list,
                 weight_idf: float, avgdl: float,
                 cache: "DecodeCache | None" = None, ckey: tuple | None = None):
        """Per-block arrays (int64 ns/min_docs/max_docs, float64 max_impact)
        and byte lists, all in block_no order."""
        self._cache = cache
        self._ckey = ckey
        self.ubs = max_impact * weight_idf * (1.0 + UB_EPS)
        self.min_docs = min_docs
        self.max_docs = max_docs
        self.ns = ns
        self.doc_bytes = doc_bytes
        self.tf_bytes = tf_bytes
        self.dl_bytes = dl_bytes
        self.weight_idf = weight_idf
        self.avgdl = avgdl
        self._sparse = None  # lazy range-max sparse table (range_max_ub_vec)
        self._starts = None  # lazy posting offsets per block (_gather)
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

    def decode(self, idxs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Selected blocks (ascending ids) → (doc_ids, exact BM25
        contributions). With a cache (serving tier) the chain's memoized
        scored arrays are sliced to the selection; without one (distributed
        path) only the selected blocks decode."""
        if len(idxs) == 0:
            return np.empty(0, np.int64), np.empty(0, np.float64)
        if self._cache is not None:
            chain = self._cache.get_scored_many([self])[0]
            return chain if len(idxs) == len(self.ns) else self._gather(chain, idxs)
        docs = decode_doc_ids_concat([self.doc_bytes[i] for i in idxs])[0].astype(np.int64)
        tfs = vb_decode_concat([self.tf_bytes[i] for i in idxs])[0].astype(np.float64)
        dls = vb_decode_concat([self.dl_bytes[i] for i in idxs])[0].astype(np.float64)
        return docs, _bm25(self.weight_idf, tfs, dls, self.avgdl)


def _build_chains(col, terms: list, tid: np.ndarray, unit: np.ndarray | None,
                  widf: dict, avgdl: dict, cache: "DecodeCache | None" = None) -> list:
    """Segment block rows → [(term, _BlockList)], one chain per (term,
    shard[, unit], field), in (term index, shard, unit, field) order with
    each chain's blocks in block_no order — the one chain builder of the
    serving tier (_term_chains) and the distributed path
    (_score_shard_rows). `col(name)` returns a row-aligned numpy column,
    `tid` each row's index into `terms`, `unit` each row's unit (None for a
    store without units). ONE numeric lexsort + boundary slicing, C-side
    throughout: the pandas groupby-iterate it replaces cost ~10 s of a 12 s
    cold 58-term fuzzy fill at 5M docs (profiled; decode itself was 2 s).
    Chains whose (term, field) has no weight are skipped; the serving tier
    passes its cache, and each chain's key is (shard, term, field[, unit])."""
    shard, field = col("shard"), col("field")
    keys = ((col("block_no"), field, shard, tid) if unit is None
            else (col("block_no"), field, unit, shard, tid))
    idx = np.lexsort(keys)
    tid, shard, field = tid[idx], shard[idx], field[idx]
    change = (tid[1:] != tid[:-1]) | (shard[1:] != shard[:-1]) | (field[1:] != field[:-1])
    if unit is not None:
        unit = unit[idx]
        change |= unit[1:] != unit[:-1]
    ns = col("n")[idx].astype(np.int64, copy=False)
    mi = col("max_impact")[idx].astype(np.float64, copy=False)
    mind = col("min_doc")[idx].astype(np.int64, copy=False)
    maxd = col("max_doc")[idx].astype(np.int64, copy=False)
    bcols = [col(c)[idx] for c in ("doc_bytes", "tf_bytes", "dl_bytes")]
    starts = np.concatenate(([0], np.flatnonzero(change) + 1, [len(tid)]))
    out = []
    for i0, i1 in zip(starts[:-1].tolist(), starts[1:].tolist()):
        t, f = terms[int(tid[i0])], int(field[i0])
        if (t, f) not in widf:
            continue
        sh = int(shard[i0])
        ck = (sh, t, f) if unit is None else (sh, t, f, int(unit[i0]))
        out.append((t, _BlockList(
            ns[i0:i1].copy(), mi[i0:i1].copy(), mind[i0:i1].copy(), maxd[i0:i1].copy(),
            bcols[0][i0:i1].tolist(), bcols[1][i0:i1].tolist(), bcols[2][i0:i1].tolist(),
            widf[(t, f)], avgdl[(t, f)], cache=cache, ckey=ck)))
    return out


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
        parts = cache.get_scored_many(lists)
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
        # whole chains is both faster and hits the scored-chain memo.
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
    parts = cache.get_scored_many([L for ls in blists_by_term.values() for L in ls])
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

    # term → [(docs, contribs)] over the surviving blocks
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
            docs, contrib = L.decode(np.flatnonzero(keep))
            if dead is not None and len(dead) and len(docs):
                alive = ~np.isin(docs, dead)
                docs, contrib = docs[alive], contrib[alive]
            if len(docs) > 1 and not (docs[1:] > docs[:-1]).all():
                # defensive: a chain whose block_no order is not doc
                # order would break the searchsorted probes below
                order = np.argsort(docs, kind="stable")
                docs, contrib = docs[order], contrib[order]
            decoded.setdefault(t, []).append((docs, contrib))
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
        for docs, contrib in ps:
            if len(docs) == 0:
                continue
            pos = np.clip(np.searchsorted(docs, common), 0, len(docs) - 1)
            hit = docs[pos] == common
            scores[hit] += contrib[pos[hit]]
    if round_dp is not None:
        scores = np.round(scores, round_dp)
    order = _topk_order(common, scores, k)
    return [(int(common[i]), float(scores[i])) for i in order]


def _score_shard_rows(pdf: pd.DataFrame, widf: dict, avgdl: dict, mode: str, k: int,
                      nterms: int, algorithm: str, dead, round_dp,
                      stride: int = 1) -> list:
    """Block rows of ONE shard → top-k [(doc_id, score)] — the distributed
    path's applyInPandas body, building its chains with the serving tier's
    _build_chains and scoring through the same _score_chains, so both
    return identical rankings. Stores written unit-by-unit
    (plans/build_index.py) reuse block_no ranges across units with
    overlapping doc ranges; each unit's chain IS doc-sorted, so there is one
    chain per (term, field, unit) — every scorer handles multiple lists per
    term."""
    if len(pdf) == 0:
        return []
    return _score_chains(_frame_chains(pdf, widf, avgdl), mode, k, nterms,
                         algorithm, dead, round_dp, stride=stride)


def _frame_chains(pdf: pd.DataFrame, widf: dict, avgdl: dict) -> list:
    """Block rows as a pandas frame (any row order; a `unit` column when the
    store has units) → _build_chains' [(term, _BlockList)], uncached."""
    terms, tid = np.unique(pdf["term"].to_numpy(), return_inverse=True)
    unit = pdf["unit"].to_numpy() if "unit" in pdf.columns else None
    return _build_chains(lambda c: pdf[c].to_numpy(), terms.tolist(),
                         tid, unit, widf, avgdl)


def _score_chains(groups: list[tuple[str, _BlockList]], mode: str, k: int,
                  nterms: int, algorithm: str, dead, round_dp,
                  stride: int = 1) -> list:
    """Core scorer over one scoring group's (term, _BlockList) chains. OR
    queries run the kernel the caller resolved through _choose_or_algorithm
    ("taat" or "wand"); AND queries ignore it. The serving tier feeds the
    _BlockLists of its per-term chain cache (attached to its DecodeCache),
    so the block-metadata extraction is paid once per chain instead of once
    per query."""
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
        self.num_shards: int | None = _read_store_meta(store_dir).get("num_shards")
        self._coll: dict | None = None
        self._tstats_cache: dict | None = None
        # per-term memo for the no-prepare() path: repeat queries never
        # re-read the tstats parquet; missing terms are remembered too
        import collections
        import threading

        self._term_memo: dict[tuple[str, int], float | None] = {}
        self._memo_lock = threading.Lock()
        self.files = StoreFiles(store_dir) if store_dir is not None else None
        self._decode_cache: DecodeCache | None = None  # built on first search_local
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

    def _collection(self, local: bool = False) -> dict:
        """field → (n_docs, avgdl), loaded once: from the cstats frame, or
        (local) from the written store's cstats.json."""
        if self._coll is None:
            if local:
                with open(os.path.join(self.store_dir, "cstats.json")) as fh:
                    rows = json.load(fh)
            else:
                rows = self.cstats.collect()
            self._coll = {r["field"]: (r["n_docs"], r["avgdl"]) for r in rows}
        return self._coll

    # -- bounded per-term dictionary cache (the no-prepare path) --------------
    # With a tb-partitioned + term-sorted tstats store, cold terms cost one
    # directory- and row-group-pruned read; hot terms hit this LRU. The cap
    # bounds serving-tier memory at ANY vocabulary size (10⁹ terms never load).
    TERM_MEMO_CAP = 200_000
    # serving-tier scored-chain cache bound (postings; 16 B each). RAM-
    # derived (page-cache sizing, see _default_decode_cache_postings): the
    # fixed 16M floor covers several 1M-df head terms' scored chains, but a
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
        from pyspark.sql import functions as F

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
        r = self.files.read("tstats", "term", missing, ["field", "df"], fields)
        return zip(r.per_row(r.keys).tolist(), r.table["field"].to_pylist(),
                   r.table["df"].to_pylist())

    # below this many selected postings (a query's Σdf) an OR query is
    # scored by exhaustive TAAT; above it the block-max scorer's skipped
    # decodes pay off (BENCH/wand_micro.json measured the crossover against
    # the retired exact scan: parity at ~0.8M, widening with size)
    WAND_MIN_POSTINGS = 500_000

    def _prologue(self, terms: list[str], mode: str, algorithm: str,
                  round_dp: int | None, local: bool):
        """The query prologue search_terms and search_local share, over the
        sorted, deduplicated query terms: (term, field) stats → BM25 weights
        `widf` and `avgdl`, the AND early exit, and the OR kernel choice.
        Returns None when an AND term is absent from every field (nothing
        can match), else (widf, avgdl, kernel): kernel(warm=None) resolves
        the query's algorithm once per QUERY — `warm` as in
        _choose_or_algorithm; AND queries keep `algorithm` as given."""
        fields = sorted(self.boosts)
        # tiny lookups: |q|·|fields| df rows + |fields| collection stats
        if self._tstats_cache is not None:
            stats = {
                (t, f): self._tstats_cache[(t, f)]
                for t in terms for f in fields if (t, f) in self._tstats_cache
            }
        else:
            read = self._read_tstats_local if local else self._read_tstats_spark
            stats = self._memo_stats(terms, fields, lambda m: read(m, fields))
        coll = self._collection(local)
        if mode == "and" and set(terms) - {t for (t, f) in stats}:
            return None  # a term absent from every field can never satisfy AND
        widf, avgdl = {}, {}
        for (t, f), df_ in stats.items():
            n = float(coll[f][0])
            widf[(t, f)] = self.boosts[f] * math.log(1.0 + (n - df_ + 0.5) / (df_ + 0.5))
            avgdl[(t, f)] = float(coll[f][1])

        def kernel(warm=None) -> str:
            if mode == "and":
                return algorithm
            return _choose_or_algorithm(
                algorithm, sum(stats.values()), len(terms),
                max((coll[f][0] for f in fields if f in coll), default=0), round_dp, warm)
        return widf, avgdl, kernel

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
        import pandas as pd
        from pyspark.sql import functions as F

        _check_algorithm(algorithm)
        if offset:
            inner = self.search_terms(terms, k=offset + k, mode=mode, algorithm=algorithm,
                                      round_dp=round_dp)
            return inner.orderBy(F.col("score").desc(), F.col("doc_id").asc()).offset(offset).limit(k)
        terms = sorted(set(terms))
        spark = self.segments.sparkSession
        plan = self._prologue(terms, mode, algorithm, round_dp, local=False)
        if plan is None:
            return spark.createDataFrame([], "doc_id long, score double")
        widf, avgdl, kernel = plan
        algorithm = kernel()  # resolved once per QUERY on the driver
        b_widf = spark.sparkContext.broadcast(widf)
        b_avgdl = spark.sparkContext.broadcast(avgdl)
        b_dead = (
            spark.sparkContext.broadcast(np.asarray(self.tombstones, dtype=np.int64))
            if self.tombstones else None
        )
        nterms = len(terms)
        matched = self.segments.filter(
            F.col("term").isin(terms) & F.col("field").isin(list(self.boosts))
        )
        if "tb" in self.segments.columns:
            # written stores carry the md5 term-bucket PARTITION column —
            # directory-level pruning before any row is read
            from ..functions.hashing import term_buckets

            matched = matched.filter(F.col("tb").isin(term_buckets(terms)))

        stride = self.num_shards or 1

        def run_shard(pdf):
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
        tombstones load via pyarrow/json (transient StoreFiles scans),
        queries run through search_local only. Startup is file reads, not a
        JVM."""
        obj = cls(None, None, None, boosts=boosts, store_dir=store_dir)
        # a delete-docs writer that is mid-commit has only _temporary files,
        # which the listing skips: serve the pre-delete view; the serving
        # tier's generation check reopens the store once the files land
        tt = obj.files.scan("tombstones", ["doc_id"])
        if tt is not None:
            obj.tombstones = sorted(set(tt["doc_id"].to_pylist()))
        if not any(e.startswith("tb=") for e in os.listdir(os.path.join(store_dir, "tstats"))):
            # legacy flat layout: no pruned access path exists, so eager-load
            # once (bounded only by the store's actual vocabulary). The
            # vocabulary-scale layout (tb-partitioned, term-sorted) opens
            # WITHOUT materializing the dictionary — each query resolves its
            # terms through a pruned read + the bounded LRU memo, so
            # serving-tier RAM is O(memo cap), not O(vocabulary).
            tt = obj.files.scan("tstats", ["term", "field", "df"])
            obj._tstats_cache = {
                (t, int(f)): d
                for t, f, d in zip(tt["term"].to_pylist(), tt["field"].to_pylist(),
                                   tt["df"].to_pylist())
            }
        obj._collection(local=True)
        # allocator posture at open, so the serving tier's request threads
        # start under one glibc arena (a Spark-constructed searcher gets it
        # at its first admission instead)
        from ..functions import mem

        mem.serving_posture()
        return obj

    def search_local(self, terms: list[str], k: int = 20, mode: str = "and",
                     algorithm: str = "auto", offset: int = 0,
                     round_dp: int | None = None) -> list[tuple[int, float]]:
        """Admission-gated serving read path (_search_local_impl): at most
        mem.admission()'s width of queries execute at once, each wholly on
        its caller's thread. Rejects an `algorithm` outside ALGORITHMS
        before any read."""
        from ..functions import mem

        _check_algorithm(algorithm)
        with mem.admission():
            return self._search_local_impl(terms, k=k, mode=mode,
                                           algorithm=algorithm, offset=offset,
                                           round_dp=round_dp)

    def _search_local_impl(self, terms: list[str], k: int = 20, mode: str = "and",
                           algorithm: str = "auto", offset: int = 0,
                           round_dp: int | None = None) -> list[tuple[int, float]]:
        """The serving-tier read path: identical ranking to search_terms, but
        executed entirely driver-side — keyed reads of the query terms' rows
        from the view's resident decoded row groups (self.files) feeding the
        same per-shard numpy scorers, one shard after another on the calling
        thread. No Spark job, so latency is a
        first-touch row-group decode at worst (ms), not job scheduling
        (~1 s floor).

        This is how the 1000-executor picture serves queries too: the INDEX
        is built by Spark; point reads hit the layout directly (the reference
        serves from ES while ingest writes to it, web/app.py:26-43). Requires
        a written store (store_dir set — load_searcher does)."""
        if self.store_dir is None:
            raise ValueError("search_local needs a written store (store_dir)")
        terms = sorted(set(terms))
        plan = self._prologue(terms, mode, algorithm, round_dp, local=True)
        if plan is None:
            return []
        widf, avgdl, kernel = plan
        if self._decode_cache is None:
            with self._memo_lock:  # threaded serving: create exactly once
                if self._decode_cache is None:
                    self._decode_cache = DecodeCache(self.DECODE_CACHE_POSTINGS)
        cache = self._decode_cache
        chains_by_term = self._term_chains(terms, sorted(self.boosts), widf, avgdl)
        lists = [L for t in terms for L in chains_by_term[t]]
        if not lists:
            return []
        algorithm = kernel(warm=lambda: cache.scored_cached_all(lists))
        # One scoring group per shard, scored in order on this thread:
        # shards partition doc_id by hash, and a live doc's postings for a
        # term live in exactly one unit (updates tombstone the prior unit's
        # row; summing tf across units would mis-score BM25's nonlinear tf
        # term anyway) — so per-shard top-(offset+k) heaps merge by a plain
        # sort, no cross-group score summing. TAAT's dense bincount runs once
        # per shard over the full doc span.
        groups: dict = {}
        for t in terms:
            for L in chains_by_term[t]:
                groups.setdefault(L._ckey[0], []).append((t, L))
        # OR cold prefill: when every group will decode its chains
        # EXHAUSTIVELY anyway (taat, or a >WIDE_OR_LISTS disjunction that
        # _blockmax_or_numpy reroutes to taat), fill the scored-chain memo
        # for ALL groups in ONE batched decode+score pass up front, so the
        # group scoring below is pure cache hits.
        if mode != "and" and (
            algorithm == "taat" or any(len(v) > WIDE_OR_LISTS for v in groups.values())
        ):
            cache.get_scored_many(lists)
        dead = np.asarray(self.tombstones, dtype=np.int64) if self.tombstones else None
        stride = self.num_shards or 1
        tops: list[tuple[int, float]] = []
        for chains in groups.values():
            tops.extend(_score_chains(chains, mode, offset + k, len(terms),
                                      algorithm, dead, round_dp, stride=stride))
        tops.sort(key=lambda x: (-x[1], x[0]))
        return tops[offset:offset + k]

    # per-term chain cache budget, charged in ACTUAL bytes (compressed
    # postings + ~200 B/block row of metadata/object overhead — the
    # _BlockList's numpy metadata arrays and the bytes objects' headers).
    # Bounded LRU like the tstats memo: serving-tier RAM stays fixed at ANY
    # vocabulary size, but the budget is RAM-derived so a wide-OR working
    # set (fuzzy expansion) stays resident on a serving box instead of
    # sweeping the LRU cold every query.
    SEG_CACHE_BYTES = _default_seg_cache_bytes()
    _SEG_ROW_OVERHEAD = 200

    def resident(self) -> dict:
        """Occupancy of the serving caches: the view's resident row groups
        (StoreFiles), the chain cache's bytes, the DecodeCache's postings."""
        files = self.files.resident() if self.files is not None else {"groups": 0, "bytes": 0}
        dc = self._decode_cache
        return {"storefiles_bytes": files["bytes"], "storefiles_groups": files["groups"],
                "chain_bytes": self._seg_bytes, "decode_postings": dc._n if dc else 0}

    def _term_chains(self, terms: list[str], fields: list[int], widf: dict,
                     avgdl: dict) -> dict:
        """term → [_BlockList] (see _build_chains; attached to the view's
        DecodeCache) from the segments rows (self.files: each row group
        decoded once, then index lookups plus slices), LRU-cached per term:
        repeat queries skip the read and the chain build (which together
        cost ~200 ms/query on a 5M-doc store's head terms, when each read
        still decoded its row groups). widf/avgdl derive from the view's
        stored df, cstats and boosts, so a cached chain's weights hold for
        every later query. Terms absent from the store cache an empty list —
        absence is an answer too. Chains are immutable once built (threads
        share them); each term is charged its rows' compressed bytes plus
        _SEG_ROW_OVERHEAD per row."""
        import pyarrow.compute as pc

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
        got = self.files.read("segments", "term", missing, fields=fields)
        tab = got.table.combine_chunks()
        built: dict[str, list] = {t: [] for t in missing}
        costs = np.zeros(len(missing), dtype=np.int64)
        if got.num_rows:
            # the read's key runs give each row its term's index in
            # `missing`, so every sort key is an integer
            ti = {t: i for i, t in enumerate(missing)}
            tid = got.per_row([ti[t] for t in got.keys])
            units = [h.get("unit") for h in got.hive]
            unit = None if None in units else got.per_row(units)
            for t, L in _build_chains(
                    lambda c: to_np(tab.column(c)),
                    missing, tid, unit, widf, avgdl, cache=self._decode_cache):
                built[t].append(L)
            np.add.at(costs, tid, self._SEG_ROW_OVERHEAD + sum(
                to_np(pc.binary_length(tab.column(c))).astype(np.int64)
                for c in ("doc_bytes", "tf_bytes", "dl_bytes")))
        with self._memo_lock:
            for t, cost in zip(missing, costs.tolist()):
                if t not in self._seg_chains:
                    self._seg_chains[t] = built[t]
                    self._seg_costs[t] = cost
                    self._seg_bytes += cost
                out[t] = self._seg_chains[t]
            while self._seg_bytes > self.SEG_CACHE_BYTES and len(self._seg_chains) > 1:
                old_t, _ = self._seg_chains.popitem(last=False)
                self._seg_bytes -= self._seg_costs.pop(old_t)
        return out
