"""Phrase matching from stored token positions.

The reference's ES mappings keep positions for `text` fields (that is what
makes its search_quote_analyzer / quoted queries work —
crawler/functs_with_elastic.go:85-94 configures it), and our postings retain
them (schema.POSTINGS_SCHEMA K6). A phrase match "a b c" is a doc where some
position p has a@p, b@p+1, c@p+2.

Relational realization (all JVM ops, SQL-oracle-replayable): explode the first
term's positions, then for each subsequent term a join on doc_id +
array_contains(positions, p+i) — a chain of hash joins over only the phrase
terms' postings (pruned scan), never the corpus.

phrase_search_local is the Spark-free serving form (numpy over keyed
sidecar reads), so pyspark is imported only inside the distributed
functions.
"""

from __future__ import annotations

import json
import os

from ..functions.arrow_np import combine, to_np
from .bm25_params import B, K1
from .storefiles import StoreFiles


def phrase_match_join(postings: DataFrame, terms: list[str], field: int = 0) -> DataFrame:
    """(doc_id, phrase_tf) via the pure-relational join chain — the
    SQL-oracle-replayable REFERENCE form the fast path is parity-tested
    against: only the FIRST term's positions explode; every later term joins
    on doc_id with its positions kept as a packed array probed by
    array_contains. Kept as the oracle/verification implementation;
    phrase_match (below) is the production path — the join chain re-shuffles
    the phrase terms' postings once per phrase POSITION (11.5 s warm
    head-head at 1M docs), the bucketed merge shuffles them once total."""
    from pyspark.sql import functions as F

    if not terms:
        raise ValueError("empty phrase")
    first = (
        postings.filter((F.col("term") == terms[0]) & (F.col("field") == field))
        .select("doc_id", F.explode("positions").alias("p"))
    )
    out = first
    for i, t in enumerate(terms[1:], start=1):
        nxt = (
            postings.filter((F.col("term") == t) & (F.col("field") == field))
            .select(F.col("doc_id").alias("d2"), F.col("positions").alias(f"pos{i}"))
        )
        out = out.join(nxt, (out.doc_id == nxt.d2) & F.array_contains(F.col(f"pos{i}"), out.p + i)).drop(
            "d2", f"pos{i}"
        )
    return out.groupBy("doc_id").agg(F.count("*").cast("long").alias("phrase_tf"))


def phrase_match(postings: DataFrame, terms: list[str], field: int = 0,
                 num_buckets: int | None = None) -> DataFrame:
    """(doc_id, phrase_tf) for docs containing the exact term sequence —
    the production path: ONE shuffle of the phrase terms' (pruned) postings
    on doc_id (`repartition(num_buckets, doc_id)`), then the sorted-key
    adjacency kernel the serving tier's key engine also runs
    (_adjacent_starts, over (doc ordinal << 32) | position composite keys,
    where ordinals re-code the partition's doc ids densely so any 64-bit
    doc_id is safe) runs vectorized in a `mapInArrow` over each partition.

    Scale shape: the scan prunes to the |q| phrase terms (tb directories +
    pushed term predicate on written sidecars), each (term, doc) row is
    shuffled exactly once (the join-chain alternative re-shuffles per phrase
    position — measured 10× slower warm at 1M docs), partitions are
    hash-disjoint in doc_id so every doc's adjacency is decided wholly
    inside one task, and per-task memory is O(Σ pruned postings /
    num_buckets). Bit-identical phrase_tf to phrase_match_join
    (parity-tested)."""
    from pyspark.sql import functions as F

    if not terms:
        raise ValueError("empty phrase")
    spark = postings.sparkSession
    if num_buckets is None:
        num_buckets = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    tlist = list(terms)
    pruned = postings.filter(
        F.col("term").isin(sorted(set(tlist))) & (F.col("field") == field)
    ).select("term", "doc_id", "positions")

    # r7: mapInArrow over doc-hash partitions instead of
    # groupBy(bucket).applyInPandas. Two wins, same rows (parity-tested
    # against the join chain): (a) applyInPandas materialized every positions
    # list as a per-row Python object (the dominant cost of the merge — ~2M
    # list objects at 1M docs for a head-head phrase); the Arrow path reads
    # the ListArray's value buffer + offsets directly, zero per-row objects.
    # (b) the synthetic bucket key (pmod into num_buckets partitions with
    # only num_buckets distinct values) left ~1/e of tasks empty and gave
    # others 2-3 buckets (guide §2.5); hashing the raw doc_id spreads evenly,
    # and doc co-location — the only property the merge needs — still holds.
    def match_part(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        chunks = [b for b in batches if b.num_rows]
        if not chunks:
            return
        tbl = pa.Table.from_batches(chunks)
        enc = pc.dictionary_encode(tbl.column("term").combine_chunks())
        codes = enc.indices.to_numpy().astype(np.int64)
        vocab = enc.dictionary.to_pylist()
        present = {t: i for i, t in enumerate(vocab)}
        if any(t not in present for t in tlist):
            return
        # doc ids → dense partition ordinals before packing: a raw doc_id
        # ≥ 2³¹ shifted left by 32 overflows int64 (and ≥ 2³² collides with
        # a small id); ordinals are < the partition's row count
        doc_ids, ordinal = np.unique(
            tbl.column("doc_id").combine_chunks().to_numpy(), return_inverse=True)
        lst = tbl.column("positions").combine_chunks()
        counts = pc.list_value_length(lst).to_numpy().astype(np.int64)
        flat = pc.list_flatten(lst).to_numpy().astype(np.int64)
        allk = (np.repeat(ordinal.astype(np.int64), counts) << 32) | flat
        code_rep = np.repeat(codes, counts)
        keys: dict[str, np.ndarray] = {}
        for t in dict.fromkeys(tlist):
            kt = allk[code_rep == present[t]]
            if not len(kt):
                return
            kt.sort()
            keys[t] = kt
        cur = _adjacent_starts([keys[t] for t in tlist])
        if not len(cur):
            return
        ords, tf = np.unique(cur >> 32, return_counts=True)
        yield pa.record_batch(
            [pa.array(doc_ids[ords].astype(np.int64)), pa.array(tf.astype(np.int64))],
            names=["doc_id", "phrase_tf"],
        )

    return (
        pruned.repartition(num_buckets, F.col("doc_id"))
        .mapInArrow(match_part, schema="doc_id long, phrase_tf long")
    )


def phrase_search(
    postings: DataFrame,
    dstats: DataFrame,
    cstats: DataFrame,
    terms: list[str],
    k: int = 20,
    field: int = 0,
    round_dp: int | None = None,
) -> DataFrame:
    """BM25-scored phrase top-k: the phrase is scored as one pseudo-term with
    tf = phrase_tf and df = number of docs containing the phrase (how Lucene
    scores a PhraseQuery). round_dp: boundary-stable mode — scores are
    rounded BEFORE the top-k cut so docs tying at the k-th ROUNDED score
    break by doc_id exactly like a rounded-score SQL oracle (the same
    contract as wand.search_terms' round_dp)."""
    from pyspark.sql import functions as F

    from .bm25 import idf_col, tf_norm_col

    spark = postings.sparkSession
    matches = phrase_match(postings, terms, field=field).persist()
    try:
        n_phrase_docs = matches.count()
        coll = {r["field"]: (r["n_docs"], r["avgdl"]) for r in cstats.collect()}
        n_docs, avgdl = coll[field]
        score = (
            idf_col(F.lit(float(n_phrase_docs)), F.lit(float(n_docs)))
            * tf_norm_col(F.col("phrase_tf").cast("double"), F.col("doclen").cast("double"), F.lit(float(avgdl)))
        )
        if round_dp is not None:
            score = F.round(score, round_dp)
        scored = matches.join(dstats.filter(F.col("field") == field), "doc_id").select(
            "doc_id", score.alias("score")
        )
        # materialize the k result rows while the phrase-match cache is
        # live, then RELEASE it: DataFrame.persist entries are never
        # auto-cleaned (CacheManager keys them by plan for the session's
        # lifetime), so returning a lazy plan over the persisted frame
        # would leak one cached phrase-match per query into executor
        # storage on a long-lived session. k is small; the eager top-k
        # costs nothing beyond work the caller was about to do.
        rows = scored.orderBy(F.col("score").desc(),
                              F.col("doc_id").asc()).limit(k).collect()
    finally:
        matches.unpersist()
    return spark.createDataFrame(rows, schema="doc_id long, score double")


class PhraseKeysCache:
    """Bounded LRU of per-(term, field) positional entries (see
    _load_entries) for the serving-tier phrase path — the positional
    analogue of wand.DecodeCache: a static store's sidecar rows build the
    same entry on every query and head terms recur across phrases, so the
    read+gather (the dominant phrase cost) is paid once per term. Bounded by
    the entries' ACTUAL resident bytes (Σ nbytes over every array in an
    entry — positions/ranks, docs, tfs,
    doclens AND the rank-form's corpus-sized packed bitmap), so memory stays
    fixed at any corpus/vocabulary size: a rare term whose bitmap alone is
    ~(Σdoclen)/8 bytes is charged that bitmap, not just its handful of keys.
    Entries are unfiltered — tombstones apply after matching, exactly where
    they applied post-read. Thread-safe like DecodeCache (serve.py is a
    ThreadingHTTPServer); the cache lives on the serving view and drops on
    store reopen."""

    __slots__ = ("max_bytes", "_d", "_n", "_lock")

    def __init__(self, max_keys: int | None = None, max_bytes: int | None = None):
        import threading

        if max_bytes is None and max_keys is not None:
            # legacy knob: keys were charged at 8 B each
            max_bytes = max_keys * 8
        if max_bytes is None:
            # ~10% of RAM, floor 256 MB. Must hold BOTH terms of a head-head
            # phrase at once (each: keys + bitmap); two 210M-key terms
            # (5M docs) need ~2.5 GB total, which a 128 GB box clears easily
            # and a small box correctly refuses to hold
            try:
                ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
                max_bytes = min(max(256_000_000, ram // 10), 16_000_000_000)
            except (ValueError, OSError, AttributeError):
                max_bytes = 256_000_000
        self.max_bytes = max_bytes
        self._d: dict[tuple, tuple] = {}  # insertion-ordered → LRU
        self._n = 0
        self._lock = threading.Lock()

    @staticmethod
    def _nbytes(v: tuple) -> int:
        return sum(getattr(a, "nbytes", 0) for a in v)

    def get(self, key: tuple):
        with self._lock:
            v = self._d.pop(key, None)
            if v is not None:
                self._d[key] = v  # re-insert = touch
            return v

    def put(self, key: tuple, v: tuple) -> None:
        with self._lock:
            old = self._d.pop(key, None)
            if old is not None:
                self._n -= self._nbytes(old)
            self._d[key] = v
            self._n += self._nbytes(v)
            while self._n > self.max_bytes and self._d:
                k0 = next(iter(self._d))
                if k0 == key and len(self._d) == 1:
                    break  # a single over-budget entry still serves its query
                self._n -= self._nbytes(self._d.pop(k0))


def phrase_search_local(store_dir: str, terms: list[str], k: int = 10,
                        field: int = 0, dead=None,
                        cache: PhraseKeysCache | None = None,
                        files=None) -> list[tuple[int, float]]:
    """Serving-tier quoted-phrase top-k over a written store's positional
    sidecar — keyed row-group read + numpy adjacency, NO Spark job (the
    match_phrase analogue of SegmentSearcher.search_local). Bit-identical
    scores and ordering to phrase_search_written: the read touches only the
    phrase terms' row groups, through `files` (the view's StoreFiles; a
    fresh one for this call when None), adjacency is a
    sorted-key merge ((doc ordinal << 32) | position composite keys — "a b"
    holds at start position p iff key(doc,p)+1 is among b's keys), and the
    PhraseQuery pseudo-term BM25 replicates idf_col/tf_norm_col's float op
    order exactly. `dead` (sorted tombstoned ids) removes deleted docs from
    BOTH the match set and the phrase df, as if they were never indexed.

    Scale shape: cost is O(Σ pruned postings of the |q| phrase terms), the
    same rows the distributed path shuffles — never the corpus; key arrays
    build in O(n) (doc-row sort + run gather; stored positions are ascending
    per doc). With a PhraseKeysCache, hot terms skip the read+gather and
    memory is bounded by the cache cap; without one it is the current terms'
    key arrays only.

    Two adjacency engines, identical results (parity-tested): the content
    field uses token-RANK bitmaps (rank = per-doc token offset + position,
    from the docs files' doclen column; "a b" holds iff bit rank(a)+1 is
    set in b's bitmap — one byte-gather per candidate instead of a binary
    search into the other term's key array), self-validated at fill time
    (every position must fit its doc's span, else the store permanently
    falls back); other fields and invalid stores use the sorted-key
    searchsorted merge."""
    if not terms:
        raise ValueError("empty phrase")
    root = os.path.join(store_dir, "postings")
    if not os.path.isdir(root):
        raise FileNotFoundError(f"{store_dir} lacks the positional sidecar "
                                "(build with write_postings=True)")
    from ..functions import mem

    # bounded admission: at most N serving queries execute at once
    # (mem.admission — same gate as search_local)
    with mem.admission():
        return _phrase_search_local_impl(store_dir, terms, k, field,
                                         dead, cache, files)


def _phrase_search_local_impl(store_dir: str, terms: list[str], k: int,
                              field: int, dead, cache, files) -> list[tuple[int, float]]:
    import math

    import numpy as np

    files = files or StoreFiles(store_dir)
    res = None
    if field == 0 and len(terms) < 250 and (store_dir, field) not in _RANK_INVALID:
        offsets = _token_offsets(files, cache)
        if offsets is not None:
            loaded = _load_entries(files, terms, field, cache, offsets)
            if loaded is None:  # a position overflowed its doc span
                _RANK_INVALID.add((store_dir, field))
            else:
                res = _match_rank(loaded, terms, offsets)
    if res is None:
        loaded = _load_entries(files, terms, field, cache, None)
        res = _match_key(loaded, terms)
    uniq, tf, first_docs, first_dls = res
    if not len(uniq):
        return []
    if dead is not None and len(dead):
        alive = ~np.isin(uniq, dead)
        uniq, tf = uniq[alive], tf[alive]
        if not len(uniq):
            return []

    with open(os.path.join(store_dir, "cstats.json")) as f:
        coll = {r["field"]: (r["n_docs"], r["avgdl"]) for r in json.load(f)}
    n_docs, avgdl = coll[field]
    # phrase_search float op order, verbatim: idf_col(lit(df), lit(n_docs)) *
    # tf_norm_col(tf, doclen, lit(avgdl))
    df_phrase = float(len(uniq))
    idf = math.log(1.0 + (float(n_docs) - df_phrase + 0.5) / (df_phrase + 0.5))
    dl = first_dls[np.searchsorted(first_docs, uniq)].astype(np.float64)
    tf = tf.astype(np.float64)
    score = idf * (tf / (tf + K1 * (1.0 - B + B * dl / float(avgdl))))
    # top-k without a full lexsort: a head-head phrase at 5M docs matches
    # ~4M docs, and lexsorting 4M rows for a top-10 cost ~0.4 s. Partition
    # to the k-th largest score, keep everything >= it (ties inflate the
    # slice, never drop a candidate), and lexsort only that slice — exact
    # same (score desc, doc asc) order as the full sort.
    m = len(score)
    if m > max(8 * k, 65536):
        kth = np.partition(score, m - k)[m - k]
        sel = np.flatnonzero(score >= kth)
        order = sel[np.lexsort((uniq[sel], -score[sel]))[:k]]
    else:
        order = np.lexsort((uniq, -score))[:k]
    return [(int(uniq[i]), float(score[i])) for i in order]


# stores whose docs.doclen disagreed with the sidecar's position space —
# permanently served by the searchsorted engine (tiny: one tuple per store)
_RANK_INVALID: set[tuple[str, int]] = set()


def _token_offsets(files, cache):
    """Global token-rank offsets for the content field: offsets[d] = Σ doclen
    of docs < d (one transient 2-column scan of the docs files through
    `files`, a storefiles.StoreFiles; cached per view). None if the store's
    docs files lack a doclen column. Doc ids are dense (operators/ids), so
    the array is max_id+2 int64 — ~40 MB at 5M docs."""
    import numpy as np

    ck = ("__offsets__", 0)
    if cache is not None:
        hit = cache.get(ck)
        if hit is not None:
            return hit[0]
    if not {"doc_id", "doclen"} <= set(files.columns("docs")):
        return None
    tab = files.scan("docs", ["doc_id", "doclen"])
    ids = to_np(tab.column("doc_id")).astype(np.int64)
    dls = to_np(tab.column("doclen"))
    if not len(ids):
        return None
    n = int(ids.max()) + 1
    # +1 GUARD slot per doc (its bit is never set): a probe at the rank right
    # after a doc's last token lands on the guard, not the next doc's first
    # token — so distance-1 adjacency needs no boundary mask at all
    full = np.ones(n, dtype=np.int64)
    full[ids] += dls.astype(np.int64)  # a null doclen reads as 0
    offsets = np.concatenate(([0], np.cumsum(full)))
    if cache is not None:
        cache.put(ck, (offsets,))
    return offsets


def _load_entries(files, terms: list[str], field: int, cache,
                  offsets):
    """Per-distinct-term sidecar entries, LRU-cached: cache hits skip the
    read, misses share ONE keyed read of their row groups (`files`, a
    storefiles.StoreFiles). Key form (offsets is None): (positions in doc
    order, docs, per-row tfs, doclens) — _match_key packs the keys per
    query. Rank form: (sorted token ranks, docs, per-row tfs, doclens,
    packed rank bitmap) — returns
    None if any position falls outside its doc's offsets span (docs.doclen
    inconsistent with the analyzer's position space), signalling the caller
    to fall back to key form."""
    import numpy as np
    import pyarrow.compute as pc

    form = "k" if offsets is None else "r"
    total = int(offsets[-1]) if offsets is not None else 0
    loaded: dict[str, tuple] = {}
    need = sorted(set(terms))
    if cache is not None:
        for t in need:
            hit = cache.get((t, field, form))
            if hit is not None:
                loaded[t] = hit
        need = [t for t in need if t not in loaded]
    if need:
        got = files.read("postings", "term", need, ["doc_id", "positions", "doclen"], [field])
        tab = got.table.combine_chunks()
        # NO global sort/take: a (term, doc_id) Table.sort_by gathers the
        # whole 2 GB positions column through Arrow take (measured 8-10 s at
        # 5M docs, the single largest cold stage). Instead each term argsorts
        # its df-sized doc rows (5M int64 ≈ 0.4 s) and a fused, chunked
        # expand+gather below writes the doc-ordered RANK values directly —
        # the positions column is only ever touched once, by the gather.
        doc_np = to_np(tab.column("doc_id"))
        dl_np = to_np(tab.column("doclen"))
        posl = combine(tab.column("positions"))
        flat = to_np(posl.flatten())  # stored int32
        lens_all = to_np(pc.list_value_length(posl))
        loff = np.concatenate(([0], np.cumsum(lens_all, dtype=np.int64)))
        # each term's rows: its key runs, in table order
        runs: dict[str, list] = {}
        for t, a, n in zip(got.keys, (np.cumsum(got.counts) - got.counts).tolist(),
                           got.counts.tolist()):
            runs.setdefault(t, []).append(np.arange(a, a + n))

    def build(t: str):
        rows = np.concatenate(runs.get(t, [np.empty(0, np.int64)]))
        docs = doc_np[rows]
        o = np.argsort(docs, kind="stable")
        rows = rows[o]
        sdocs = docs[o].astype(np.int64)
        dls = dl_np[rows].astype(np.int64)
        oc = lens_all[rows].astype(np.int64)  # per-row tf, doc order
        starts = loff[rows]  # row's slice start in the flat values
        n = int(oc.sum())
        if form == "k":
            dt, base = np.int64, None  # raw positions; _match_key packs keys
        else:
            span = offsets[sdocs + 1] - offsets[sdocs] - 1  # -1: guard slot
            # positions ascend per doc, so only each row's LAST position
            # needs the span check — O(df) instead of an O(Σtf) repeat
            if n:
                nz = oc > 0
                if not bool((flat[(starts + oc)[nz] - 1] < span[nz]).all()):
                    return None
            # uint32 ranks when the token space fits halve probe traffic;
            # +256 headroom keeps rank+i from wrapping for any phrase the
            # rank engine accepts (len < 250, see caller)
            dt = np.uint32 if total + 256 < 2**32 else np.int64
            base = offsets[sdocs].astype(dt)
        ranks = np.empty(n, dtype=dt)
        out_starts = np.cumsum(oc) - oc
        # fused expand+gather+base-add, ~2M values per chunk so the gather
        # index and repeat temporaries stay cache-sized; each chunk writes
        # its own output slice
        cuts = np.unique(np.searchsorted(
            out_starts, np.arange(0, n + 2_000_000, 2_000_000)))
        for c0, c1 in zip(cuts[:-1].tolist(), cuts[1:].tolist()):
            ln = oc[c0:c1]
            m = int(ln.sum())
            if m == 0:
                continue
            loc = np.cumsum(ln) - ln
            idx = np.arange(m, dtype=np.int64)
            idx -= np.repeat(loc, ln)
            idx += np.repeat(starts[c0:c1], ln)
            seg = flat[idx].astype(dt, copy=False)
            if base is not None:
                seg += np.repeat(base[c0:c1], ln)
            ranks[out_starts[c0]: out_starts[c0] + m] = seg
        if form == "k":
            return ranks, sdocs, oc, dls
        return ranks, sdocs, oc, dls, _pack_rank_bits(ranks, total)

    for t in need:
        e = build(t)
        if e is None:  # position outside doclen span → caller falls back
            return None
        loaded[t] = e
        if cache is not None:
            cache.put((t, field, form), e)
    return loaded


def _pack_rank_bits(ranks, total: int):
    """Little-endian packed bitmap with the SORTED ranks' bits set. Built
    through a CHUNKED bool scatter + packbits: the one-shot bool route holds
    a 1 B/token transient (~8× the packed size, hundreds of MB at 5M docs),
    while the fully-vectorized reduceat alternative measured ~9× slower (it
    streams four rank-sized temporaries). 64M-token windows keep the
    transient at a fixed 64 MB and packbits at C speed; ranks are globally
    sorted (see caller) so each window is one searchsorted slice."""
    import numpy as np

    CHUNK_TOKENS = 64 * 1024 * 1024  # 64 MB bool transient, 8 MB packed
    packed = np.zeros(total // 8 + 2, dtype=np.uint8)
    if len(ranks):
        bounds = np.arange(0, total + 1 + CHUNK_TOKENS, CHUNK_TOKENS,
                           dtype=np.int64).clip(max=total + 1)
        # ONE searchsorted for every window boundary, with the probe array
        # cast to the ranks' own dtype — a per-window scalar probe of the
        # wrong dtype silently promotes (COPIES) the whole rank array each
        # call (measured 3 s of a 15 s cold fill at 1M docs)
        cuts = np.searchsorted(ranks, bounds.astype(ranks.dtype))
        for w in range(len(bounds) - 1):
            lo, hi = int(bounds[w]), int(bounds[w + 1])
            a, b = int(cuts[w]), int(cuts[w + 1])
            if a == b:
                continue
            bits = np.zeros(hi - lo, dtype=bool)
            bits[ranks[a:b] - np.asarray(lo, dtype=ranks.dtype)] = True
            # lo is a multiple of 8·(chunk/8), so the packed slice aligns
            packed[lo // 8: lo // 8 + (hi - lo + 7) // 8] = np.packbits(
                bits, bitorder="little")
    return packed


def _adjacent_starts(keys: list):
    """Sorted-key adjacency merge, the one kernel behind both the distributed
    phrase_match and the serving key engine: keys[i] is the sorted
    (doc << 32) | position array of the phrase's i-th term, and a start key
    of keys[0] survives iff key+i is among keys[i] for every i (binary
    search per candidate). Returns the surviving start keys, still sorted."""
    import numpy as np

    cur = keys[0]
    for i, kt in enumerate(keys[1:], start=1):
        if not len(cur):
            break
        if not len(kt):
            return cur[:0]
        probe = cur + i
        idx = np.searchsorted(kt, probe)
        ok = idx < len(kt)
        ok[ok] = kt[idx[ok]] == probe[ok]
        cur = cur[ok]
    return cur


def _match_key(loaded: dict, terms: list[str]):
    """Key-form adjacency over the serving entries (_adjacent_starts), on
    (ordinal << 32) | position keys. As in phrase_match's match_part, the
    ordinals re-code the phrase terms' doc ids densely before packing: a raw
    doc_id ≥ 2³¹ shifted left by 32 overflows int64, and one ≥ 2³² aliases
    a small id. Ordinals keep doc order, so each term's keys stay sorted."""
    import numpy as np

    _, first_docs, _, first_dls = loaded[terms[0]]
    doc_ids = np.unique(np.concatenate([loaded[t][1] for t in dict.fromkeys(terms)]))
    keys = {}
    for t in dict.fromkeys(terms):
        pos, sdocs, oc, _ = loaded[t]
        keys[t] = (np.repeat(np.searchsorted(doc_ids, sdocs), oc) << 32) | pos
    cur = _adjacent_starts([keys[t] for t in terms])
    # cur is a subset of the sorted first-term keys, so docs stay sorted
    ords, tf = np.unique(cur >> 32, return_counts=True)
    return doc_ids[ords], tf, first_docs, first_dls


def _probe_bits(cand_r, packed, shift: int, bit_lut):
    """hit[j] = bit (cand_r[j]+shift) of the packed little-endian bitmap.
    Chunked so the idx/gather temporaries stay cache-sized."""
    import numpy as np

    n = len(cand_r)
    rdt = cand_r.dtype.type
    out = np.empty(n, dtype=bool)
    CH = 4 * 1024 * 1024
    for lo in range(0, n, CH):
        hi = min(lo + CH, n)
        idx = cand_r[lo:hi] + rdt(shift)
        np.not_equal(packed[idx >> rdt(3)] & bit_lut[idx & rdt(7)], 0,
                     out=out[lo:hi])
    return out


def _match_rank(loaded: dict, terms: list[str], offsets):
    """Rank-bitmap adjacency: a candidate at rank r (doc d) survives term i
    iff r+i is still inside d's span AND bit r+i is set in term i's bitmap —
    one bounds check + one byte gather per candidate, no binary search. The
    span guard runs BEFORE the gather, so probes never cross into the next
    doc's range (no false adjacency across doc boundaries) and never index
    past the bitmap."""
    import numpy as np

    e0 = loaded[terms[0]]
    ranks, sdocs, oc, dls = e0[0], e0[1], e0[2], e0[3]
    empty = np.empty(0, dtype=np.int64)
    if not len(ranks):
        return empty, empty, sdocs, dls
    rdt = ranks.dtype.type
    bit_lut = np.left_shift(np.ones(8, dtype=np.uint8), np.arange(8, dtype=np.uint8))
    cand_r = ranks
    # candidate docs are derived LAZILY (searchsorted into offsets) — for the
    # common 2-term phrase they're only computed for the ~1-10% of candidates
    # that survive, instead of materializing a repeat() the size of the whole
    # head-term occurrence list before filtering
    cand_doc = None
    for i, t in enumerate(terms[1:], start=1):
        ent = loaded[t]
        if not len(ent[0]):
            return empty, empty, sdocs, dls
        packed = ent[4]
        if i >= 2:  # distance 1 is guarded by the per-doc guard slot itself
            if cand_doc is None:
                cand_doc = np.searchsorted(offsets, cand_r, side="right") - 1
            keep = (cand_r + rdt(i)) < offsets[cand_doc + 1].astype(cand_r.dtype)
            if not keep.all():
                cand_r, cand_doc = cand_r[keep], cand_doc[keep]
                if not len(cand_r):
                    return empty, empty, sdocs, dls
        # uint8 LUT keeps the whole probe in uint8 (and ranks in uint32 when
        # the token space allows) — no int64 promotion of 10^7-10^8-element
        # temporaries; chunked (see _probe_bits)
        hit = _probe_bits(cand_r, packed, i, bit_lut)
        cand_r = cand_r[hit]
        if cand_doc is not None:
            cand_doc = cand_doc[hit]
        if not len(cand_r):
            return empty, empty, sdocs, dls
    if cand_doc is None:
        # survivors stay rank-sorted, so per-doc tfs come from probing the
        # ~n_docs DOC BOUNDARIES into the survivor array — n_docs·log(m)
        # instead of the other orientation's m·log(n_docs) searchsorted plus
        # a full np.unique sort over m survivors (m ≫ n_docs for head-head
        # phrases; measured ~2 s → ~0.1 s at 1M docs)
        cuts = np.searchsorted(cand_r, offsets.astype(cand_r.dtype))
        counts = cuts[1:] - cuts[:-1]
        uniq = np.flatnonzero(counts)
        return uniq, counts[uniq], sdocs, dls.astype(np.int64)
    # candidates kept first-term rank order, so docs stay sorted
    uniq, tf = np.unique(cand_doc, return_counts=True)
    return uniq, tf, sdocs, dls.astype(np.int64)
