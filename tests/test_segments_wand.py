"""Segment store + WAND: round-trip and rank/score identity vs the exact
Column-expression engine, on the Zipf-skewed synthetic corpus (so head terms
exercise the block-max path for real)."""

from __future__ import annotations

import random


import pytest
from pyspark.sql import functions as F

from ucuddle_search_engine_spark.operators.bm25 import InvertedIndex
from ucuddle_search_engine_spark.operators.segments import build_segments, decode_segment_rows
from ucuddle_search_engine_spark.operators.wand import SegmentSearcher
from ucuddle_search_engine_spark.synth import synth_corpus

N_DOCS = 1500


@pytest.fixture(scope="module")
def corpus(spark):
    return synth_corpus(spark, N_DOCS, partitions=8).cache()


@pytest.fixture(scope="module")
def idx(corpus):
    return InvertedIndex.build(corpus, num_shards=3).persist()


@pytest.fixture(scope="module")
def segments(idx):
    return build_segments(idx.postings, idx.dstats, idx.cstats, num_shards=3, block_size=64).cache()


@pytest.fixture(scope="module")
def searcher(segments, idx):
    return SegmentSearcher(segments, idx.tstats, idx.cstats, boosts=idx.boosts)


def test_corpus_deterministic(spark, corpus):
    again = synth_corpus(spark, N_DOCS, partitions=3)  # different partitioning
    a = sorted(r["commit"] + "|" + r["content"][:50] for r in corpus.collect())
    b = sorted(r["commit"] + "|" + r["content"][:50] for r in again.collect())
    assert a == b


def test_sha256_invariant(corpus, idx):
    """Per-row content sha256 equality vs the source table (input_hint)."""
    import hashlib

    src = {r["repo"] + "/" + r["path"]: hashlib.sha256(r["content"].encode()).hexdigest()
           for r in corpus.collect()}
    eng = {r["repo"] + "/" + r["path"]: r["content_sha256"] for r in idx.docs.collect()}
    assert src == eng


def test_tf_doclen_invariant(idx):
    """Σtf per (doc, field) == stored doclen; docs.doclen == content doclen."""
    bad = (
        idx.dstats.alias("d")
        .join(idx.docs.select("doc_id", F.col("doclen").alias("dl2")), "doc_id")
        .filter((F.col("field") == 0) & (F.col("doclen") != F.col("dl2")))
        .count()
    )
    assert bad == 0


def test_segment_roundtrip(idx, segments):
    seg = segments.filter(F.col("field") == 0).toPandas()
    post = (
        idx.postings.filter(F.col("field") == 0)
        .select("term", "doc_id", "tf", "doclen")
        .toPandas()
    )
    # pick a few head + tail terms
    counts = post.groupby("term").size().sort_values(ascending=False)
    sample = list(counts.index[:3]) + list(counts.index[-3:])
    for term in sample:
        srows = seg[seg["term"] == term]
        dec = (
            decode_segment_rows(srows.assign(block_no=srows["block_no"] + srows["shard"] * 10**6))
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        exp = post[post["term"] == term].sort_values("doc_id").reset_index(drop=True)
        assert list(dec["doc_id"]) == list(exp["doc_id"])
        assert list(dec["tf"]) == list(exp["tf"])
        assert list(dec["doclen"]) == list(exp["doclen"])


def test_block_invariants(segments):
    pdf = segments.toPandas()
    assert (pdf["n"] > 0).all()
    assert (pdf["n"] <= 64).all()
    assert (pdf["min_doc"] <= pdf["max_doc"]).all()
    assert ((pdf["max_impact"] > 0) & (pdf["max_impact"] < 1)).all()
    # blocks of one (shard, term, field) chain are doc-disjoint and ordered
    g = pdf.sort_values(["shard", "term", "field", "block_no"]).groupby(["shard", "term", "field"])
    for _, grp in list(g)[:50]:
        md = grp["max_doc"].to_numpy()
        mn = grp["min_doc"].to_numpy()
        assert (mn[1:] > md[:-1]).all()


QUERY_TERMS_HEAD = ["t0", "t1", "t2"]


def _exact(idx, terms, mode, k=10):
    return [(r["doc_id"], r["score"]) for r in idx.search_terms(terms, k=k, mode=mode).collect()]


def _wand(searcher, terms, mode, k=10, algorithm="wand"):
    """Default algorithm='wand' so the block-max pruning itself is what's
    tested; the auto/taat paths are asserted separately."""
    return [
        (r["doc_id"], r["score"])
        for r in searcher.search_terms(terms, k=k, mode=mode, algorithm=algorithm).collect()
    ]


def _assert_same(a, b, terms, mode):
    assert [d for d, _ in a] == [d for d, _ in b], f"rank mismatch {terms} {mode}: {a} vs {b}"
    for (_, x), (_, y) in zip(a, b):
        assert abs(x - y) < 1e-9


def test_wand_head_terms(idx, searcher):
    for mode in ("or", "and"):
        for algo in ("wand", "taat", "auto"):
            _assert_same(
                _exact(idx, QUERY_TERMS_HEAD, mode),
                _wand(searcher, QUERY_TERMS_HEAD, mode, algorithm=algo),
                QUERY_TERMS_HEAD, f"{mode}/{algo}",
            )


def test_wand_randomized(idx, searcher):
    rng = random.Random(42)
    vocab = [f"t{i}" for i in range(0, 2000)]
    for trial in range(12):
        terms = rng.sample(vocab[:50], rng.randint(1, 3)) if trial % 2 == 0 else rng.sample(vocab, rng.randint(1, 4))
        mode = "and" if trial % 3 == 0 else "or"
        _assert_same(_exact(idx, terms, mode), _wand(searcher, terms, mode), terms, mode)


def test_wand_absent_term(idx, searcher):
    assert _wand(searcher, ["zzzabsent999x"], "and") == []
    _assert_same(
        _exact(idx, ["t0", "zzzabsent999x"], "or"),
        _wand(searcher, ["t0", "zzzabsent999x"], "or"),
        ["t0", "zzzabsent999x"], "or",
    )


def test_title_boost_present(idx, searcher):
    """Synth titles are 'module modX in orgY/repoZ' — querying 'module' hits
    the title field with boost 5; exact and WAND must agree on the blend."""
    terms = ["module", "t3"]
    for mode in ("or", "and"):
        _assert_same(_exact(idx, terms, mode), _wand(searcher, terms, mode), terms, mode)


def test_pagination(idx, searcher):
    """ES from+size: page slices concatenate to the unpaged ranking, for both
    the exact index and the segment searcher."""
    terms = ["t0", "t1"]
    full = _exact(idx, terms, "or", k=20)
    p1 = _exact(idx, terms, "or", k=10)
    p2 = [(r["doc_id"], r["score"]) for r in
          idx.search_terms(terms, k=10, mode="or", offset=10).collect()]
    assert p1 + p2 == full

    sfull = _wand(searcher, terms, "or", k=20)
    s1 = _wand(searcher, terms, "or", k=10)
    s2 = [(r["doc_id"], r["score"]) for r in
          searcher.search_terms(terms, k=10, mode="or", offset=10, algorithm="wand").collect()]
    assert s1 + s2 == sfull


def _rows_blocklist(rows: list[dict], weight_idf: float = 1.0, avgdl: float = 10.0):
    """A _BlockList over hand-written block rows given in block_no order."""
    import numpy as np

    from ucuddle_search_engine_spark.operators.wand import _BlockList

    def col(c, dt):
        return np.array([r[c] for r in rows], dtype=dt)

    return _BlockList(col("n", np.int64), col("max_impact", np.float64),
                      col("min_doc", np.int64), col("max_doc", np.int64),
                      [r["doc_bytes"] for r in rows], [r["tf_bytes"] for r in rows],
                      [r["dl_bytes"] for r in rows], weight_idf, avgdl)


def _frame_blocklist(pdf, widf: float, avgdl: float, cache=None):
    """The one _BlockList of a single-(shard, term, field) frame of segment
    rows, through the chain builder both query paths use."""
    import numpy as np

    from ucuddle_search_engine_spark.operators.wand import _build_chains

    t, f = pdf["term"].iloc[0], int(pdf["field"].iloc[0])
    [(_, L)] = _build_chains(lambda c: pdf[c].to_numpy(), [t], np.zeros(len(pdf), np.int64),
                             None, {(t, f): widf}, {(t, f): avgdl}, cache=cache)
    return L


def test_blocklist_unsorted_ranges_never_underestimate():
    """A _BlockList whose block_no order is NOT doc order (a store mixing
    builds without a unit column) must still give range_max_ub bounds that
    are >= the true max over intersecting blocks — pre-fix, searchsorted over
    unsorted min/max arrays silently underestimated and block-max OR pruning
    could drop true top-k docs."""
    import numpy as np

    from ucuddle_search_engine_spark.functions.varbyte import encode_doc_ids, vb_encode

    rng = np.random.RandomState(7)
    # 8 disjoint doc ranges, deliberately shuffled w.r.t. block_no
    ranges = [(i * 100, i * 100 + 50) for i in range(8)]
    perm = rng.permutation(8)
    rows = []
    for bno, ri in enumerate(perm):
        lo, hi = ranges[ri]
        docs = np.array([lo, (lo + hi) // 2, hi], dtype=np.int64)
        rows.append({
            "block_no": bno, "min_doc": lo, "max_doc": hi, "n": 3,
            "max_impact": 0.1 + ri,  # distinct per range
            "doc_bytes": encode_doc_ids(docs),
            "tf_bytes": vb_encode(np.array([1, 2, 1], np.int64)),
            "dl_bytes": vb_encode(np.array([10, 10, 10], np.int64)),
        })
    L = _rows_blocklist(rows)

    mins = np.array([r[0] for r in ranges]); maxs = np.array([r[1] for r in ranges])
    ubs_true = np.array([0.1 + i for i in range(8)])
    for lo, hi in [(0, 1000), (120, 130), (0, 40), (640, 800), (55, 99), (310, 520)]:
        inter = (maxs >= lo) & (mins <= hi)
        want = float(ubs_true[inter].max()) if inter.any() else 0.0
        got = L.range_max_ub(lo, hi)
        assert got >= want - 1e-12, (lo, hi, got, want)

    # OVERLAPPING ranges (two builds over the same id space) → conservative
    rows2 = rows[:4]
    for i, r in enumerate(rows[4:]):
        r2 = dict(r); r2["min_doc"] = 10 + i * 90; r2["max_doc"] = 95 + i * 90
        rows2.append(r2)
    L2 = _rows_blocklist(rows2)
    assert not L2._range_exact  # interleaved ranges detected
    # conservative fallback: every range query sees the global max ub
    assert L2.range_max_ub(0, 5) == float(np.max(L2.ubs))


def test_head_term_skew_chunking(spark):
    """A degenerate head term present in EVERY doc (200k postings, one term)
    must be chunked into bounded (shard, term, chunk) groups — no group ever
    exceeds block_size*512 postings — and still round-trip + score exactly."""
    from pyspark.sql import functions as F

    from ucuddle_search_engine_spark.operators.segments import build_segments

    n = 200_000
    postings = (
        spark.range(n)
        .select(
            F.lit("megaterm").alias("term"),
            F.col("id").alias("doc_id"),
            F.lit(0).alias("field"),
            (F.col("id") % 3 + 1).cast("long").alias("tf"),
            F.lit(50).cast("long").alias("doclen"),
        )
    )
    cstats = spark.createDataFrame([(0, n, 50.0)], "field int, n_docs long, avgdl double")
    segs = build_segments(postings, None, cstats, num_shards=3, block_size=128).cache()
    pdf = segs.toPandas()
    # bounded groups: per (shard, chunk-range of block_no) the postings count
    # is capped; globally every block holds <= block_size postings and the
    # whole chain reconstructs
    assert (pdf["n"] <= 128).all()
    assert int(pdf["n"].sum()) == n
    per_shard_chunk = pdf.groupby(["shard", pdf["block_no"] // 512])["n"].sum()
    assert (per_shard_chunk <= 128 * 512).all()
    # ranking still exact: every doc has the same doclen, tf in {1,2,3} —
    # top-k must be the tf=3 docs with lowest ids
    from ucuddle_search_engine_spark.operators.wand import SegmentSearcher

    tstats = segs.groupBy("term", "field").agg(F.sum("n").alias("df"))
    s = SegmentSearcher(segs, tstats, cstats, boosts={0: 1.0})
    top = [r["doc_id"] for r in s.search_terms(["megaterm"], k=5, mode="or").collect()]
    assert top == [2, 5, 8, 11, 14]
    segs.unpersist()


def _one_chain(segments, term: str):
    """One shard's block rows of `term` in field 0, as a pandas frame."""
    pdf = segments.filter(f"term = '{term}' and field = 0").toPandas()
    return pdf[pdf["shard"] == int(pdf["shard"].iloc[0])]


def test_blocklist_cache_paths_identical(segments):
    """_BlockList.decode through a DecodeCache (slices of the memoized
    whole-chain scored arrays) must return bit-identical (docs, contribs) to
    the uncached decode of only the selected blocks, for EVERY selection
    shape — full chain, contiguous run, scattered, single block — cold and
    warm."""
    import numpy as np

    from ucuddle_search_engine_spark.operators.wand import DecodeCache

    pdf = _one_chain(segments, "t0")
    plain = _frame_blocklist(pdf, 1.7, 300.0)
    n = len(plain.ubs)
    assert n >= 4, "fixture must span several blocks"
    rng = np.random.RandomState(3)
    sels = [
        np.arange(n),                      # full chain
        np.arange(0, n, 2),                # scattered, covers ~half
        np.sort(rng.choice(n, size=max(1, n // 3), replace=False)),
        np.array([0]),                     # single block
        np.array([n - 1]),                 # last block
        np.arange(n // 2, n),              # one contiguous run
        np.array([], dtype=np.int64),      # empty selection
    ]
    for sel in sels:
        want = plain.decode(sel)
        cache = DecodeCache()  # every shape starts cold
        cached = _frame_blocklist(pdf, 1.7, 300.0, cache=cache)
        for _ in range(2):  # cold fill, then warm hit
            got = cached.decode(sel)
            for w, g in zip(want, got):
                assert w.dtype == g.dtype and np.array_equal(w, g), (sel[:5], len(sel))


def test_wide_or_exhaustive_branch_parity(idx, searcher, monkeypatch):
    """Disjunctions wider than WIDE_OR_LISTS score exhaustively (TAAT
    bincount) instead of seed+prune — the two branches must rank and score
    identically. Force the exhaustive branch for small queries by dropping
    the threshold to 0, and cross-check a genuinely wide OR (> default
    threshold) against the exact Column engine."""
    from ucuddle_search_engine_spark.operators import wand as W

    # same 3-term head query through both branches
    pruned = _wand(searcher, QUERY_TERMS_HEAD, "or")
    monkeypatch.setattr(W, "WIDE_OR_LISTS", 0)
    wide = _wand(searcher, QUERY_TERMS_HEAD, "or")
    _assert_same(pruned, wide, QUERY_TERMS_HEAD, "or/wide-branch")
    monkeypatch.undo()

    # a >48-term OR takes the wide branch by default; parity vs exact engine
    terms = [f"t{i}" for i in range(60)]
    _assert_same(_exact(idx, terms, "or"), _wand(searcher, terms, "or"),
                 "60-term OR", "or")


def test_scored_memo_no_full_chain_retention(segments):
    """Every DecodeCache entry is one whole chain's (docs, contribs) 2-tuple
    keyed (chain key, weight_idf, avgdl), whatever selections filled it —
    no per-block or unscored full-chain entries — and warm hits return the
    same bit-identical contributions."""
    import numpy as np

    from ucuddle_search_engine_spark.operators.wand import DecodeCache

    cache = DecodeCache()
    lists = [_frame_blocklist(_one_chain(segments, t), 1.7, 300.0, cache=cache)
             for t in ("t0", "t1", "t2")]
    n = len(lists[0].ubs)
    lists[0].decode(np.array([0]))
    lists[0].decode(np.arange(0, n, 2))
    lists[1].decode(np.arange(len(lists[1].ubs)))
    cache.get_scored_many(lists)
    assert len(cache._d) == len(lists)
    for L in lists:
        v = cache._d[(L._ckey, float(L.weight_idf), float(L.avgdl))]
        assert len(v) == 2 and v[0].dtype == np.int64 and v[1].dtype == np.float64
        assert len(v[0]) == len(v[1]) == int(L.ns.sum())  # the whole chain
        plain = _frame_blocklist(_one_chain(segments, L._ckey[1]), 1.7, 300.0)
        want = plain.decode(np.arange(len(plain.ubs)))
        for w, g in zip(want, L.decode(np.arange(len(L.ubs)))):
            assert np.array_equal(w, g)
    assert cache._n == sum(int(L.ns.sum()) for L in lists)


def test_get_scored_many_bit_identical(segments):
    """The batched cold-fill scorer (DecodeCache.get_scored_many — one
    varbyte pass per stream over EVERY miss, per-chain weights expanded by
    np.repeat) must produce bit-identical (docs, contribs) to the uncached
    whole-chain _BlockList.decode, for all-miss, all-hit, and mixed hit/miss
    batches."""
    import numpy as np

    from ucuddle_search_engine_spark.operators.wand import DecodeCache

    frames = []
    for i, t in enumerate(["t0", "t1", "t2", "t50"]):
        pdf = segments.filter(f"term = '{t}' and field = 0").toPandas()
        if not pdf.empty:
            pdf = pdf[pdf["shard"] == int(pdf["shard"].iloc[0])]
            frames.append((pdf, 1.5 + 0.3 * i, 280.0 + 7.0 * i))
    assert len(frames) >= 3, "fixture must yield several distinct chains"
    want = [_frame_blocklist(pdf, w, a).decode(np.arange(len(pdf)))
            for pdf, w, a in frames]

    def batch(cache):
        return [_frame_blocklist(pdf, w, a, cache=cache) for pdf, w, a in frames]

    cold = DecodeCache()
    got = cold.get_scored_many(batch(cold))  # all-miss batch on a fresh cache
    for (wd, wc), (gd, gc) in zip(want, got):
        assert np.array_equal(wd, gd) and np.array_equal(wc, gc)
        assert gd.dtype == np.int64 and gc.dtype == np.float64
    again = cold.get_scored_many(batch(cold))  # warm: all-hit
    for (wd, wc), (gd, gc) in zip(want, again):
        assert np.array_equal(wd, gd) and np.array_equal(wc, gc)
    mixed = DecodeCache()
    lists = batch(mixed)
    lists[1].decode(np.arange(len(lists[1].ubs)))  # one chain memoized first
    for (wd, wc), (gd, gc) in zip(want, mixed.get_scored_many(lists)):
        assert np.array_equal(wd, gd) and np.array_equal(wc, gc)
    assert cold._n <= cold.max_postings


def test_serving_and_distributed_chain_builders_agree(tmp_path):
    """The serving tier (_term_chains over a written store's segments rows)
    and the distributed path (_frame_chains over the same rows as a shuffled
    pandas frame, unit as a column) build equal chains: the same (term,
    chain key) order, block metadata, block bytes and weights, and
    bit-identical decoded contributions. Hand-written rows over two units,
    two shards and two fields; no Spark."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ucuddle_search_engine_spark.functions.varbyte import encode_doc_ids, vb_encode
    from ucuddle_search_engine_spark.operators.wand import _frame_chains

    rng = np.random.RandomState(11)
    rows = []
    for unit in (0, 1):
        for t in ("ab", "cd", "ef"):
            for shard in (0, 1):
                for field in (0, 1):
                    lo = unit * 10_000 + shard
                    for b in range(int(rng.randint(1, 4))):
                        docs = np.sort(rng.choice(np.arange(lo + b * 600, lo + b * 600 + 500, 2),
                                                  size=int(rng.randint(1, 6)), replace=False))
                        tfs = rng.randint(1, 5, len(docs))
                        dls = rng.randint(5, 60, len(docs))
                        rows.append({
                            "unit": unit, "term": t, "shard": shard, "field": field,
                            "block_no": b, "n": len(docs), "min_doc": int(docs[0]),
                            "max_doc": int(docs[-1]),
                            "max_impact": float(rng.uniform(0.1, 2.0)),
                            "doc_bytes": encode_doc_ids(docs.astype(np.uint64)),
                            "tf_bytes": vb_encode(tfs.astype(np.uint64)),
                            "dl_bytes": vb_encode(dls.astype(np.uint64)),
                        })
    pdf = pd.DataFrame(rows).sample(frac=1.0, random_state=5).reset_index(drop=True)
    store = tmp_path / "store"
    for unit in (0, 1):
        d = store / "segments" / f"unit={unit}"
        d.mkdir(parents=True)
        part = pdf[pdf["unit"] == unit].drop(columns="unit")
        tab = pa.Table.from_pandas(part, preserve_index=False).cast(pa.schema([
            ("term", pa.string()), ("shard", pa.int32()), ("field", pa.int32()),
            ("block_no", pa.int32()), ("n", pa.int32()), ("min_doc", pa.int64()),
            ("max_doc", pa.int64()), ("max_impact", pa.float64()),
            ("doc_bytes", pa.binary()), ("tf_bytes", pa.binary()), ("dl_bytes", pa.binary())]))
        pq.write_table(tab, str(d / "part-0.parquet"), row_group_size=7)
    terms = ["ab", "cd", "zz"]  # "ef" is not queried, "zz" is absent
    widf = {(t, f): 1.25 + 0.5 * i + 0.1 * f for i, t in enumerate(terms) for f in (0, 1)}
    avgdl = {(t, f): 30.0 + f for t in terms for f in (0, 1)}
    s = SegmentSearcher(None, None, None, boosts={0: 1.0, 1: 0.5}, store_dir=str(store))
    by_term = s._term_chains(terms, [0, 1], widf, avgdl)
    serving = [(t, L) for t in terms for L in by_term[t]]
    dist = _frame_chains(pdf[pdf["term"].isin(terms)], widf, avgdl)
    assert len(serving) == len(dist) == 2 * 2 * 2 * 2  # terms × units × shards × fields
    for (ts, a), (td, b) in zip(serving, dist):
        assert (ts, a._ckey) == (td, b._ckey)
        for attr in ("ubs", "min_docs", "max_docs", "ns"):
            x, y = getattr(a, attr), getattr(b, attr)
            assert x.dtype == y.dtype and np.array_equal(x, y), (a._ckey, attr)
        for attr in ("doc_bytes", "tf_bytes", "dl_bytes", "weight_idf", "avgdl"):
            assert getattr(a, attr) == getattr(b, attr), (a._ckey, attr)
        for x, y in zip(a.decode(np.arange(len(a.ns))), b.decode(np.arange(len(b.ns)))):
            assert np.array_equal(x, y)
    assert by_term["zz"] == []
    assert s._seg_bytes == sum(s._seg_costs.values()) > 0


def test_decode_cache_default_cap_ram_derived(monkeypatch):
    """The default DecodeCache bound scales with the box's physical RAM
    (page-cache sizing) between a 16M floor and a 512M ceiling, and the env
    override wins outright — so a serving shard with head-term working sets
    past 16M postings (e.g. 5M-doc stores) stays warm without unbounding
    memory."""
    from ucuddle_search_engine_spark.operators.wand import (
        _default_decode_cache_postings,
    )

    monkeypatch.delenv("UCUDDLE_DECODE_CACHE_POSTINGS", raising=False)
    cap = _default_decode_cache_postings()
    assert 16_000_000 <= cap <= 512_000_000
    import os as _os

    ram = _os.sysconf("SC_PAGE_SIZE") * _os.sysconf("SC_PHYS_PAGES")
    assert cap == min(max(16_000_000, ram // 20 // 24), 512_000_000)
    monkeypatch.setenv("UCUDDLE_DECODE_CACHE_POSTINGS", "12345")
    assert _default_decode_cache_postings() == 12345


def test_bad_algorithm_raises():
    """An `algorithm` outside auto/taat/wand — a typo, or a retired scorer
    name — fails loudly before any read or Spark job: the searcher below
    has no store behind it, so anything past validation would crash on
    None instead of raising ValueError."""
    bare = SegmentSearcher(None, None, None)
    for algo in ("exact", "wand_loop", "wnad"):
        with pytest.raises(ValueError, match="algorithm"):
            bare.search_terms(["t0", "t1"], mode="or", algorithm=algo)
        with pytest.raises(ValueError, match="algorithm"):
            bare.search_local(["t0", "t1"], mode="or", algorithm=algo)


@pytest.fixture(scope="module")
def written_store(built_store):
    """A 400-doc, 2-unit written store for the serving-tier tests."""
    return built_store(400, 4, n_units=2, write_postings=True)


def test_or_scores_independent_of_cache_state(written_store):
    """An OR query's scores must not depend on what earlier queries left in
    the decode cache: a cold OR on a fresh searcher and the same OR after
    an AND over its terms filled the scored-chain memos return bit-identical
    (doc_id, score) lists — compared with ==, no rounding. Mid-df pairs:
    neither head-dominated nor wide, so nothing but cache state separates
    the two runs."""
    for terms in (["t40", "t100"], ["t55", "t65"], ["t80", "t200"]):
        cold = SegmentSearcher.open_local(written_store).search_local(
            terms, k=10, mode="or")
        warm = SegmentSearcher.open_local(written_store)
        assert warm.search_local(terms, k=10, mode="and")
        assert warm.search_local(terms, k=10, mode="or") == cold, terms
        assert len(cold) == 10


def test_search_local_taat_and_grouping_parity(spark, written_store):
    """The serving-tier routing knobs must never change answers: TAAT,
    block-max wand and the distributed path all rank and score identically
    on the same written store."""
    from ucuddle_search_engine_spark.plans.build_index import load_searcher

    out = written_store
    dist = load_searcher(spark, out).prepare()
    local = SegmentSearcher.open_local(out)

    def run(terms, mode, **kw):
        return [(d, round(s, 9)) for d, s in
                local.search_local(terms, k=10, mode=mode, **kw)]

    for terms, mode in ((["t0", "t1"], "or"), (["t0", "t1", "t2", "t3"], "or"),
                        (["t5", "t40"], "and"), (["t123"], "or")):
        want = [(r["doc_id"], round(r["score"], 9)) for r in
                dist.search_terms(terms, k=10, mode=mode).collect()]
        got_auto = run(terms, mode)
        got_taat = run(terms, mode, algorithm="taat")
        got_wand = run(terms, mode, algorithm="wand")
        assert got_auto == want, (terms, mode, "auto")
        assert got_taat == want, (terms, mode, "taat")
        assert got_wand == want, (terms, mode, "wand")

    # block-max wand over the shard groups answers like auto
    q = ["t0", "t1"]
    assert run(q, "or", algorithm="wand") == run(q, "or")

    # per-term chain cache: warm hit returns the same object; absent terms
    # cache an empty entry; eviction keeps the budget
    fields = sorted(local.boosts)
    widf, avgdl, _ = local._prologue(["t0", "t1", "t77", "t88", "zz9absent"], "or",
                                     "auto", None, local=True)

    def chains(t):
        return local._term_chains([t], fields, widf, avgdl)[t]

    c1, c2 = chains("t0"), chains("t0")
    assert c1 is c2 and len(c1) > 0
    assert chains("zz9absent") == []
    old_cap = SegmentSearcher.SEG_CACHE_BYTES
    try:
        SegmentSearcher.SEG_CACHE_BYTES = 1
        chains("t77")  # miss → insert → evict others
        chains("t88")
        assert len(local._seg_chains) <= 2  # newest entry survives the purge
        # the byte ledger matches the surviving entries exactly (evictions
        # subtract the same charge the insert added)
        assert set(local._seg_costs) == set(local._seg_chains)
        assert local._seg_bytes == sum(local._seg_costs.values()) > 0
    finally:
        SegmentSearcher.SEG_CACHE_BYTES = old_cap
