"""Phrase matching from stored positions vs a pure-python oracle."""

from __future__ import annotations

import re

import pytest

from ucuddle_search_engine_spark.operators.bm25 import InvertedIndex
from ucuddle_search_engine_spark.operators.phrase import phrase_match, phrase_search


@pytest.fixture(scope="module")
def idx(documents):
    return InvertedIndex.from_documents_table(documents).persist()


@pytest.fixture(scope="module")
def doc_texts(documents):
    return {r["doc_id"]: r["text"] for r in documents.collect()}


def _py_phrase_tf(text, phrase):
    toks = re.findall(r"[a-z0-9]+", text.lower())
    n = len(phrase)
    return sum(1 for i in range(len(toks) - n + 1) if toks[i : i + n] == phrase)


@pytest.mark.parametrize("phrase", [["spark", "window"], ["table", "table"], ["a", "the", "line"]])
def test_phrase_match_oracle(idx, doc_texts, phrase):
    got = {r["doc_id"]: r["phrase_tf"] for r in phrase_match(idx.postings, phrase).collect()}
    exp = {d: c for d, t in doc_texts.items() if (c := _py_phrase_tf(t, phrase)) > 0}
    assert got == exp


def test_phrase_absent(idx):
    assert phrase_match(idx.postings, ["zz9absent", "table"]).count() == 0


def test_phrase_search_scored(idx, doc_texts):
    phrase = ["spark", "window"]
    out = phrase_search(idx.postings, idx.dstats, idx.cstats, phrase, k=5).collect()
    assert 0 < len(out) <= 5
    scores = [r["score"] for r in out]
    assert scores == sorted(scores, reverse=True)
    assert all(s > 0 for s in scores)
    # top doc really contains the phrase
    assert _py_phrase_tf(doc_texts[out[0]["doc_id"]], phrase) > 0


@pytest.mark.parametrize("num_buckets", [1, 4])
def test_phrase_match_doc_ids_past_2_31(spark, num_buckets):
    """phrase_match packs (doc << 32) | position keys per partition. Doc ids
    at and past 2³¹ and 2³² must neither overflow nor alias a small id in
    the same partition (raw 2³²+7 << 32 wraps onto doc 7's keys): the result
    equals the join-chain oracle, including a phrase that spans two such
    docs' positions only under aliasing."""
    from ucuddle_search_engine_spark.operators.phrase import phrase_match_join
    from ucuddle_search_engine_spark.schema import POSTINGS_SCHEMA

    big, huge, far = 2**31 + 5, 2**32 + 7, 2**33
    rows = [
        ("a", 7, 0, 1, [0]), ("b", 7, 0, 1, [5]),  # no phrase in doc 7
        ("a", huge, 0, 1, [4]), ("b", huge, 0, 1, [1]),  # none in huge either
        ("a", big, 0, 2, [1, 3]), ("b", big, 0, 2, [2, 9]),
        ("a", far, 0, 2, [0, 2]), ("b", far, 0, 2, [1, 3]),
    ]
    postings = spark.createDataFrame(rows, schema=POSTINGS_SCHEMA)
    for phrase, exp in ((["a", "b"], {big: 1, far: 2}), (["b", "a"], {big: 1, far: 1})):
        want = {r["doc_id"]: r["phrase_tf"]
                for r in phrase_match_join(postings, phrase).collect()}
        got = {r["doc_id"]: r["phrase_tf"]
               for r in phrase_match(postings, phrase, num_buckets=num_buckets).collect()}
        assert want == exp, phrase
        assert got == want, phrase


def test_phrase_local_key_engine_doc_ids_past_2_31(tmp_path):
    """The serving key engine packs (doc ordinal << 32) | position keys, so
    doc ids at and past 2³¹ and 2³² neither overflow nor alias a small id
    (raw 2³²+7 << 32 wraps onto doc 7's keys). A hand-written sidecar with
    the rows of test_phrase_match_doc_ids_past_2_31, the rank engine forced
    off through _RANK_INVALID; no Spark."""
    import json
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ucuddle_search_engine_spark.operators import phrase as P
    from ucuddle_search_engine_spark.operators.bm25 import B, K1

    big, huge, far = 2**31 + 5, 2**32 + 7, 2**33
    rows = [
        ("a", 7, [0]), ("b", 7, [5]),  # no phrase in doc 7
        ("a", huge, [4]), ("b", huge, [1]),  # none in huge either
        ("a", big, [1, 3]), ("b", big, [2, 9]),
        ("a", far, [0, 2]), ("b", far, [1, 3]),
    ]
    store = str(tmp_path / "store")
    (tmp_path / "store" / "postings").mkdir(parents=True)
    pq.write_table(pa.table({
        "term": pa.array([r[0] for r in rows]),
        "field": pa.array([0] * len(rows), pa.int32()),
        "doc_id": pa.array([r[1] for r in rows], pa.int64()),
        "positions": pa.array([r[2] for r in rows], pa.list_(pa.int32())),
        "doclen": pa.array([10] * len(rows), pa.int64()),
    }), str(tmp_path / "store" / "postings" / "part-0.parquet"))
    with open(tmp_path / "store" / "cstats.json", "w") as fh:
        json.dump([{"field": 0, "n_docs": 4, "avgdl": 10.0}], fh)

    P._RANK_INVALID.add((store, 0))
    try:
        for phrase, exp in ((["a", "b"], {big: 1, far: 2}), (["b", "a"], {big: 1, far: 1})):
            df = float(len(exp))
            idf = math.log(1.0 + (4.0 - df + 0.5) / (df + 0.5))
            want = sorted(((d, idf * (tf / (tf + K1 * (1.0 - B + B * 10.0 / 10.0))))
                           for d, tf in exp.items()), key=lambda x: (-x[1], x[0]))
            got = P.phrase_search_local(store, phrase, k=10)
            assert got == want, phrase
            cache = P.PhraseKeysCache()
            assert P.phrase_search_local(store, phrase, k=10, cache=cache) == want
            assert P.phrase_search_local(store, phrase, k=10, cache=cache) == want  # warm
    finally:
        P._RANK_INVALID.discard((store, 0))


def test_phrase_search_over_written_store(spark, built_store):
    """Quoted-phrase top-k straight from a WRITTEN store's positional sidecar
    must equal the in-memory phrase engine — the corpus is never re-read."""
    from pyspark.sql import functions as F

    from ucuddle_search_engine_spark.plans.build_index import phrase_search_written
    from ucuddle_search_engine_spark.synth import synth_corpus

    corpus = synth_corpus(spark, 300, partitions=4).cache()
    out = built_store(300, 4, n_units=2, write_postings=True)

    idx = InvertedIndex.build(corpus, num_shards=3)
    phrase = ["t0", "t1"]
    want = [(r["doc_id"], round(r["score"], 9)) for r in
            phrase_search(idx.postings.filter(F.col("field") == 0),
                          idx.dstats, idx.cstats, phrase, k=5).collect()]
    got = [(r["doc_id"], round(r["score"], 9)) for r in
           phrase_search_written(spark, out, phrase, k=5).collect()]
    assert got == want and len(got) > 0

    # the Spark-free serving path (pyarrow sidecar read + numpy adjacency)
    # must rank and score identically to both engines
    import numpy as np

    from ucuddle_search_engine_spark.operators.phrase import phrase_search_local

    local = [(d, round(s, 9)) for d, s in phrase_search_local(out, phrase, k=5)]
    assert local == want

    # 3-term chain, absent term, single term — all three path-parity checked
    for ph in (["t0", "t1", "t0"], ["t0", "zzzabsent"], ["t1"]):
        w = [(r["doc_id"], round(r["score"], 9)) for r in
             phrase_search(idx.postings.filter(F.col("field") == 0),
                           idx.dstats, idx.cstats, ph, k=5).collect()]
        g = [(d, round(s, 9)) for d, s in phrase_search_local(out, ph, k=5)]
        assert g == w, ph

    # tombstoned docs vanish from matches AND the phrase df
    top_doc = want[0][0]
    dead = np.asarray([top_doc], dtype=np.int64)
    with_dead = phrase_search_local(out, phrase, k=5, dead=dead)
    assert top_doc not in [d for d, _ in with_dead] and with_dead

    # keys cache: cold fill, warm hit, and forced eviction all rank-identical;
    # tombstones still apply on cached (unfiltered) keys
    from ucuddle_search_engine_spark.operators.phrase import PhraseKeysCache

    pkc = PhraseKeysCache()
    cold = phrase_search_local(out, phrase, k=5, cache=pkc)
    assert [(d, round(s, 9)) for d, s in cold] == want and pkc._n > 0
    warm = phrase_search_local(out, phrase, k=5, cache=pkc)
    assert warm == cold
    assert phrase_search_local(out, phrase, k=5, dead=dead, cache=pkc) == with_dead
    tiny = PhraseKeysCache(max_keys=1)  # every term over budget → evict-churn
    assert phrase_search_local(out, phrase, k=5, cache=tiny) == cold
    # byte-charged LRU: resident bytes never exceed one entry's actual size
    # (a single over-budget entry is allowed to stay to serve its own query)
    assert tiny._n <= max((tiny._nbytes(v) for v in tiny._d.values()), default=0)
    assert len(tiny._d) <= 2  # the current query's terms at most, never growth


def test_phrase_local_rank_engine_and_fallback(built_store):
    """The content-field rank-bitmap engine must (a) actually engage on a
    healthy store, (b) agree exactly with the forced sorted-key engine, and
    (c) permanently fall back — with identical results — when docs.doclen
    understates the sidecar's position space (the self-validation that keeps
    an inconsistent store from ever matching across doc boundaries)."""
    import pyarrow.dataset as pds
    import pyarrow.parquet as pq

    from ucuddle_search_engine_spark.operators import phrase as P

    out = built_store(200, 2, n_units=1, write_postings=True)

    phrase = ["t0", "t1"]
    want = P.phrase_search_local(out, phrase, k=5)
    assert (out, 0) not in P._RANK_INVALID and want  # rank engine ran clean
    P._RANK_INVALID.add((out, 0))
    try:
        assert P.phrase_search_local(out, phrase, k=5) == want  # key parity
    finally:
        P._RANK_INVALID.discard((out, 0))

    # corrupt docs.doclen to 1 → fill-time validation must reject the rank
    # form, flag the store, and the key engine must still serve exact results
    import glob
    import os as _os

    for f in glob.glob(_os.path.join(out, "docs", "**", "*.parquet"), recursive=True):
        t = pq.read_table(f)
        ones = pds.dataset(f).to_table().column("doclen")
        import pyarrow as pa

        t = t.set_column(t.schema.get_field_index("doclen"), "doclen",
                         pa.array([1] * len(t), type=ones.type))
        pq.write_table(t, f)
    assert P.phrase_search_local(out, phrase, k=5) == want
    assert (out, 0) in P._RANK_INVALID


def test_phrase_search_written_applies_tombstones(spark, built_store):
    """A tombstoned doc that holds the phrase leaves the distributed phrase
    top-k (match set and phrase df), which then equals the serving top-k
    over the same tombstones."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ucuddle_search_engine_spark.operators.phrase import phrase_search_local
    from ucuddle_search_engine_spark.operators.wand import SegmentSearcher
    from ucuddle_search_engine_spark.plans.build_index import phrase_search_written

    out = built_store(200, 2, n_units=1, write_postings=True)
    phrase = ["t0", "t1"]
    top = phrase_search_written(spark, out, phrase, k=5).collect()[0]["doc_id"]
    os.makedirs(os.path.join(out, "tombstones"))
    pq.write_table(pa.table({"doc_id": pa.array([top], pa.int64())}),
                   os.path.join(out, "tombstones", "part-0.parquet"))
    got = [(r["doc_id"], round(r["score"], 9)) for r in
           phrase_search_written(spark, out, phrase, k=5).collect()]
    assert got and top not in [d for d, _ in got]
    dead = np.asarray(SegmentSearcher.open_local(out).tombstones, dtype=np.int64)
    assert got == [(d, round(s, 9)) for d, s in
                   phrase_search_local(out, phrase, k=5, dead=dead)]
