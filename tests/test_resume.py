"""Checkpoint/resume (helper_notes.txt:13-15 invariants): a build killed
mid-way and resumed must produce the same index content as an uninterrupted
build; already-parsed units are skipped on resume."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from ucuddle_search_engine_spark.plans.build_index import build_index_resumable, load_searcher
from ucuddle_search_engine_spark.synth import synth_corpus

N_DOCS = 400
N_UNITS = 4


@pytest.fixture(scope="module")
def corpus(spark):
    return synth_corpus(spark, N_DOCS, partitions=4).cache()


def _index_content(spark, out):
    segs = spark.read.parquet(os.path.join(out, "segments")).toPandas()
    key = segs.apply(
        lambda r: (int(r["shard"]), r["term"], int(r["field"]), int(r["block_no"]),
                   bytes(r["doc_bytes"]).hex(), bytes(r["tf_bytes"]).hex()),
        axis=1,
    )
    docs = spark.read.parquet(os.path.join(out, "docs")).toPandas()
    dkey = docs.apply(lambda r: (int(r["doc_id"]), r["repo"], r["path"], r["content_sha256"]), axis=1)
    return sorted(key), sorted(dkey)


def test_crash_resume_identical(spark, corpus, tmp_path_factory):
    clean_dir = str(tmp_path_factory.mktemp("idx_clean"))
    crash_dir = str(tmp_path_factory.mktemp("idx_crash"))

    full = build_index_resumable(spark, corpus, clean_dir, n_units=N_UNITS)
    assert not full["crashed"] and full["completed_units"] == N_UNITS

    crashed = build_index_resumable(spark, corpus, crash_dir, n_units=N_UNITS, fail_after_units=2)
    assert crashed["crashed"] and crashed["completed_units"] == 2
    # manifest reflects the partial state (taken-but-unparsed or pending rows)
    with open(os.path.join(crash_dir, "manifest.jsonl")) as f:
        rows = [json.loads(x) for x in f]
    assert sum(1 for r in rows if r["status"] == "parsed") == 2

    resumed = build_index_resumable(spark, corpus, crash_dir, n_units=N_UNITS)
    assert not resumed["crashed"]
    assert resumed["completed_units"] == N_UNITS - 2  # only the missing units ran

    assert _index_content(spark, clean_dir) == _index_content(spark, crash_dir)


#: Spark jobs of one build of `corpus` (N_UNITS units, no sidecar; AQE runs
#: each exchange as a job of its own): 10 for pass 0 (corpus count, id
#: sample, id bucket counts, the unit-stats aggregation that caches docs),
#: 3 per unit (docs write; segments exchange + write) and 2 for the tstats
#: write. The layout that counted and re-read its outputs ran 75.
BUILD_JOB_BUDGET = 10 + 3 * N_UNITS + 2


def test_manifest_metrics_and_noop_rerun(spark, corpus, tmp_path_factory):
    import pyarrow.parquet as pq

    out = str(tmp_path_factory.mktemp("idx_metrics"))
    corpus.count()  # the cached corpus is materialized outside the budget
    sc = spark.sparkContext
    sc.setJobGroup("build_budget", "one resumable build")
    try:
        build_index_resumable(spark, corpus, out, n_units=N_UNITS)
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("build_budget")
    assert len(jobs) <= BUILD_JOB_BUDGET, f"build ran {len(jobs)} Spark jobs"

    def parquet_rows(path):
        return sum(pq.ParquetFile(os.path.join(r, f)).metadata.num_rows
                   for r, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))

    with open(os.path.join(out, "manifest.jsonl")) as f:
        rows = [json.loads(x) for x in f]
    assert len(rows) == N_UNITS
    for r in rows:
        assert r["status"] == "parsed"
        assert r["docs"] > 0 and r["terms"] > 0 and r["bytes"] > 0 and r["wall_ms"] >= 0
        assert r["input_fingerprint"] and r["input_fingerprint"] != "empty"
        # per-write metrics observed on the writes match what is on disk
        pid = r["partition_id"]
        assert r["docs_rows"] == r["docs"] == parquet_rows(os.path.join(out, f"docs/unit={pid}"))
        assert r["segments_rows"] == parquet_rows(os.path.join(out, f"segments/unit={pid}"))
        assert r["docs_ms"] >= 0 and r["segments_ms"] >= 0
        # approximate distinct count (HLL++, ~5% relative error by default)
        exact = spark.read.parquet(os.path.join(out, f"segments/unit={pid}")) \
            .select("term").distinct().count()
        assert abs(r["terms"] - exact) <= 0.1 * exact + 1
    # second run: everything fingerprint-matches → zero units rebuilt
    again = build_index_resumable(spark, corpus, out, n_units=N_UNITS)
    assert again["completed_units"] == 0


def test_written_index_queryable(spark, built_store):
    out = built_store(N_DOCS, 4, n_units=N_UNITS)
    searcher = load_searcher(spark, out)
    res = searcher.search_terms(["t0", "t1"], k=5, mode="or").collect()
    assert 0 < len(res) <= 5
    assert all(r["score"] > 0 for r in res)


def test_multiunit_and_wand_match_exact(spark, corpus, built_store):
    """Regression: stores written with n_units>1 reuse block_no ranges across
    units (overlapping doc ranges per (shard,term,field)); AND intersection
    and WAND skipping must still match the exact in-memory engine — the
    searcher builds one posting chain per (term, field, unit)."""
    from ucuddle_search_engine_spark.operators.bm25 import InvertedIndex

    out = built_store(N_DOCS, 4, n_units=N_UNITS)
    searcher = load_searcher(spark, out)
    idx = InvertedIndex.build(corpus, num_shards=3)
    terms = ["t0", "t1"]

    def ranked(df):
        return [(r["doc_id"], round(r["score"], 9)) for r in df.collect()]

    assert ranked(searcher.search_terms(terms, k=10, mode="and")) == ranked(
        idx.search_terms(terms, k=10, mode="and")
    )
    exact_or = ranked(idx.search_terms(terms, k=10, mode="or"))
    assert ranked(searcher.search_terms(terms, k=10, mode="or", algorithm="wand")) == exact_or
    assert ranked(searcher.search_terms(terms, k=10, mode="or", algorithm="taat")) == exact_or


def test_resume_after_corpus_change_rebuilds_all(spark, corpus, tmp_path_factory):
    """A changed corpus invalidates every unit (ids and cstats are corpus-
    global): resuming over the old store must equal a fresh full build."""
    out = str(tmp_path_factory.mktemp("idx_changed"))
    fresh = str(tmp_path_factory.mktemp("idx_fresh"))
    build_index_resumable(spark, corpus, out, n_units=N_UNITS)

    bigger = synth_corpus(spark, N_DOCS + 50, partitions=4).cache()
    resumed = build_index_resumable(spark, bigger, out, n_units=N_UNITS)
    assert resumed["completed_units"] == N_UNITS  # nothing was skipped
    build_index_resumable(spark, bigger, fresh, n_units=N_UNITS)
    assert _index_content(spark, out) == _index_content(spark, fresh)
    bigger.unpersist()


def test_auto_shards_and_geometry_invalidation(spark, corpus, tmp_path_factory):
    """num_shards='auto' bounds docs PER SHARD (head-query TAAT latency is
    linear in per-shard postings, so a fixed shard count makes it linear in
    corpus size); rankings are shard-count-independent; and a resume with a
    different shard geometry must rebuild, not skip 'parsed' units built
    under the old layout."""
    from ucuddle_search_engine_spark.plans.build_index import (
        DOCS_PER_SHARD,
        MAX_AUTO_SHARDS,
        auto_num_shards,
    )

    assert auto_num_shards(100) == 3  # floor: the reference's 3-shard default
    assert auto_num_shards(5_000_000) == -(-5_000_000 // DOCS_PER_SHARD)
    assert auto_num_shards(10**12) == MAX_AUTO_SHARDS

    out = str(tmp_path_factory.mktemp("idx_geom"))
    build_index_resumable(spark, corpus, out, n_units=2, num_shards="auto")
    s3 = load_searcher(spark, out)
    segs = spark.read.parquet(os.path.join(out, "segments"))
    assert {r["shard"] for r in segs.select("shard").distinct().collect()} == {0, 1, 2}
    want = [(r["doc_id"], round(r["score"], 9)) for r in
            s3.search_terms(["t0", "t1"], k=10, mode="or").collect()]

    # same corpus, different geometry → every unit rebuilt under 5 shards
    res = build_index_resumable(spark, corpus, out, n_units=2, num_shards=5)
    assert res["completed_units"] == 2  # nothing skipped
    segs = spark.read.parquet(os.path.join(out, "segments"))
    assert {r["shard"] for r in segs.select("shard").distinct().collect()} == set(range(5))
    s5 = load_searcher(spark, out)
    got = [(r["doc_id"], round(r["score"], 9)) for r in
           s5.search_terms(["t0", "t1"], k=10, mode="or").collect()]
    assert got == want and got  # sharding is physical: identical ranking
    # identical geometry + corpus → true no-op resume still works
    res2 = build_index_resumable(spark, corpus, out, n_units=2, num_shards=5)
    assert res2["completed_units"] == 0


def test_tombstoned_docs_vanish_from_results(spark, built_store):
    """delete-docs writes tombstones; search anti-filters them BEFORE the
    top-k cut (successor docs fill the slots), scores keep corpus-global
    stats — ES soft-delete-until-merge semantics."""
    out = built_store(N_DOCS, 4, n_units=N_UNITS)
    terms = ["t0", "t1"]
    pre = load_searcher(spark, out)  # opened before any tombstone exists
    dead = [r["doc_id"] for r in pre.search_terms(terms, k=2, mode="or").collect()]
    spark.createDataFrame([(i,) for i in dead], "doc_id long").write.mode("append").parquet(
        os.path.join(out, "tombstones")
    )
    searcher = load_searcher(spark, out)
    assert searcher.tombstones == sorted(dead)
    for mode, algo in (("or", "auto"), ("or", "wand"), ("and", "auto")):
        got = [(r["doc_id"], round(r["score"], 9)) for r in
               searcher.search_terms(terms, k=5, mode=mode, algorithm=algo).collect()]
        assert not set(dead) & {d for d, _ in got}
        # expected: the pre-delete ranking minus the dead ids, first 5
        want = [(r["doc_id"], round(r["score"], 9)) for r in
                pre.search_terms(terms, k=5 + len(dead), mode=mode).collect()
                if r["doc_id"] not in dead][:5]
        assert got == want


def test_alter_add_column_preserves_layout(spark, corpus, tmp_path_factory):
    """Schema evolution (PutMapping analogue): add a typed column with a
    default to the docs dataset per unit; unit layout and resume skip-logic
    must survive."""
    from ucuddle_search_engine_spark.plans.build_index import add_docs_column

    out = str(tmp_path_factory.mktemp("idx_alter"))
    build_index_resumable(spark, corpus, out, n_units=N_UNITS)
    add_docs_column(spark, out, "stars", "int", 0)

    docs = spark.read.parquet(os.path.join(out, "docs"))
    assert "stars" in docs.columns
    assert docs.filter(F.col("stars") != 0).count() == 0
    assert sorted(os.listdir(os.path.join(out, "docs"))) == [f"unit={i}" for i in range(N_UNITS)]
    with pytest.raises(ValueError):
        add_docs_column(spark, out, "stars", "int", 0)
    # resume still no-ops: fingerprints live in the manifest, not the files
    again = build_index_resumable(spark, corpus, out, n_units=N_UNITS)
    assert again["completed_units"] == 0


def test_df_invariant_and_postings_sidecar(spark, corpus, tmp_path_factory):
    """Σ block n per (term, field) across the store == true document frequency;
    the optional positions sidecar serves phrase/highlight from disk."""
    from pyspark.sql import functions as F

    from ucuddle_search_engine_spark.operators.bm25 import InvertedIndex
    from ucuddle_search_engine_spark.operators.phrase import phrase_match

    out = str(tmp_path_factory.mktemp("idx_sidecar"))
    build_index_resumable(spark, corpus, out, n_units=N_UNITS, write_postings=True)

    segs = spark.read.parquet(os.path.join(out, "segments"))
    df_from_segs = {
        (r["term"], r["field"]): r["df"]
        for r in segs.groupBy("term", "field").agg(F.sum("n").alias("df")).collect()
    }
    idx = InvertedIndex.build(corpus, num_shards=3)
    df_true = {(r["term"], r["field"]): r["df"] for r in idx.tstats.collect()}
    assert df_from_segs == df_true

    postings = spark.read.parquet(os.path.join(out, "postings"))
    disk_hits = {r["doc_id"]: r["phrase_tf"] for r in phrase_match(postings, ["t0", "t1"]).collect()}
    mem_hits = {r["doc_id"]: r["phrase_tf"] for r in phrase_match(idx.postings, ["t0", "t1"]).collect()}
    assert disk_hits == mem_hits

    # native highlight served ENTIRELY from the written store (stored content
    # + sidecar positions) must equal the in-memory read path's snippets
    from ucuddle_search_engine_spark.operators.highlight import highlight_hits
    from ucuddle_search_engine_spark.plans.build_index import search_written

    disk = {r["doc_id"]: (round(r["score"], 9), r["snippet"])
            for r in search_written(spark, out, "t0 t1", k=5, mode="or", highlight=True).collect()}
    topk_mem = idx.search_terms(["t0", "t1"], k=5, mode="or")
    mem = {r["doc_id"]: (round(r["score"], 9), r["snippet"])
           for r in highlight_hits(topk_mem, idx.docs, idx.postings, ["t0", "t1"]).collect()}
    assert disk == mem
    assert any("<b>" in s for _, s in disk.values())


def test_unit_fingerprints_single_pass(spark, corpus):
    """_unit_stats must (a) agree with the per-unit _fingerprint formula and
    the collection_stats avg() exactly, and (b) launch exactly ONE Spark
    aggregation — not one scan per unit (the 100 TB regression this guards
    against)."""
    from ucuddle_search_engine_spark.operators.postings import (
        build_docs,
        collection_stats,
        doclens_from_docs,
    )
    from ucuddle_search_engine_spark.plans.build_index import (
        _fingerprint,
        _unit_col,
        _unit_stats,
    )

    docs = build_docs(corpus, num_shards=3, scale_ids="prefix").withColumn(
        "_unit", _unit_col(N_UNITS)
    ).persist()
    docs.count()  # materialize outside the measured window

    sc = spark.sparkContext
    sc.setJobGroup("fp_single_pass", "unit fingerprints")
    try:
        fps, n_docs, cstats = _unit_stats(docs, N_UNITS + 1)  # +1: an empty unit
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("fp_single_pass")
    # one aggregation; AQE materializes the shuffle stage as its own job, so
    # ≤2 jobs total — the regression guard is that it is O(1), not O(n_units)
    assert len(jobs) <= 2, f"fingerprint pass ran {len(jobs)} jobs"

    want = {
        pid: _fingerprint(docs.filter(F.col("_unit") == pid).select("repo", "path", "commit"))
        for pid in range(N_UNITS + 1)
    }
    assert fps == want
    assert fps[N_UNITS] == "empty" and n_docs[N_UNITS] == 0
    assert sum(n_docs.values()) == N_DOCS
    # bit-identical to the groupBy/avg collection stats (title first)
    ref = collection_stats(doclens_from_docs(docs.drop("_unit"))).collect()
    assert sorted(cstats, key=lambda r: r["field"]) == \
        sorted((r.asDict() for r in ref), key=lambda r: r["field"])
    assert [r["field"] for r in cstats] == [1, 0]
    docs.unpersist()


def test_added_at_in_store(spark, corpus, tmp_path_factory):
    """Written stores carry the ingest timestamp (C10,
    functs_with_elastic.go:311) so 'docs added since X' is expressible
    against a built store (admin.py `since`)."""
    from ucuddle_search_engine_spark.plans.build_index import build_index_resumable

    out = str(tmp_path_factory.mktemp("idx_ts"))
    build_index_resumable(
        spark, corpus, out, n_units=2,
        ingest_ts=F.timestamp_seconds(F.lit(1704067200)),  # 2024-01-01T00:00:00Z
    )
    docs = spark.read.parquet(os.path.join(out, "docs"))
    assert "added_at" in docs.columns
    total = docs.count()
    assert docs.filter(F.col("added_at") >= F.lit("2024-01-01 00:00:00").cast("timestamp")).count() == total
    assert docs.filter(F.col("added_at") >= F.lit("2024-01-02 00:00:00").cast("timestamp")).count() == 0


def test_search_local_matches_spark_path(spark, built_store):
    """The driver-side serving path (pyarrow read, no Spark job) must return
    exactly the distributed ranking — same scorers, same store, including
    tombstone filtering and pagination."""
    from ucuddle_search_engine_spark.plans.build_index import load_searcher

    out = built_store(N_DOCS, 4, n_units=N_UNITS)
    s = load_searcher(spark, out).prepare()

    cases = [(["t0", "t1"], "or"), (["t0", "t1"], "and"), (["module", "t3"], "or"),
             (["t5", "zzznope"], "or"), (["t5", "zzznope"], "and"), (["t40"], "or")]
    for terms, mode in cases:
        want = [(r["doc_id"], round(r["score"], 9))
                for r in s.search_terms(terms, k=10, mode=mode).collect()]
        got = [(d, round(sc, 9)) for d, sc in s.search_local(terms, k=10, mode=mode)]
        assert got == want, (terms, mode)

    # pagination parity
    full = [(d, round(sc, 9)) for d, sc in s.search_local(["t0", "t1"], k=20, mode="or")]
    p2 = [(d, round(sc, 9)) for d, sc in s.search_local(["t0", "t1"], k=10, mode="or", offset=10)]
    assert full[10:] == p2

    # WARM repeats: the decoded-block cache's full-chain and scored-chain
    # memo paths (head terms select every block → get_full/get_scored; the
    # seed/survivor split exercises the run-gather slice) must return
    # bit-identical rankings on every repeat, and the cache must stay within
    # its postings bound
    for terms, mode in cases:
        want = [(d, round(sc, 9)) for d, sc in s.search_local(terms, k=10, mode=mode)]
        for _ in range(2):
            got = [(d, round(sc, 9)) for d, sc in s.search_local(terms, k=10, mode=mode)]
            assert got == want, (terms, mode)
    assert s._decode_cache is not None
    assert s._decode_cache._n <= s.DECODE_CACHE_POSTINGS

    # tombstones are honored locally too
    dead = [d for d, _ in s.search_local(["t0"], k=2, mode="or")]
    spark.createDataFrame([(i,) for i in dead], "doc_id long").write.mode("append").parquet(
        os.path.join(out, "tombstones")
    )
    s2 = load_searcher(spark, out).prepare()
    got = [d for d, _ in s2.search_local(["t0"], k=10, mode="or")]
    assert not set(dead) & set(got)
    want = [r["doc_id"] for r in s2.search_terms(["t0"], k=10, mode="or").collect()]
    assert got == want


def test_serve_http_tier(spark, built_store):
    """The stdlib-HTTP serving tier (scripts/serve.py) answers /search with
    the exact distributed-path ranking plus doc metadata, with no Spark job
    on the hot path (SegmentSearcher.open_local never touches a session)."""
    import json as _json
    import threading
    import urllib.request
    from http.server import ThreadingHTTPServer

    sys_path_added = os.path.join(os.path.dirname(__file__), "..", "scripts")
    import sys
    sys.path.insert(0, sys_path_added)
    try:
        from serve import SearchApp, make_handler
    finally:
        sys.path.remove(sys_path_added)
    from ucuddle_search_engine_spark.plans.build_index import load_searcher

    out = built_store(N_DOCS, 4, n_units=2)
    app = SearchApp(out)
    srv = ThreadingHTTPServer(("127.0.0.1", 0), make_handler(app))
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/health") as r:
            assert _json.load(r)["docs"] == N_DOCS
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/search?q=t0+t1&k=5&mode=or") as r:
            hits = _json.load(r)
        want = [(row["doc_id"], round(row["score"], 6)) for row in
                load_searcher(spark, out).search_terms(["t0", "t1"], k=5, mode="or").collect()]
        assert [(h["doc_id"], h["score"]) for h in hits] == want
        assert all(h["title"] and h["repo"] for h in hits)
        assert hits[0]["title"][0] == hits[0]["title"][0].upper()  # C6
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/search?q=ab") as r:
            assert _json.load(r) == []  # length guard
        # ES from+size pagination over HTTP
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/search?q=t0+t1&k=10&mode=or"
        ) as r:
            full = _json.load(r)
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/search?q=t0+t1&k=5&mode=or&from=5"
        ) as r:
            page2 = _json.load(r)
        assert [h["doc_id"] for h in page2] == [h["doc_id"] for h in full[5:10]]
    finally:
        srv.shutdown()


def test_build_with_empty_unit(spark, tmp_path_factory):
    """Units hash by repo, so a singleton-repo corpus leaves n_units-1 units
    EMPTY — the build must complete (zero-row units write only a marker) and
    the store must stay fully queryable."""
    from ucuddle_search_engine_spark.plans.build_index import build_index_resumable, load_searcher
    from ucuddle_search_engine_spark.synth import synth_corpus

    corpus = synth_corpus(spark, 80, partitions=2).withColumn("repo", F.lit("only/one"))
    out = str(tmp_path_factory.mktemp("idx_empty_unit"))
    stats = build_index_resumable(spark, corpus, out, n_units=3)
    assert not stats["crashed"] and stats["n_docs"] == 80
    s = load_searcher(spark, out)
    assert 0 < len(s.search_terms(["t0"], k=5, mode="or").collect()) <= 5
    assert 0 < len(s.search_local(["t0"], k=5, mode="or")) <= 5


def test_admin_add_docs_upsert(spark, tmp_path_factory, monkeypatch):
    """admin.py add-docs: the reference's insert path over immutable stores —
    a delta store merges in with new/updated keys winning; the result answers
    like a fresh build over the upserted corpus."""
    import sys as _sys

    from ucuddle_search_engine_spark.operators.bm25 import InvertedIndex
    from ucuddle_search_engine_spark.plans.build_index import load_searcher

    base = synth_corpus(spark, 100, partitions=2).cache()
    extra = synth_corpus(spark, 160, partitions=2).cache()  # 100 overlap + 60 new
    idx_dir = str(tmp_path_factory.mktemp("add_base"))
    out = str(tmp_path_factory.mktemp("add_out"))
    corpus_pq = str(tmp_path_factory.mktemp("add_src")) + "/corpus"
    from ucuddle_search_engine_spark.plans.build_index import build_index_resumable

    build_index_resumable(spark, base, idx_dir, n_units=2)
    extra.write.parquet(corpus_pq)

    scripts = os.path.join(os.path.dirname(__file__), "..", "scripts")
    _sys.path.insert(0, scripts)
    try:
        import admin
        monkeypatch.setattr(_sys, "argv", [
            "admin.py", "add-docs", "--index", idx_dir, "--from", corpus_pq, "--out", out,
        ])
        admin.main()
    finally:
        _sys.path.remove(scripts)

    got_n = spark.read.parquet(os.path.join(out, "docs")).count()
    assert got_n == 160
    s = load_searcher(spark, out)
    idx = InvertedIndex.build(extra, num_shards=3)  # upserted corpus == extra
    for terms, mode in ((["t0", "t1"], "or"), (["t0", "t1"], "and")):
        got = [(r["doc_id"], round(r["score"], 9)) for r in
               s.search_terms(terms, k=10, mode=mode).collect()]
        want = [(r["doc_id"], round(r["score"], 9)) for r in
                idx.search_terms(terms, k=10, mode=mode).collect()]
        assert got == want, (terms, mode)


def test_open_local_reads_tombstones(spark, built_store):
    """The Spark-free store open (serving tier) must pick up tombstones too —
    a deleted doc can never be served."""
    from ucuddle_search_engine_spark.operators.wand import SegmentSearcher

    out = built_store(N_DOCS, 4, n_units=2)
    pre = SegmentSearcher.open_local(out)
    dead = [d for d, _ in pre.search_local(["t0"], k=2, mode="or")]
    spark.createDataFrame([(i,) for i in dead], "doc_id long").write.mode("append").parquet(
        os.path.join(out, "tombstones")
    )
    s = SegmentSearcher.open_local(out)
    assert s.tombstones == sorted(dead)
    assert not set(dead) & {d for d, _ in s.search_local(["t0"], k=10, mode="or")}


def test_serve_highlighted_snippets(corpus, built_store):
    """/search?highlight=1 over a store with the positional sidecar returns
    bolded densest-window snippets (C7) — computed Spark-free from the
    sidecar + stored content, never re-reading the corpus."""
    import sys as _sys

    scripts = os.path.join(os.path.dirname(__file__), "..", "scripts")
    _sys.path.insert(0, scripts)
    try:
        from serve import SearchApp
    finally:
        _sys.path.remove(scripts)

    out = built_store(N_DOCS, 4, n_units=2, write_postings=True)
    app = SearchApp(out)
    hits = app.search("t0 t1", k=5, mode="or", highlight=True)
    assert hits and all("snippet" in h for h in hits)
    top = hits[0]["snippet"]
    assert "<b>" in top and "</b>" in top
    assert "<b>t0</b>" in top or "<b>t1</b>" in top
    # snippet text matches the distributed highlight path for the same doc
    from ucuddle_search_engine_spark.operators.bm25 import InvertedIndex
    from ucuddle_search_engine_spark.operators.highlight import highlight_hits

    idx = InvertedIndex.build(corpus, num_shards=3)
    topk = idx.search_terms(["t0", "t1"], k=5, mode="or")
    want = {r["doc_id"]: r["snippet"] for r in
            highlight_hits(topk, idx.docs, idx.postings, ["t0", "t1"]).collect()}
    got = {h["doc_id"]: h["snippet"] for h in hits}
    assert got == want


def test_serve_fuzzy_matches_spark_fuzzy(spark, built_store):
    """Serving-tier fuzzy (?fuzzy=1): the pure-Python expansion must equal the
    Spark expand_terms on the same dictionary, and the fuzzy ranking must
    match fuzzy_search over the loaded store."""
    import sys as _sys

    scripts = os.path.join(os.path.dirname(__file__), "..", "scripts")
    _sys.path.insert(0, scripts)
    try:
        from serve import SearchApp
    finally:
        _sys.path.remove(scripts)
    from ucuddle_search_engine_spark.operators.fuzzy import (
        expand_terms,
        expand_terms_py,
        fuzzy_search,
    )
    from ucuddle_search_engine_spark.plans.build_index import load_searcher

    out = built_store(N_DOCS, 4, n_units=2)
    s = load_searcher(spark, out).prepare()
    qterms = ["modul", "t00"]  # 1-edit typos

    vocab = {t: df for (t, f), df in s._tstats_cache.items() if f == 0}
    got_terms = expand_terms_py(vocab, qterms)
    dictionary = s.tstats.filter(F.col("field") == 0).groupBy("term").agg(
        F.max("df").alias("df"))
    want_terms = sorted({r["term"] for r in expand_terms(dictionary, qterms).collect()})
    assert got_terms == want_terms and got_terms

    app = SearchApp(out)
    hits = app.search("modul t00", k=5, mode="or", fuzzy=True)
    want = [(r["doc_id"], round(r["score"], 6)) for r in
            fuzzy_search(s, qterms, k=5).collect()]
    assert [(h["doc_id"], h["score"]) for h in hits] == want and hits


def test_serve_columnar_fuzzy_expansion_equivalence(spark, tmp_path_factory, built_store):
    """Stores persisting tlen/bagsig (write_tstats): the serving tier's
    columnar expansion (_expand_columnar — numpy prefilters over scan output,
    no Python pass over the vocabulary) must produce EXACTLY expand_terms_py's
    set at every prefix_length, and a pre-bagsig legacy store must upgrade in
    place via upgrade_tstats and then take the columnar path."""
    import sys as _sys

    scripts = os.path.join(os.path.dirname(__file__), "..", "scripts")
    _sys.path.insert(0, scripts)
    try:
        from serve import SearchApp
    finally:
        _sys.path.remove(scripts)
    from ucuddle_search_engine_spark.operators.fuzzy import expand_terms_py
    from ucuddle_search_engine_spark.plans.build_index import upgrade_tstats

    out = built_store(N_DOCS, 4, n_units=2)

    app = SearchApp(out)
    view = app._view
    assert "bagsig" in view.searcher._dataset("tstats").schema.names

    # reference dictionary: max df per term across fields (what _vocab serves)
    tt = view.searcher._dataset("tstats").to_table(columns=["term", "df"])
    vocab: dict[str, float] = {}
    for t, d in zip(tt["term"].to_pylist(), tt["df"].to_pylist()):
        if d > vocab.get(t, -1):
            vocab[t] = d

    queries = [["modul", "t00"], ["t1"], ["zzznope"], ["a"]]
    for pl in (0, 1, 2):
        for qts in queries:
            got = app._expand_columnar(view, qts, pl)
            want = expand_terms_py(vocab, qts, prefix_length=pl)
            assert got == want, (pl, qts)

    # legacy store: rewrite tstats without the prefilter columns, then upgrade
    legacy = str(tmp_path_factory.mktemp("idx_colfz_legacy"))
    import shutil

    shutil.copytree(out, legacy, dirs_exist_ok=True)
    tpath = os.path.join(legacy, "tstats")
    # keep the tb hash layout (term lookup prunes on it) but drop the
    # p1/tlen/bagsig prefilter columns — the pre-bagsig on-disk format
    stripped = spark.read.parquet(tpath).select("term", "field", "df", "tb").toPandas()
    shutil.rmtree(tpath)
    spark.createDataFrame(stripped) \
        .repartition("tb").sortWithinPartitions("term", "field") \
        .write.partitionBy("tb").parquet(tpath)
    app2 = SearchApp(legacy)
    assert "bagsig" not in app2._view.searcher._dataset("tstats").schema.names
    # pre-upgrade: serve falls back to the dict path and still answers
    h_legacy = app2.search("modul t00", k=5, mode="or", fuzzy=True)
    assert upgrade_tstats(spark, legacy) is True
    assert upgrade_tstats(spark, legacy) is False  # idempotent
    app3 = SearchApp(legacy)
    view3 = app3._view
    assert "bagsig" in view3.searcher._dataset("tstats").schema.names
    for pl in (0, 1):
        assert app3._expand_columnar(view3, ["modul", "t00"], pl) == \
            expand_terms_py(vocab, ["modul", "t00"], prefix_length=pl)
    h_up = app3.search("modul t00", k=5, mode="or", fuzzy=True)
    assert [(h["doc_id"], h["score"]) for h in h_up] == \
        [(h["doc_id"], h["score"]) for h in h_legacy] and h_up


def test_open_local_lazy_and_memo_lru(spark, built_store):
    """A store written in the tb-partitioned tstats layout opens WITHOUT
    materializing the dictionary (serving RAM is O(memo cap), not
    O(vocabulary)); cold terms resolve through pruned reads into a bounded
    LRU memo, and the ranking equals the eager/prepared path exactly."""
    out = built_store(N_DOCS, 4, n_units=2)
    from ucuddle_search_engine_spark.operators.wand import SegmentSearcher

    local = SegmentSearcher.open_local(out)
    assert local._tstats_cache is None  # lazy: nothing loaded at open
    ref = load_searcher(spark, out).prepare()
    for terms, mode in [(["t0", "t1"], "or"), (["module", "t3"], "and"),
                        (["t5", "zzznope"], "or")]:
        want = [(r["doc_id"], round(r["score"], 9))
                for r in ref.search_terms(terms, k=10, mode=mode).collect()]
        got = [(d, round(sc, 9)) for d, sc in local.search_local(terms, k=10, mode=mode)]
        assert got == want, (terms, mode)
    assert local._term_memo  # cold terms were memoized
    # repeat query hits the memo: no new keys appear
    n = len(local._term_memo)
    local.search_local(["t0", "t1"], k=5, mode="or")
    assert len(local._term_memo) == n

    # the memo is bounded: with a tiny cap, old entries evict
    local2 = SegmentSearcher.open_local(out)
    local2.TERM_MEMO_CAP = 4
    for t in ["t0", "t1", "t2", "t3", "t4", "t5"]:
        local2.search_local([t], k=3, mode="or")
    assert len(local2._term_memo) <= 4
    # evicted terms still answer correctly (re-read, re-memoized)
    want = [(d, round(sc, 9)) for d, sc in local.search_local(["t0"], k=5, mode="or")]
    got = [(d, round(sc, 9)) for d, sc in local2.search_local(["t0"], k=5, mode="or")]
    assert got == want


def test_serve_hot_reload(spark, corpus, tmp_path_factory, built_store):
    """ES-refresh analogue: the serving tier notices a store-generation change
    (tombstones written in place; a merged store swapped into the served
    path) and reopens WITHOUT a restart — new writes become searchable."""
    import shutil
    import sys as _sys

    scripts = os.path.join(os.path.dirname(__file__), "..", "scripts")
    _sys.path.insert(0, scripts)
    try:
        from serve import SearchApp
    finally:
        _sys.path.remove(scripts)

    root = str(tmp_path_factory.mktemp("serve_reload"))
    served = built_store(N_DOCS, 4, dest=os.path.join(root, "store"), n_units=2)
    app = SearchApp(served)
    hits = app.search("t0 t1", k=5, mode="or")
    assert hits
    top = hits[0]["doc_id"]

    # 1) in-place delete: tombstone the top doc — same app, no restart
    spark.createDataFrame([(top,)], "doc_id long").write.mode("append").parquet(
        os.path.join(served, "tombstones")
    )
    hits2 = app.search("t0 t1", k=5, mode="or")
    assert top not in [h["doc_id"] for h in hits2]

    # 2) blue/green swap: a store with an extra doc replaces the served path
    extra = spark.createDataFrame(
        [("xrepo", "xq/new.py", "c0", "en", "zzfresh zzfresh document content here")],
        "repo string, path string, commit string, lang string, content string",
    )
    staging = os.path.join(root, "staging")
    build_index_resumable(spark, corpus.unionByName(extra), staging, n_units=2)
    shutil.rmtree(served)
    os.replace(staging, served)
    hits3 = app.search("zzfresh document", k=5, mode="or")
    assert any(h["path"] == "xq/new.py" for h in hits3)


def test_serve_fuzzy_prefix_band_parity(spark, built_store):
    """?fuzzy=1&prefix=1 (ES prefix_length): the serving tier loads ONLY the
    query terms' first-char vocabulary buckets and must rank exactly like the
    Spark fuzzy path with the same prefix_length."""
    import sys as _sys

    scripts = os.path.join(os.path.dirname(__file__), "..", "scripts")
    _sys.path.insert(0, scripts)
    try:
        from serve import SearchApp
    finally:
        _sys.path.remove(scripts)
    from ucuddle_search_engine_spark.operators.fuzzy import fuzzy_search

    out = built_store(N_DOCS, 4, n_units=2)
    s = load_searcher(spark, out)
    qterms = ["modul", "t00"]

    app = SearchApp(out)
    hits = app.search("modul t00", k=5, mode="or", fuzzy=True, prefix_length=1)
    want = [(r["doc_id"], round(r["score"], 6)) for r in
            fuzzy_search(s, qterms, k=5, prefix_length=1).collect()]
    assert [(h["doc_id"], h["score"]) for h in hits] == want and hits
    # bagsig stores take the columnar path: only the 'm' and 't' Arrow
    # bundles were materialized; no Python dict of the vocabulary at all
    assert set(app._view.arrow_buckets) == {"m", "t"}
    assert not app._vocab_buckets
    assert app._vocab_full is None


def test_serve_result_cache(spark, built_store):
    """Request cache: a repeat query is served without touching the store;
    a store-generation change (tombstone) drops the cache with the reopen."""
    import sys as _sys

    scripts = os.path.join(os.path.dirname(__file__), "..", "scripts")
    _sys.path.insert(0, scripts)
    try:
        from serve import SearchApp
    finally:
        _sys.path.remove(scripts)

    out = built_store(N_DOCS, 4, n_units=2)
    app = SearchApp(out)
    first = app.search("t0 t1", k=5, mode="or")
    assert first and ("t0 t1", 5, "or", False, False, 0, 0) in app._result_cache
    # poison the uncached path: a cache hit must not re-execute it
    app._search_uncached = None
    assert app.search("t0 t1", k=5, mode="or") == first
    del app._search_uncached  # restore the class method for the reload path
    # generation change → reopen → fresh cache AND fresh results
    top = first[0]["doc_id"]
    spark.createDataFrame([(top,)], "doc_id long").write.mode("append").parquet(
        os.path.join(out, "tombstones")
    )
    fresh = app.search("t0 t1", k=5, mode="or")
    assert top not in [h["doc_id"] for h in fresh]


def test_decode_cache_rank_parity_and_eviction(spark, built_store):
    """The serving tier's decoded-block cache must never change a ranking:
    cold pass == warm pass == the Spark path, across modes/algorithms,
    pagination, and tombstones; a tiny cache cap (forced eviction, including
    mid-request) still returns identical results."""
    from ucuddle_search_engine_spark.operators.wand import SegmentSearcher

    out = built_store(N_DOCS, 4, n_units=2)
    ref = load_searcher(spark, out).prepare()
    local = SegmentSearcher.open_local(out)

    cases = [(["t0", "t1"], "or", "auto"), (["t0", "t1"], "and", "auto"),
             (["t0", "t1", "t2"], "or", "wand"), (["module", "t3"], "or", "taat"),
             (["t5", "zzznope"], "or", "auto"), (["t40"], "or", "auto")]
    want = {}
    for terms, mode, algo in cases:
        want[(tuple(terms), mode, algo)] = [
            (r["doc_id"], round(r["score"], 9))
            for r in ref.search_terms(terms, k=10, mode=mode, algorithm=algo).collect()]
    for rep in range(3):  # cold, warm, warm
        for terms, mode, algo in cases:
            got = [(d, round(s, 9)) for d, s in
                   local.search_local(terms, k=10, mode=mode, algorithm=algo)]
            assert got == want[(tuple(terms), mode, algo)], (rep, terms, mode, algo)
    assert local._decode_cache is not None and local._decode_cache._d

    # tiny cap: evictions (also mid-request) must not change results
    tiny = SegmentSearcher.open_local(out)
    tiny.DECODE_CACHE_POSTINGS = 64
    for rep in range(2):
        for terms, mode, algo in cases:
            got = [(d, round(s, 9)) for d, s in
                   tiny.search_local(terms, k=10, mode=mode, algorithm=algo)]
            assert got == want[(tuple(terms), mode, algo)], (rep, terms, mode, algo)
    assert tiny._decode_cache._n <= 64

    # k=0 (the HTTP tier allows it) must yield [], not a partition crash
    assert local.search_local(["t0", "t1"], k=0, mode="or") == []

    # pagination + tombstones through the cached path
    full = [(d, round(s, 9)) for d, s in local.search_local(["t0", "t1"], k=20, mode="or")]
    page = [(d, round(s, 9)) for d, s in
            local.search_local(["t0", "t1"], k=10, mode="or", offset=10)]
    assert full[10:] == page
    dead = [d for d, _ in full[:2]]
    spark.createDataFrame([(i,) for i in dead], "doc_id long").write.mode("append").parquet(
        os.path.join(out, "tombstones")
    )
    local2 = SegmentSearcher.open_local(out)
    got = [d for d, _ in local2.search_local(["t0", "t1"], k=10, mode="or")]
    got2 = [d for d, _ in local2.search_local(["t0", "t1"], k=10, mode="or")]  # warm
    assert got == got2 and not set(dead) & set(got)


def test_serve_concurrent_requests_and_reload(spark, built_store):
    """Hammer the threaded serving tier from 8 threads (mixed query shapes,
    fuzzy prefix included, tiny decode-cache cap to force eviction churn)
    while the store generation changes mid-flight: zero exceptions, and every
    observed ranking for the probe query is exactly the pre- or post-delete
    ranking — never a mix."""
    import sys as _sys
    import threading

    scripts = os.path.join(os.path.dirname(__file__), "..", "scripts")
    _sys.path.insert(0, scripts)
    try:
        from serve import SearchApp
    finally:
        _sys.path.remove(scripts)

    out = built_store(N_DOCS, 4, n_units=2)
    app = SearchApp(out)
    app.searcher.DECODE_CACHE_POSTINGS = 512  # force cache churn
    pre = tuple((h["doc_id"], h["score"]) for h in app.search("t0 t1", k=5, mode="or"))
    dead = pre[0][0]

    errors: list[BaseException] = []
    observed: set[tuple] = set()
    obs_lock = threading.Lock()
    stop = threading.Event()

    def worker(seed: int) -> None:
        qs = ["t0 t1", "module t3", "t5 t40", "modul t00"]
        try:
            i = 0
            while not stop.is_set() and i < 60:
                q = qs[(seed + i) % len(qs)]
                kw = {"fuzzy": True, "prefix_length": 1} if q == "modul t00" else {}
                hits = app.search(q, k=5, mode="or", **kw)
                if q == "t0 t1":
                    with obs_lock:
                        observed.add(tuple((h["doc_id"], h["score"]) for h in hits))
                i += 1
        except BaseException as e:  # noqa: BLE001 - the assertion target
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(s,)) for s in range(8)]
    for t in threads:
        t.start()
    # mid-flight generation change: tombstone the top doc
    spark.createDataFrame([(dead,)], "doc_id long").write.mode("append").parquet(
        os.path.join(out, "tombstones")
    )
    for t in threads:
        t.join(timeout=120)
    hung = [t for t in threads if t.is_alive()]
    stop.set()  # release any hung worker before failing
    assert not hung, f"{len(hung)} worker thread(s) hung (deadlock?)"
    assert not errors, errors[:3]
    post = tuple((h["doc_id"], h["score"]) for h in app.search("t0 t1", k=5, mode="or"))
    assert dead not in [d for d, _ in post]
    assert observed <= {pre, post}, observed


def test_serve_quoted_phrase(spark, built_store):
    """A quoted query ("t0 t1") routes to the Spark-free phrase path over the
    positional sidecar — same ranking as phrase_search_written — and the
    highlight/pagination plumbing still applies. Unquoted "t0 t1" must NOT
    take the phrase path (OR/AND semantics unchanged)."""
    import sys as _sys

    scripts = os.path.join(os.path.dirname(__file__), "..", "scripts")
    _sys.path.insert(0, scripts)
    try:
        from serve import SearchApp
    finally:
        _sys.path.remove(scripts)
    from ucuddle_search_engine_spark.plans.build_index import phrase_search_written

    out = built_store(N_DOCS, 4, n_units=2, write_postings=True)
    app = SearchApp(out)

    want = [(r["doc_id"], round(r["score"], 6)) for r in
            phrase_search_written(spark, out, ["t0", "t1"], k=5).collect()]
    hits = app.search('"t0 t1"', k=5)
    assert [(h["doc_id"], h["score"]) for h in hits] == want and hits

    # phrase ranking differs from the OR ranking of the same terms (adjacency
    # actually constrains) or at minimum scores by the pseudo-term df
    loose = app.search("t0 t1", k=5, mode="or")
    assert [h["score"] for h in loose] != [h["score"] for h in hits]

    # pagination: page 2 of the phrase == rows [2:4] of a k=10 page-1
    all10 = app.search('"t0 t1"', k=10)
    page2 = app.search('"t0 t1"', k=2, offset=2)
    assert [h["doc_id"] for h in page2] == [h["doc_id"] for h in all10[2:4]]

    # highlight over the phrase path reuses the sidecar snippets
    hl = app.search('"t0 t1"', k=3, highlight=True)
    assert hl and all("<b>" in h["snippet"] for h in hl)
