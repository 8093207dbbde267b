"""Keyed serving reads from resident decoded row groups (operators/storefiles):
after warm-up the hot path runs no pyarrow dataset scan and a repeat read no
Parquet decode; a 1-byte residency budget and racing cold reads keep every
answer; mixed block_no widths, footers without statistics and empty units
keep every ranking; a 500 from the HTTP tier is logged with its traceback."""

from __future__ import annotations

import glob
import http.client
import os
import shutil
import sys
import threading
from http.server import ThreadingHTTPServer

import pyarrow as pa
import pyarrow.dataset as pds
import pyarrow.parquet as pq
import pytest

from ucuddle_search_engine_spark.operators import storefiles
from ucuddle_search_engine_spark.operators.phrase import phrase_search_local
from ucuddle_search_engine_spark.operators.storefiles import StoreFiles
from ucuddle_search_engine_spark.operators.wand import SegmentSearcher

QUERIES = ((["t0", "t1"], "or"), (["t0", "t1", "t2", "t3"], "or"),
           (["t5", "t40"], "and"), (["t123"], "or"), (["t7", "zzzabsent"], "or"))


def _serve():
    scripts = os.path.join(os.path.dirname(__file__), "..", "scripts")
    sys.path.insert(0, scripts)
    try:
        import serve
    finally:
        sys.path.remove(scripts)
    return serve


@pytest.fixture(scope="module")
def store(built_store):
    return built_store(300, 4, n_units=2, write_postings=True)


def _answers(store):
    s = SegmentSearcher.open_local(store)
    ranked = {(tuple(t), m): [(d, round(sc, 9)) for d, sc in s.search_local(t, k=10, mode=m)]
              for t, m in QUERIES}
    phrase = [(d, round(sc, 9)) for d, sc in phrase_search_local(store, ["t0", "t1"], k=10)]
    app = _serve().SearchApp(store)
    hl = app.search("t0 t2", k=5, highlight=True)
    return ranked, phrase, hl


def test_hot_path_runs_no_dataset_scan_after_warmup(store, monkeypatch):
    """One query of each class warms the view; then pyarrow dataset
    discovery and scans raise, and fresh queries over warm tb directories
    and cold terms still answer exactly like an untouched app."""
    serve = _serve()
    app, ref = serve.SearchApp(store), serve.SearchApp(store)
    for kw in ({"q": "t0 t1"}, {"q": "t5 t40", "mode": "and"}, {"q": '"t0 t1"'},
               {"q": "t0 t2", "highlight": True}, {"q": "t0 t1", "offset": 10}):
        assert app.search(**kw)
    fresh = ({"q": "t1 t2 t3"}, {"q": "t0 t3", "mode": "and"}, {"q": '"t1 t2"'},
             {"q": "t1 t3", "highlight": True}, {"q": "t2 t3", "offset": 5},
             {"q": "t123 t77 t301"}, {"q": '"t2 t0"'}, {"q": "t91 zzzabsent"})
    want = [ref.search(**kw) for kw in fresh]
    assert all(want[:5])

    def scan(*a, **kw):
        raise AssertionError("pyarrow dataset scan on the serving hot path")

    class Handle:  # a memoized dataset handle whose every use raises
        def __getattr__(self, name):
            scan()

    # Dataset is an immutable extension type: discovery is patched, and any
    # memoized handle of the view is swapped for one that raises
    monkeypatch.setattr(pds, "dataset", scan)
    monkeypatch.setattr(app._view.searcher, "_pds", {
        rel: Handle() for rel in ("segments", "tstats", "postings", "docs")})
    assert [app.search(**kw) for kw in fresh] == want


# the serving tier's five read shapes: tstats lookup, segment chains, phrase
# and highlight sidecar reads, docs fetch with snippet text
TERMS = ["t0", "t1", "t5", "t40", "t123", "zzzabsent"]
READS = (("tstats", "term", TERMS, ["term", "field", "df"], [0, 1]),
         ("segments", "term", TERMS, None, [0, 1]),
         ("postings", "term", TERMS, ["term", "doc_id", "positions", "doclen", "field"], [0]),
         ("postings", "term", TERMS, ["term", "doc_id", "field", "positions"], [0]),
         ("docs", "doc_id", list(range(0, 300, 7)),
          ["doc_id", "title", "repo", "path", "content"], None))


def _same(a, b):
    return a.column_names == b.column_names and a.to_pydict() == b.to_pydict()


def test_warm_repeat_read_decodes_nothing(store, monkeypatch):
    """Once a read has decoded its row groups, repeating it — or reading a
    subset of its keys or columns — performs zero Parquet decodes and
    returns the same rows."""
    files = StoreFiles(store)
    want = [files.read(*r) for r in READS]
    assert all(t.num_rows for t in want)
    decodes = []
    orig = pq.ParquetFile.read_row_groups
    monkeypatch.setattr(pq.ParquetFile, "read_row_groups",
                        lambda *a, **kw: decodes.append(a[1]) or orig(*a, **kw))
    assert all(_same(files.read(*r), w) for r, w in zip(READS, want))
    files.read("segments", "term", ["t1"], ["term", "block_no"], [0])
    files.read("docs", "doc_id", [7, 14], ["doc_id", "title"])
    assert decodes == []


def test_one_byte_budget_keeps_answers(store, monkeypatch):
    """With UCUDDLE_SEG_CACHE_BYTES=1 every read evicts what the previous
    one decoded: search_local, phrase and highlight answers still equal the
    default budget's, and after every row-group fetch the resident bytes are
    within the budget or held by one over-budget row group."""
    want = _answers(store)
    seen = []
    orig = StoreFiles._group

    def checked(self, *a, **kw):
        g = orig(self, *a, **kw)
        assert self._bytes == sum(x.nbytes for x in self._groups.values())
        assert self._bytes <= self.budget or len(self._groups) == 1
        seen.append(self.budget)
        return g

    monkeypatch.setattr(StoreFiles, "_group", checked)
    monkeypatch.setenv("UCUDDLE_SEG_CACHE_BYTES", "1")
    assert _answers(store) == want
    assert seen and set(seen) == {1}


def test_racing_cold_reads_agree(store, monkeypatch):
    """More threads than cores decode the same cold row groups at once —
    for the same or for different column sets, with a tiny switch interval
    — and still publish one consistent resident copy (its byte charge equal
    to what it holds), each thread getting the same rows as a lone reader,
    cold and then warm."""
    n, ids = 8, list(range(0, 300, 7))
    rounds = [[READS[1]] * 4, [READS[2]] * 4, [READS[4]] * 4,
              [("docs", "doc_id", ids, cols) for cols in (
                  ["doc_id", "title"], ["doc_id", "content"], ["repo", "doc_id", "path"],
                  ["doc_id", "title", "repo", "path", "content"])],
              [("segments", "term", TERMS, cols, [0]) for cols in (
                  None, ["term", "shard", "block_no"], ["term", "doc_bytes"], ["unit", "term"])]]
    gate, first = threading.Barrier(n), threading.local()
    orig = storefiles._decode

    def decode(*a, **kw):  # each thread's first decode waits for the others'
        if not getattr(first, "done", False):
            first.done = True
            gate.wait(timeout=60)
        return orig(*a, **kw)

    switch = sys.getswitchinterval()
    try:
        sys.setswitchinterval(1e-5)
        for reads in rounds:
            want = [StoreFiles(store).read(*r) for r in reads]
            files, got = StoreFiles(store), [None] * n

            def run(i, reads=reads, files=files):
                got[i] = [files.read(*reads[i % 4]) for _ in range(2)]

            monkeypatch.setattr(storefiles, "_decode", decode)
            gate.reset()
            ts = [threading.Thread(target=run, args=(i,)) for i in range(n)]
            for t in ts:
                t.start()
            for t in ts:
                t.join(timeout=120)
            monkeypatch.undo()
            assert not any(t.is_alive() for t in ts)
            assert all(g is not None and _same(g[0], want[i % 4]) and _same(g[1], want[i % 4])
                       for i, g in enumerate(got)), reads
            assert files._bytes == sum(g.nbytes for g in files._groups.values())
    finally:
        sys.setswitchinterval(switch)


def _rewrite_segments(root, unit, **write):
    """Rewrite one unit's segments files in 40-row row groups, with
    `block_no` as int32 when write pops cast_int32."""
    int32 = write.pop("cast_int32", False)
    files = glob.glob(os.path.join(root, "segments", f"unit={unit}", "tb=*", "*.parquet"))
    assert files
    for f in files:
        t = pq.ParquetFile(f).read()
        if int32:
            i = t.schema.get_field_index("block_no")
            t = t.set_column(i, "block_no", t["block_no"].cast(pa.int32()))
        pq.write_table(t, f, row_group_size=40, **write)


@pytest.mark.parametrize("case", ["int32_block_no", "no_statistics", "empty_unit"])
def test_reader_edge_cases_keep_rankings(store, tmp_path, case):
    """A unit whose segments carry int32 block_no beside int64 units, a
    segments unit written without row-group statistics (every row group
    must then be read, none skipped), and a unit directory holding only
    _SUCCESS all answer exactly like the store as built."""
    want = _answers(store)
    out = str(tmp_path / "store")
    shutil.copytree(store, out)
    if case == "int32_block_no":
        _rewrite_segments(out, 1, cast_int32=True)
        md = pq.read_metadata(glob.glob(os.path.join(
            out, "segments", "unit=1", "tb=*", "*.parquet"))[0])
        assert md.schema.to_arrow_schema().field("block_no").type == pa.int32()
    elif case == "no_statistics":
        _rewrite_segments(out, 0, write_statistics=False)
        f = glob.glob(os.path.join(out, "segments", "unit=0", "tb=*", "*.parquet"))[0]
        assert not pq.read_metadata(f).row_group(0).column(0).is_stats_set
    else:
        for sub in ("docs", "segments", "postings"):
            os.makedirs(os.path.join(out, sub, "unit=9"))
            open(os.path.join(out, sub, "unit=9", "_SUCCESS"), "w").close()
    assert _answers(out) == want


def test_server_error_is_logged_with_traceback(store, caplog):
    """A searcher failure answers 500 and writes the traceback to the log."""
    serve = _serve()
    app = serve.SearchApp(store)

    def fail(*a, **kw):
        raise RuntimeError("chain read failed")

    app._view.searcher.search_local = fail
    srv = ThreadingHTTPServer(("127.0.0.1", 0), serve.make_handler(app))
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        conn = http.client.HTTPConnection("127.0.0.1", srv.server_address[1], timeout=60)
        conn.request("GET", "/search?q=t0+t1")
        resp = conn.getresponse()
        resp.read()
        assert resp.status == 500
    finally:
        srv.shutdown()
        srv.server_close()
    assert any(r.exc_info and r.exc_info[0] is RuntimeError for r in caplog.records)
    assert "Traceback" in caplog.text and "chain read failed" in caplog.text
