"""Keyed serving reads from resident decoded row groups (operators/storefiles):
after warm-up the hot path runs no pyarrow dataset scan and a repeat read no
Parquet decode; a 1-byte residency budget and racing cold reads keep every
answer; mixed block_no widths, footers without statistics and empty units
keep every ranking; a 500 from the HTTP tier is logged with its traceback;
/health reports the serving caches' occupancy. Spark-free cases on
hand-written parquet check keyed reads against a pyarrow filter and that a
resident row group holds payload columns only, charged at its exact bytes."""

from __future__ import annotations

import glob
import http.client
import os
import random
import shutil
import sys
import threading
from http.server import ThreadingHTTPServer

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
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
    discovery and the view's transient whole-subdir scans raise, and fresh
    queries over warm tb directories and cold terms still answer exactly
    like an untouched app."""
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

    # Dataset is an immutable extension type: discovery is patched, and the
    # view's once-per-view scans (StoreFiles.scan) raise too
    monkeypatch.setattr(pds, "dataset", scan)
    monkeypatch.setattr(app._view.searcher.files, "scan", scan)
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
    return (a.table.equals(b.table) and a.keys == b.keys and a.hive == b.hive
            and a.counts.tolist() == b.counts.tolist())


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


def test_health_reports_cache_occupancy(store):
    """/health reports, beside the doc count, the resident row groups'
    bytes and count, the chain cache's bytes, the DecodeCache's postings
    and the phrase-key cache's bytes — zero on a fresh view, then exactly
    what the caches hold once a term, a phrase and a highlight query ran."""
    import json

    serve = _serve()
    app = serve.SearchApp(store)
    srv = ThreadingHTTPServer(("127.0.0.1", 0), serve.make_handler(app))
    threading.Thread(target=srv.serve_forever, daemon=True).start()

    def get(path):
        conn = http.client.HTTPConnection("127.0.0.1", srv.server_address[1], timeout=60)
        conn.request("GET", path)
        resp = conn.getresponse()
        assert resp.status == 200
        return json.loads(resp.read())

    try:
        keys = {"storefiles_bytes", "storefiles_groups", "chain_bytes", "decode_postings",
                "phrase_bytes"}
        cold = get("/health")
        assert cold["docs"] == 300 and cold["resident"] == dict.fromkeys(keys, 0)
        for q in ("/search?q=t0+t1", "/search?q=%22t0+t1%22", "/search?q=t0+t2&highlight=1"):
            assert get(q)
        warm = get("/health")["resident"]
    finally:
        srv.shutdown()
        srv.server_close()
    s = app.searcher
    assert warm == {"storefiles_bytes": s.files._bytes, "storefiles_groups": len(s.files._groups),
                    "chain_bytes": s._seg_bytes, "decode_postings": s._decode_cache._n,
                    "phrase_bytes": app._view.phrase_cache._n}
    assert all(warm.values()), warm


# -- Spark-free: hand-written multi-row-group parquet ------------------------

WORDS = ["a", "ab", "abc", "abd", "b", "zeta", "ж", "жук", "жукк", "я", "ёлка", "ёж", "ѳ"]


def _write_rows(path, rows: dict, rg_rows: int, shuffle: random.Random | None, **write):
    """One parquet file of `rows` (column → list) in `rg_rows`-row row
    groups, row order shuffled when `shuffle` is given (else as given)."""
    n = len(next(iter(rows.values())))
    order = list(range(n))
    if shuffle is not None:
        shuffle.shuffle(order)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({c: [v[i] for i in order] for c, v in rows.items()}), path,
                   row_group_size=rg_rows, **write)


def _term_store(root, bucketed: bool) -> str:
    """`postings`-like term files: units 0 and 1, each term on fields 0/1
    with 1–3 rows per (term, field); bucketed → one file per <unit, tb>
    directory as the store writes them, else one flat file per unit."""
    from ucuddle_search_engine_spark.functions.hashing import term_buckets

    rng = random.Random(11)
    for unit in (0, 1):
        files: dict[str, dict] = {}
        for w in WORDS[unit::1 + unit]:
            d = f"unit={unit}/tb={term_buckets([w])[0]}" if bucketed else f"unit={unit}"
            rows = files.setdefault(d, {"term": [], "field": [], "v": [], "s": []})
            for f in (0, 1):
                for _ in range(rng.randint(1, 3)):
                    rows["term"].append(w)
                    rows["field"].append(f)
                    rows["v"].append(rng.randrange(1 << 40))
                    rows["s"].append(f"{w}/{f}/{len(rows['v'])}")
        for i, (d, rows) in enumerate(sorted(files.items())):
            _write_rows(os.path.join(root, "terms", d, "part-0.parquet"), rows, 3,
                        rng if i % 2 else None)
    return root


def _doc_store(root, hive: bool) -> str:
    """`docs`-like files keyed by int64 doc_id (ids interleaved across two
    files, each unsorted), with a field column; the second file carries
    statistics for `v` only, so its key column has none."""
    rng = random.Random(5)
    for i in (0, 1):
        ids = list(range(i, 60, 2)) + [i + 7]  # one duplicated id per file
        rows = {"doc_id": ids, "field": [d % 3 for d in ids],
                "v": [d * 10 + i for d in ids], "s": [f"doc{d}" for d in ids]}
        d = os.path.join(root, "docs", f"unit={i}" if hive else "", f"part-{i}.parquet")
        _write_rows(d, rows, 7, rng, **({"write_statistics": ["v"]} if i else {}))
    return root


def _reference(root, rel, key, values, fields) -> pa.Table:
    t = pds.dataset(os.path.join(root, rel), format="parquet", partitioning="hive").to_table()
    keep = pc.is_in(t[key], value_set=pa.array(list(values), t.schema.field(key).type))
    if fields is not None:
        keep = pc.and_(keep, pc.is_in(t["field"], value_set=pa.array(fields, pa.int32())))
    return t.filter(keep)


def _rows(cols: dict) -> list:
    return sorted(zip(*cols.values()))


def _check(files, root, rel, key, values, columns, fields):
    """read() equals the pyarrow filter once its key and hive values are
    spread back over the rows; its payload holds no key or hive column."""
    got = files.read(rel, key, values, columns, fields)
    want = _reference(root, rel, key, values, fields)
    cols = columns or want.column_names
    assert got.table.column_names == [c for c in cols if c not in (key, "unit", "tb")]

    def column(c):
        if c == key:
            return got.per_row(got.keys).tolist()
        if c in ("unit", "tb"):
            return got.per_row([h[c] for h in got.hive]).tolist()
        return got.table.column(c).to_pylist()

    rebuilt = {c: column(c) for c in cols}
    assert _rows(rebuilt) == _rows(want.select(cols).to_pydict()), (rel, values, columns, fields)
    assert got.num_rows == want.num_rows
    if got.table.num_columns:
        assert got.table.num_rows == got.num_rows
    # runs are whole: every run's key is one of the values and non-empty
    assert set(got.keys) <= set(values) and (got.counts > 0).all()


TERM_READS = (
    (["a", "abc", "ж", "ёлка", "ѳ"], None, None),             # ASCII + Cyrillic
    (["ab", "abc"], ["s", "term", "v"], [0]),                  # a key that prefixes another
    (["жук", "жукк", "ж"], ["term", "unit", "field"], [1]),
    (["abd", "b", "нет", "zz", "ё"], ["v"], None),             # with absent keys
    (["нет", "zz"], ["term", "v", "unit"], [0]),               # nothing found
    (WORDS, ["field", "s"], [0, 1]),
)


@pytest.mark.parametrize("bucketed", [True, False], ids=["tb_dirs", "flat"])
def test_term_reads_equal_pyarrow_filter(tmp_path, bucketed):
    """Term reads over shuffled 3-row row groups — ASCII and Cyrillic keys,
    a key that is a prefix of another, absent keys, field filters, key and
    hive columns asked or not — equal a pyarrow dataset filter, cold and
    then warm."""
    root = _term_store(str(tmp_path), bucketed)
    files = StoreFiles(root)
    for _ in range(2):
        for values, columns, fields in TERM_READS:
            _check(files, root, "terms", "term", values, columns, fields)


@pytest.mark.parametrize("hive", [True, False], ids=["hive", "flat"])
def test_doc_id_reads_equal_pyarrow_filter(tmp_path, hive):
    """int64 doc_id reads — with and without hive directories, with a
    field filter, absent ids, duplicated ids across row groups, and one
    file whose key column has no row-group statistics — equal a pyarrow
    dataset filter."""
    root = _doc_store(str(tmp_path), hive)
    md = pq.read_metadata(os.path.join(root, "docs", "unit=1" if hive else "", "part-1.parquet"))
    assert not md.row_group(0).column(0).is_stats_set
    files = StoreFiles(root)
    reads = ((list(range(0, 60, 5)), None, None),
             ([7, 8, 9, 10**12], ["s", "doc_id"], [0, 2]),
             ([3, 1, 4, 1, 5, 9, 2, 6], ["v", "field", *(["unit"] if hive else [])], [1]),
             ([-1, 10**12], ["doc_id", "v"], None),
             (list(range(60)), ["v"], [0]))
    for _ in range(2):
        for values, columns, fields in reads:
            _check(files, root, "docs", "doc_id", values, columns, fields)


def _resident_buffer_bytes(g) -> int:
    """What `g` holds, counted from its objects: the Arrow buffers of its
    table (each once) plus every numpy array it owns outright (a view into
    one of those Arrow buffers is not counted twice)."""
    bufs = {}
    for col in g.t.columns:
        for chunk in col.chunks:
            for b in chunk.buffers():
                if b is not None:
                    bufs[b.address] = b.size
    total = sum(bufs.values())
    for name in type(g).__slots__:
        a = getattr(g, name)
        if isinstance(a, np.ndarray):
            inside = any(addr <= a.ctypes.data < addr + size for addr, size in bufs.items())
            total += 0 if inside else a.nbytes
    return total


def test_resident_groups_hold_payload_only_and_charge_exact_bytes(tmp_path):
    """After term and doc_id reads, no resident row group holds the key
    column, a hive column or an object-dtype array; its run index is numpy
    (`S` UTF-8 bytes as wide as its longest key, or int64); and each
    group's byte charge — and so the reader's total — equals the buffers it
    actually holds, also after a later read attached more columns."""
    root = _doc_store(_term_store(str(tmp_path), True), True)
    files = StoreFiles(root)
    files.read("terms", "term", WORDS, ["v"], [0])
    files.read("docs", "doc_id", range(60), ["s"])
    files.read("terms", "term", WORDS[:4], ["s", "term", "unit", "tb"])  # attaches `s`
    files.read("docs", "doc_id", range(30), None)
    assert files._groups
    for (path, _), g in files._groups.items():
        key = "term" if "/terms/" in path else "doc_id"
        assert not {key, "unit", "tb"} & set(g.t.column_names), g.t.column_names
        arrays = [getattr(g, s) for s in type(g).__slots__]
        assert not any(isinstance(a, np.ndarray) and a.dtype == object for a in arrays)
        if key == "term":
            assert g.keys.dtype.kind == "S"
            assert g.keys.dtype.itemsize == max(len(k) for k in g.keys)
            assert [k.decode() for k in g.keys] == sorted({k.decode() for k in g.keys})
        else:
            assert g.keys.dtype == np.int64 and (np.diff(g.keys) > 0).all()
        assert g.nbytes == _resident_buffer_bytes(g)
    assert files._bytes == sum(g.nbytes for g in files._groups.values())
    assert files.resident() == {"groups": len(files._groups), "bytes": files._bytes}


# -- once-per-view scans against a pyarrow dataset read -----------------------

def _vocab_words(rng: random.Random) -> list[str]:
    """~200 distinct ASCII and Cyrillic terms; none starts with `q`."""
    abc = "abcdefghijklmnoprstuvwxyz0123456789" + "абвгджзиклмнопрстуфхцчшщюяёєії"
    words = set(WORDS)
    while len(words) < 200:
        words.add("".join(rng.choice(abc) for _ in range(rng.randint(1, 7))))
    return sorted(words)


def _scan_store(root) -> str:
    """A hand-written store: a tb-layout tstats dictionary (term, field, df,
    p1, tlen, bagsig; each tb file term-sorted in 2-row row groups, one file
    written without statistics), docs (doc_id, doclen) in two unit
    directories, the second without statistics, a tombstone file plus a
    writer's _temporary leftover, and cstats.json."""
    from ucuddle_search_engine_spark.functions.hashing import term_buckets
    from ucuddle_search_engine_spark.operators.fuzzy import bag_signature_py

    rng = random.Random(7)
    by_tb: dict[int, list] = {}
    for w in _vocab_words(rng):
        for f in (0, 1):
            if f == 0 or rng.random() < 0.5:
                by_tb.setdefault(term_buckets([w])[0], []).append(
                    (w, f, rng.randint(1, 50), w[:1], len(w), bag_signature_py(w)))
    for i, (tb, rows) in enumerate(sorted(by_tb.items())):
        cols = dict(zip(("term", "field", "df", "p1", "tlen", "bagsig"), zip(*sorted(rows))))
        _write_rows(os.path.join(root, "tstats", f"tb={tb}", "part-0.parquet"),
                    {c: list(v) for c, v in cols.items()}, 2, None,
                    **({"write_statistics": False} if i == 3 else {}))
    for unit in (0, 1):
        ids = list(range(unit, 80, 2))
        _write_rows(os.path.join(root, "docs", f"unit={unit}", "part-0.parquet"),
                    {"doc_id": ids, "doclen": [rng.randint(0, 30) for _ in ids]}, 7, rng,
                    **({"write_statistics": False} if unit else {}))
    _write_rows(os.path.join(root, "tombstones", "part-0.parquet"),
                {"doc_id": [61, 4, 9, 9]}, 2, None)
    _write_rows(os.path.join(root, "tombstones", "_temporary", "0", "part-1.parquet"),
                {"doc_id": [5]}, 2, None)
    with open(os.path.join(root, "cstats.json"), "w") as fh:
        fh.write('[{"field": 0, "n_docs": 80, "avgdl": 15.0}, '
                 '{"field": 1, "n_docs": 80, "avgdl": 3.0}]')
    return root


def _pds_table(root, rel, columns, flt=None) -> pa.Table:
    return pds.dataset(os.path.join(root, rel), format="parquet",
                       partitioning="hive").to_table(columns=columns, filter=flt)


def _max_df(t: pa.Table) -> dict:
    out: dict = {}
    for term, d in zip(t["term"].to_pylist(), t["df"].to_pylist()):
        out[term] = max(d, out.get(term, -1))
    return out


def test_fuzzy_vocabulary_scans_equal_pyarrow_dataset(tmp_path):
    """serve.py's fuzzy reads — the full vocabulary, first-char buckets
    (ASCII, Cyrillic, absent), the columnar prefilter bundles and the row
    count guard — equal the same reads through a pyarrow dataset, on
    multi-row-group tb files, one of them without statistics."""
    from ucuddle_search_engine_spark.operators.fuzzy import sig_nibbles

    root = _scan_store(str(tmp_path))
    mds = [pq.read_metadata(p) for p in glob.glob(os.path.join(root, "tstats", "tb=*", "*"))]
    multi = [md for md in mds if md.num_row_groups > 1]
    assert len(multi) > len(mds) // 2
    assert sum(not md.row_group(0).column(0).is_stats_set for md in multi) == 1
    serve = _serve()
    app = serve.SearchApp(root)
    view = app._view
    assert {"p1", "tlen", "bagsig"} <= set(view.searcher.files.columns("tstats"))
    for firsts in (["a"], ["ж", "a", "ё"], ["q"], ["q", "я"]):
        want = _max_df(_pds_table(root, "tstats", ["term", "df"], pds.field("p1").isin(firsts)))
        assert app._vocab(view, firsts) == want, firsts
    assert app._vocab(view, None) == _max_df(_pds_table(root, "tstats", ["term", "df"]))
    for first in ("a", "ж", "ё", "q", ""):
        flt = (pds.field("p1") == first) if first else None
        gp = _pds_table(root, "tstats", ["term", "df", "tlen", "bagsig"], flt).group_by(
            "term").aggregate([("df", "max"), ("tlen", "max"), ("bagsig", "max")])
        want = sorted(zip(gp["term"].to_pylist(), gp["df_max"].to_pylist(),
                          gp["tlen_max"].to_pylist(),
                          map(tuple, sig_nibbles(gp["bagsig_max"].to_numpy()).tolist())))
        terms, df, tlen, nib = app._arrow_bucket(view, first)
        got = sorted(zip(terms.to_pylist(), df.tolist(), tlen.tolist(), map(tuple, nib.tolist())))
        assert got == want, first
    assert not app._vocab_too_big(view)
    assert view.tstats_rows == pds.dataset(os.path.join(root, "tstats")).count_rows()
    assert view.searcher.files.resident() == {"groups": 0, "bytes": 0}


def test_open_and_offset_scans_equal_pyarrow_dataset(tmp_path):
    """open_local's tombstone read (a writer's _temporary leftover
    skipped; a _temporary-only directory reads as no tombstone) and flat
    tstats read, and the phrase rank engine's token offsets over docs in
    two unit directories, one without statistics, equal pyarrow dataset
    reads."""
    import numpy as np

    from ucuddle_search_engine_spark.operators.phrase import _token_offsets

    root = _scan_store(str(tmp_path))
    s = SegmentSearcher.open_local(root)
    want = _pds_table(root, "tombstones", ["doc_id"])["doc_id"].to_pylist()
    assert s.tombstones == sorted(set(want)) == [4, 9, 61]

    t = _pds_table(root, "docs", ["doc_id", "doclen"])
    full = np.ones(80, dtype=np.int64)
    full[t["doc_id"].to_numpy()] += t["doclen"].to_numpy()
    assert _token_offsets(s.files, None).tolist() == [0] + np.cumsum(full).tolist()
    assert s.files.resident() == {"groups": 0, "bytes": 0}

    shutil.rmtree(os.path.join(root, "tombstones"))
    _write_rows(os.path.join(root, "tombstones", "_temporary", "0", "part-1.parquet"),
                {"doc_id": [5]}, 2, None)
    assert SegmentSearcher.open_local(root).tombstones == []
    # legacy flat tstats layout: the dictionary is read whole at open
    flat = os.path.join(root, "tstats_flat")
    for i, path in enumerate(sorted(glob.glob(os.path.join(root, "tstats", "tb=*", "*.parquet")))):
        os.makedirs(flat, exist_ok=True)
        shutil.copy(path, os.path.join(flat, f"part-{i}.parquet"))
    shutil.rmtree(os.path.join(root, "tstats"))
    os.rename(flat, os.path.join(root, "tstats"))
    t = _pds_table(root, "tstats", ["term", "field", "df"])
    assert SegmentSearcher.open_local(root)._tstats_cache == {
        (term, f): d for term, f, d in zip(*t.to_pydict().values())}
