"""Keyed reads over one store view's parquet files, from resident decoded
row groups.

Serving reads are point lookups on a sort key: terms in segments, tstats and
the positional sidecar, doc ids in docs. A view's files are immutable, so the
reader lists each subdir once and parses each footer once, the first time a
read touches its partition directory (the `tb` term bucket, or the whole
subdir for unbucketed files such as docs), keeping per row group [min, max]
of the key — Delta Lake's data skipping from per-file statistics. A read
touches only the row groups whose range holds a wanted key.

Each (file, row group, column) is decoded at most once, on first touch, and
kept resident in key order (rows are sorted when the file is not). A
resident row group holds payload columns only, block_no widened to int64.
The key column becomes a run index of two numpy arrays: each key run's key
(int64, or UTF-8 bytes as numpy `S`, whose bytewise order is Arrow's and
Python's code-point order) and the runs' first rows. The hive partition
values (unit, tb) are the file's constants, never columns. A read is
vectorised index lookups plus zero-copy slices, answered as `Rows`: the
payload rows plus their key runs (key, hive values, row count, in table
order), so no read rebuilds a key or hive column per row. The fixed cost of
a Parquet decode call (~0.3–0.8 ms whatever its row count) is paid once per
row group, not once per request. Resident bytes (Arrow buffers plus the run
index, exact) are LRU-bounded by the RAM-derived `_default_seg_cache_bytes()`.
A store swap opens a new view with a new reader, so nothing resident goes
stale.

Whole-subdir reads that run once per view (tombstones, the legacy flat term
dictionary, the docs doclen column, the fuzzy vocabularies) go through
`scan`: transient per-file reads over the same listing and footers, pruned
by footer statistics, that leave nothing resident.
"""

from __future__ import annotations

import bisect
import collections
import os
import threading

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from ..functions.arrow_np import array, key_bytes, to_np


def _default_seg_cache_bytes() -> int:
    """Default bound of the serving tier's byte-charged caches: the per-term
    chain cache (SegmentSearcher._seg_chains) and each view's resident row
    groups (StoreFiles). RAM-derived like the decode cache: ~3% of physical
    RAM, floored at 256 MB, capped at 8 GB. The round-6 motivation is a
    wide-OR working set: a 58-term fuzzy expansion on a 5M-doc store carries
    ~720k block rows / ~0.5 GB of chains — over the old fixed 500k-ROW
    budget, so the LRU swept 100% cold on every warm query and each query
    re-paid the Arrow read + groupby + _BlockList builds (~2.5 s/query,
    measured). Override: UCUDDLE_SEG_CACHE_BYTES env var."""
    env = os.environ.get("UCUDDLE_SEG_CACHE_BYTES")
    if env:
        return max(1, int(env))
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):
        return 256 << 20
    return min(max(256 << 20, ram // 32), 8 << 30)


class Rows:
    """A keyed read's answer. `table` holds the payload columns (the asked
    columns minus the key and hive ones); its rows come in key runs, run i
    being `counts[i]` rows of key `keys[i]` from a file whose hive partition
    values are `hive[i]`, runs in table order."""

    __slots__ = ("table", "keys", "hive", "counts")

    def __init__(self, table: pa.Table, keys: list, hive: list, counts: list):
        self.table, self.keys, self.hive = table, keys, hive
        self.counts = np.asarray(counts, dtype=np.int64)

    @property
    def num_rows(self) -> int:
        return int(self.counts.sum())

    def per_row(self, values) -> np.ndarray:
        """One value per run (say `keys`, or a hive value per run) → one
        per row."""
        return np.repeat(np.asarray(values), self.counts)


class StoreFiles:
    def __init__(self, store_dir: str):
        self.store_dir = store_dir
        self.budget = _default_seg_cache_bytes()
        self._lock = threading.Lock()
        self._listed: dict[str, dict] = {}  # rel → {tb | None: [(path, hive)]}
        self._parsed: dict[tuple, list] = {}  # (rel, tb) → [(path, hive, md, names)]
        self._ranged: dict[tuple, list] = {}  # (rel, tb, key) → [(path, hive, md, names, ranges)]
        self._groups: collections.OrderedDict = collections.OrderedDict()  # (path, rg) → _Group
        self._bytes = 0  # Σ _Group.nbytes over self._groups
        self._empty: dict[tuple, pa.Table] = {}

    def resident(self) -> dict:
        """Resident row groups: their count and exact bytes."""
        with self._lock:
            return {"groups": len(self._groups), "bytes": self._bytes}

    def _list(self, rel: str) -> dict:
        """Data files of <store>/<rel> grouped by their tb directory, with
        their hive partition values; names starting with _ or . (Spark's
        _SUCCESS, _temporary, .crc) are skipped, as pyarrow datasets do."""
        root = os.path.join(self.store_dir, rel)
        groups: dict = {}
        for dirpath, dirnames, filenames in os.walk(root):
            dirnames[:] = sorted(d for d in dirnames if not d.startswith(("_", ".")))
            parts = os.path.relpath(dirpath, root).split(os.sep)
            hive = {k: int(v) for k, v in (p.split("=", 1) for p in parts if "=" in p)}
            for f in sorted(filenames):
                if not f.startswith(("_", ".")):
                    groups.setdefault(hive.get("tb"), []).append(
                        (os.path.join(dirpath, f), hive))
        return groups

    def _listing(self, rel: str) -> dict:
        listed = self._listed.get(rel)
        if listed is None:
            listed = self._list(rel)
            with self._lock:
                listed = self._listed.setdefault(rel, listed)
        return listed

    def _parse(self, rel: str, tb) -> list:
        """Parsed footers of one tb directory: the disk parse runs outside
        the reader lock, so concurrent reads never wait behind it; a racing
        parse of the same directory is dropped at publish."""
        got = self._parsed.get((rel, tb))
        if got is None:
            got = []
            for path, hive in self._listing(rel).get(tb, ()):
                md = pq.read_metadata(path)
                got.append((path, hive, md, md.schema.to_arrow_schema().names))
            with self._lock:
                got = self._parsed.setdefault((rel, tb), got)
        return got

    def _footers(self, rel: str, tb, key: str) -> list:
        """_parse's footers with each file's per row group [min, max] of
        `key` (see _key_ranges)."""
        got = self._ranged.get((rel, tb, key))
        if got is None:
            got = [(*f, _key_ranges(f[2], key)) for f in self._parse(rel, tb)]
            with self._lock:
                got = self._ranged.setdefault((rel, tb, key), got)
        return got

    def columns(self, rel: str) -> list[str]:
        """The file columns of <store>/<rel>, from its first data file's
        footer ([] when it has none)."""
        for tb in self._listing(rel):
            for f in self._parse(rel, tb):
                return f[3]
        return []

    def num_rows(self, rel: str) -> int:
        """Rows of <store>/<rel>, from its footers."""
        return sum(f[2].num_rows for tb in self._listing(rel) for f in self._parse(rel, tb))

    def scan(self, rel: str, columns: list[str], key: str | None = None,
             values=None) -> pa.Table | None:
        """The file columns `columns` of every data file of <store>/<rel>,
        one transient per-file read each; nothing is kept resident. With
        `key` (one of `columns`), only the rows whose `key` is in `values`,
        read from the row groups whose footer [min, max] of `key` can hold
        one of them. None when the subdir has no data file."""
        want = None if key is None else sorted(set(values))
        files = [f for tb in self._listing(rel) for f in self._parse(rel, tb)]
        if not files:
            return None
        pieces = [_empty(files[0][2]).select(columns)]
        for path, hive, md, _ in files:
            rgs = list(range(md.num_row_groups))
            if want is not None:
                rgs = [rg for rg, r in zip(rgs, _key_ranges(md, key)) if r is None or
                       bisect.bisect_left(want, r[0]) < bisect.bisect_right(want, r[1])]
            if rgs:
                pieces.append(_decode(path, hive, md, rgs, columns))
        t = pa.concat_tables(pieces, promote_options="default")
        if want is not None:
            t = t.filter(pc.is_in(t[key], value_set=array(want, t.schema.field(key).type)))
        return t

    def _group(self, path: str, hive: dict, md, names: list, rg: int, key: str,
               cols: list[str]) -> "_Group":
        """Row group `rg` of `path` with at least the payload columns `cols`
        resident. Decodes (outside the lock) only what is not resident yet;
        a racing decoder's columns merge into whichever entry was published
        first."""
        gk = (path, rg)
        with self._lock:
            g = self._groups.get(gk)
            if g is not None:
                self._groups.move_to_end(gk)
                miss = [c for c in cols if c not in g.names]
                if not miss:
                    return g
        if g is None:
            need = list(dict.fromkeys(
                [key] + (["field"] if "field" in names else []) + cols))
            g = _Group(_decode(path, hive, md, [rg], need), key)
            new = g.t
        else:
            new = _prep(_decode(path, hive, md, [rg], miss), g.order)
        with self._lock:
            cur = self._groups.get(gk)
            if cur is None:
                cur = self._groups[gk] = g
                self._bytes += g.nbytes
            else:
                self._groups.move_to_end(gk)
            self._bytes += cur.add(new)
            # a single over-budget row group still serves its read
            while self._bytes > self.budget and len(self._groups) > 1:
                self._bytes -= self._groups.popitem(last=False)[1].nbytes
        return cur

    def read(self, rel: str, key: str, values, columns: list[str] | None = None,
             fields=None) -> Rows:
        """Rows of <store>/<rel> whose `key` is in `values` (and `field` in
        `fields` when given), as the payload columns among `columns`
        (default: every file column); the key and hive values come back per
        run (see Rows). Term reads touch only the terms' tb directories.
        Runs come in key order per row group, not in file order."""
        vals = sorted(set(values))
        plan: dict = {}
        if key == "term":
            from ..functions.hashing import term_buckets

            for v in vals:
                plan.setdefault(term_buckets([v])[0], []).append(v)
        plan[None] = vals  # unbucketed files (docs, flat layouts)
        pieces, keys, hives, counts = [], [], [], []
        for tb, vs in plan.items():
            enc = None
            for path, hive, md, names, ranges in self._footers(rel, tb, key):
                payload = [c for c in (names if columns is None else columns)
                           if c != key and c not in hive]
                for rg, r in enumerate(ranges):
                    lo, hi = (0, len(vs)) if r is None else (
                        bisect.bisect_left(vs, r[0]), bisect.bisect_right(vs, r[1]))
                    if lo == hi:
                        continue
                    if enc is None:
                        enc = _encode(vs)
                    g = self._group(path, hive, md, names, rg, key, payload)
                    for j, piece in g.rows(payload, enc[lo:hi], fields):
                        pieces.append(piece)
                        keys.append(vs[lo + j])
                        hives.append(hive)
                        counts.append(piece.num_rows)
        # no row holds a key: any file of the subdir types the answer
        table = pa.concat_tables(pieces) if pieces else self._none(rel, key, columns)
        return Rows(table, keys, hives, counts)

    def _none(self, rel: str, key: str, columns) -> pa.Table:
        """The empty payload table, typed like the subdir's files (memoized)."""
        ek = (rel, key, None if columns is None else tuple(columns))
        hit = self._empty.get(ek)
        if hit is None:
            anyf = next((f for fs in self._listing(rel).values() for f in fs), None)
            if anyf is None:
                hit = pa.table({})
            else:
                path, hive = anyf
                empty = _empty(pq.read_metadata(path))
                out = columns if columns is not None else empty.column_names
                hit = _prep(empty.select(
                    [c for c in out if c != key and c not in hive]), None)
            self._empty[ek] = hit
        return hit


class _Group:
    """One resident row group: `t` holds its decoded payload columns in key
    order (block_no as int64), `order` the permutation from file order (None
    when the file was already sorted). The run index is two numpy arrays:
    `keys` holds each run's key, sorted (int64, or UTF-8 bytes as `S`), and
    run i spans rows starts[i]:starts[i + 1]. `fld` is a zero-copy view of
    the field column (None without one) and `fields` its distinct values.
    `nbytes` is exact: the table's buffers plus the two index arrays."""

    __slots__ = ("t", "names", "order", "keys", "starts", "fld", "fields", "nbytes", "tables")

    def __init__(self, t: pa.Table, key: str):
        ks = t.column(key).combine_chunks()
        runs = pc.run_end_encode(ks)
        self.order = None
        if pc.any(pc.less(runs.values[1:], runs.values[:-1])).as_py():
            self.order = pc.sort_indices(ks)
            runs = pc.run_end_encode(ks.take(self.order))
        t = _prep(t.drop_columns([key]), self.order)
        self.t, self.names = t, set(t.schema.names)
        self.keys = _key_array(runs.values)
        self.starts = np.concatenate(([0], to_np(runs.run_ends))).astype(np.int64)
        self.fld = to_np(t.column("field")) if "field" in self.names else None
        self.fields = set() if self.fld is None else set(pc.unique(t.column("field")).to_pylist())
        self.tables: dict[tuple, pa.Table] = {}
        self.nbytes = t.get_total_buffer_size() + self.keys.nbytes + self.starts.nbytes

    def add(self, t: pa.Table) -> int:
        """Attach the columns of `t` (already in key order) not yet
        resident; returns the bytes added."""
        added = 0
        for c in t.schema.names:
            if c not in self.names:
                self.t = self.t.append_column(c, t.column(c))
                self.names.add(c)
                added += t.column(c).get_total_buffer_size()
        self.nbytes += added
        return added

    def table(self, out: list[str]) -> pa.Table:
        """The resident columns `out` as one table (zero-copy, memoized)."""
        t = self.tables.get(tuple(out))
        if t is None:
            t = self.tables.setdefault(tuple(out), self.t.select(out))
        return t

    def rows(self, out: list[str], enc: np.ndarray, fields) -> list[tuple[int, pa.Table]]:
        """(j, rows) for each key enc[j] (sorted, `_encode`d) held here with
        a field in `fields` (None: any), as `out`: a zero-copy slice per key
        run, filtered only when the row group holds a field outside
        `fields`."""
        if not len(self.keys):
            return []
        i = self.keys.searchsorted(enc)
        found = (self.keys.take(i, mode="clip") == enc).nonzero()[0]
        if not len(found):
            return []
        i = i[found]
        t, got = self.table(out), []
        mask = fields is not None and not self.fields <= set(fields)
        for j, a, b in zip(found.tolist(), self.starts[i].tolist(), self.starts[i + 1].tolist()):
            if mask:
                m = np.isin(self.fld[a:b], fields)
                if not m.any():
                    continue
            got.append((j, t.slice(a, b - a) if not mask or m.all()
                        else t.slice(a, b - a).filter(array(m))))
        return got


def _key_array(values: pa.Array) -> np.ndarray:
    """Run keys as one compact numpy array that owns its memory: int64, or
    fixed-width UTF-8 bytes (`S`, the longest key's width) for strings."""
    if pa.types.is_string(values.type) or pa.types.is_large_string(values.type):
        return key_bytes(values)
    return to_np(values).astype(np.int64)


def _encode(vs: list) -> np.ndarray:
    """Sorted lookup values in the run index's dtype."""
    if isinstance(vs[0], str):
        return np.array([v.encode() for v in vs], dtype="S")
    return np.array(vs, dtype=np.int64)


def _empty(md) -> pa.Table:
    """The zero-row table of a file's schema, one empty chunk per column
    (Schema.empty_table and combining a chunkless column import pandas)."""
    schema = md.schema.to_arrow_schema()
    return pa.Table.from_arrays([pa.nulls(0, f.type) for f in schema], schema=schema)


def _prep(t: pa.Table, order) -> pa.Table:
    """Decoded columns in key order, block_no as int64."""
    t = t if order is None else t.take(order)
    i = t.schema.get_field_index("block_no")
    return t if i < 0 else t.set_column(i, "block_no", t.column(i).cast(pa.int64()))


def _key_ranges(md, key: str) -> list:
    """Per row group (min, max) of the `key` column, None where the footer
    holds no min/max statistics (such a row group is always read)."""
    ci = next(i for i in range(md.num_columns) if md.schema.column(i).path == key)
    stats = (md.row_group(r).column(ci).statistics for r in range(md.num_row_groups))
    return [(st.min, st.max) if st is not None and st.has_min_max else None for st in stats]


def _decode(path: str, hive: dict, md, rgs: list[int], columns: list[str]) -> pa.Table:
    with pq.ParquetFile(path, metadata=md) as pf:
        return pf.read_row_groups(rgs, columns=[c for c in columns if c not in hive],
                                  use_threads=False)
