"""Keyed reads over one store view's parquet files, from resident footers.

Serving reads are point lookups on a sort key: terms in segments, tstats and
the positional sidecar, doc ids in docs. A view's files are immutable, so the
reader lists each subdir once and parses each footer once, the first time a
read touches its partition directory (the `tb` term bucket, or the whole
subdir for unbucketed files such as docs), keeping per row group [min, max]
of the key — Delta Lake's data skipping from per-file statistics. A read
opens only the row groups whose range holds a wanted key. A store swap opens
a new view with a new reader, so footers never go stale.
"""

from __future__ import annotations

import bisect
import os
import threading

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


class StoreFiles:
    def __init__(self, store_dir: str):
        self.store_dir = store_dir
        self._lock = threading.Lock()
        self._listed: dict[str, dict] = {}  # rel → {tb | None: [(path, hive)]}
        self._parsed: dict[tuple, list] = {}  # (rel, tb, key) → [(path, hive, md, ranges)]

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

    def _footers(self, rel: str, tb, key: str) -> list:
        with self._lock:
            if rel not in self._listed:
                self._listed[rel] = self._list(rel)
            got = self._parsed.get((rel, tb, key))
            if got is None:
                got = self._parsed[(rel, tb, key)] = [
                    (path, hive, md, _key_ranges(md, key))
                    for path, hive in self._listed[rel].get(tb, ())
                    for md in (pq.read_metadata(path),)]
        return got

    def read(self, rel: str, key: str, values, columns: list[str] | None = None,
             fields=None) -> pa.Table:
        """Rows of <store>/<rel> whose `key` is in `values` (and `field` in
        `fields` when given), as `columns` (default: all, the hive columns
        unit/tb included; block_no as int64). Term reads touch only the
        terms' tb directories."""
        vals = sorted(set(values))
        plan: dict = {}
        if key == "term":
            from ..functions.hashing import term_buckets

            for v in vals:
                plan.setdefault(term_buckets([v])[0], []).append(v)
        plan[None] = vals  # unbucketed files (docs, flat layouts)
        parts = []
        for tb, vs in plan.items():
            for path, hive, md, ranges in self._footers(rel, tb, key):
                rgs = [i for i, r in enumerate(ranges) if r is None
                       or bisect.bisect_left(vs, r[0]) < bisect.bisect_right(vs, r[1])]
                if rgs:
                    t = _read(path, hive, md, rgs, columns)
                    keep = pc.is_in(t[key], value_set=pa.array(vs))
                    if fields is not None:
                        keep = pc.and_(keep, pc.is_in(t["field"], pa.array(fields, t["field"].type)))
                    parts.append((t.filter(keep), hive))
        if not parts:  # no row group holds a key: any file of the subdir types the answer
            anyf = next((f for fs in self._listed[rel].values() for f in fs), None)
            if anyf is None:
                return pa.table({c: pa.nulls(0) for c in columns or ()})
            parts = [(_read(*anyf, pq.read_metadata(anyf[0]), [], columns), anyf[1])]
        # rows are filtered per file (only matches stay resident); the
        # concat, cast and hive columns run once per read, since each Arrow
        # call costs Python overhead and a GIL re-take
        t = pa.concat_tables([p for p, _ in parts], promote_options="permissive")
        if "block_no" in t.column_names:
            t = t.set_column(t.schema.get_field_index("block_no"), "block_no",
                             t["block_no"].cast(pa.int64()))
        for k in parts[0][1]:
            if columns is None or k in columns:
                t = t.append_column(k, pa.array(np.repeat(
                    np.array([h[k] for _, h in parts], np.int32), [p.num_rows for p, _ in parts])))
        return t if columns is None else t.select(columns)


def _key_ranges(md, key: str) -> list:
    """Per row group (min, max) of the `key` column, None where the footer
    holds no min/max statistics (such a row group is always read)."""
    ci = next(i for i in range(md.num_columns) if md.schema.column(i).path == key)
    stats = (md.row_group(r).column(ci).statistics for r in range(md.num_row_groups))
    return [(st.min, st.max) if st is not None and st.has_min_max else None for st in stats]


def _read(path: str, hive: dict, md, rgs: list[int], columns) -> pa.Table:
    with pq.ParquetFile(path, metadata=md) as pf:
        return pf.read_row_groups(
            rgs, columns=None if columns is None else [c for c in columns if c not in hive],
            use_threads=False)
