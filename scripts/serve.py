"""Thin serving tier over a written store — the reference's Flask read path
(web/app.py:26-43 renders highlighted top-20 over HTTP) re-expressed without
any Spark job on the hot path:

- open the store Spark-free (SegmentSearcher.open_local: pyarrow term stats,
  cstats.json, tombstones),
- analyze the query with THE STORE'S analyzer (analyzer.json — the
  search_analyzer == index analyzer pin, crawler/functs_with_elastic.go:85-94),
- rank via search_local (keyed reads from the view's resident decoded row
  groups — operators/storefiles: each row group is decoded once, on first
  touch — + the same numpy scorers the distributed path uses — identical
  ranking, ms latency),
- fetch the k hit titles from the docs rows (the row groups holding the
  ids, resident the same way), capitalized like the reference does (C6,
  web/elastic_interaction.py:84).

stdlib http.server only — no framework dependencies.

    python scripts/serve.py --index DIR [--port 8080]
    GET /search?q=free+text&k=10&mode=or   → JSON hits
    GET /health                            → {"docs": N}
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import sys
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from pathlib import Path
from urllib.parse import parse_qs, urlparse

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from ucuddle_search_engine_spark.operators.wand import SegmentSearcher  # noqa: E402


def _load_analyzer_py(store_dir: str):
    """analyzer.json → Analyzer (identity chain when absent) — delegates to
    the single shared loader, so index and query side can't drift."""
    from ucuddle_search_engine_spark.functions.analyze import (
        IDENTITY_ANALYZER,
        load_analyzer_config,
    )

    return load_analyzer_config(store_dir) or IDENTITY_ANALYZER


class _StoreView:
    """ONE store generation's complete serving state: searcher + analyzer +
    every cache that derives from the store's files. A request captures a
    view once and runs wholly against it, so a concurrent reload can never
    mix generations inside a request or poison the new generation's caches —
    late writes land in the orphaned old view and are garbage-collected."""

    __slots__ = ("searcher", "analyzer", "result_cache", "vocab_full",
                 "vocab_buckets", "arrow_buckets", "tstats_rows",
                 "phrase_cache")

    def __init__(self, store_dir: str):
        self.searcher = SegmentSearcher.open_local(store_dir)
        self.analyzer = _load_analyzer_py(store_dir)
        # bounded response cache (the ES request-cache analogue)
        self.result_cache: dict[tuple, list[dict]] = {}
        # fuzzy-expansion vocabulary caches: merged max-df across ALL fields
        # (title-only terms expand too), built lazily on the first fuzzy
        # query — full dict for prefix=0, per-first-char buckets (a pruned
        # tstats read each) for prefix>=1
        self.vocab_full: dict[str, float] | None = None
        self.vocab_buckets: dict[str, dict[str, float]] = {}
        # columnar fuzzy-prefilter bundles (stores whose tstats carries
        # tlen/bagsig): first-char (or "" = whole dictionary) →
        # (term arrow array, df f64, tlen i64, bag nibbles (n,16) u8).
        # Terms stay Arrow until the handful of prefilter survivors — no
        # Python pass over the bucket's vocabulary, cold or warm.
        self.arrow_buckets: dict[str, tuple] = {}
        # memoized tstats row count (parquet-metadata-only), for the
        # full-vocab guard below
        self.tstats_rows: int | None = None
        # quoted-phrase term-key cache (operators.phrase.PhraseKeysCache),
        # created lazily on the first phrase query; dies with the view on
        # reopen, so a merged/compacted store can never serve stale keys
        self.phrase_cache = None


class SearchApp:
    def __init__(self, store_dir: str):
        import threading

        self.store_dir = store_dir
        self._lock = threading.Lock()
        self._open()

    RESULT_CACHE_CAP = 256

    def _open(self) -> None:
        # snapshot the generation token BEFORE reading the store: a write
        # that commits while we open makes the token stale, so the NEXT
        # request reopens and picks it up (computing the token after the read
        # would silently absorb the mid-open commit's mtimes and never reload)
        gen = self._generation()
        self._view = _StoreView(self.store_dir)
        self._gen = gen

    def warm(self) -> "SearchApp":
        """Returns self: the store view opens in __init__ and nothing is left
        to wait for before taking traffic (the serving tier pre-touches no
        memory; see functions/mem). Kept so `SearchApp(dir).warm()` callers
        keep working."""
        return self

    # -- back-compat accessors (tests + introspection) -----------------------
    @property
    def searcher(self):
        return self._view.searcher

    @property
    def analyzer(self):
        return self._view.analyzer

    @property
    def _result_cache(self):
        return self._view.result_cache

    @property
    def _vocab_full(self):
        return self._view.vocab_full

    @property
    def _vocab_buckets(self):
        return self._view.vocab_buckets

    # -- freshness (the ES refresh analogue) --------------------------------
    # The reference makes every indexed doc immediately searchable
    # (Refresh:"true", crawler/functs_with_elastic.go:321). Here writes land
    # via admin.py (delete-docs tombstones in place; add-docs/merge build a
    # new store that is swapped into the served path), so freshness = detect
    # the store generation changed and reopen — a few stat() calls per
    # request, no restart.
    def _generation(self) -> tuple:
        gen = []
        for rel in ("cstats.json", "analyzer.json", "tstats", "tombstones", "docs"):
            p = os.path.join(self.store_dir, rel)
            try:
                st = os.stat(p)
                gen.append((rel, st.st_mtime_ns, st.st_size))
            except FileNotFoundError:
                gen.append((rel, None, None))
        return tuple(gen)

    def _maybe_reload(self) -> None:
        gen = self._generation()
        if gen != self._gen:
            with self._lock:
                if gen != self._gen:  # double-checked under the lock
                    self._open()

    def _vocab(self, view: _StoreView, firsts: list[str] | None) -> dict[str, float]:
        """{term: max df across fields} for fuzzy expansion. firsts=None →
        the whole vocabulary (prefix_length=0); otherwise only those
        first-char buckets, each a p1-filtered (row-group-pruned) tstats
        read, cached on THE REQUEST'S view (generation-pinned)."""
        import pyarrow.dataset as pds

        ds = view.searcher._dataset("tstats")  # memoized handle, per view
        has_p1 = "p1" in ds.schema.names

        def merge_rows(tt) -> dict[str, float]:
            out: dict[str, float] = {}
            for t, d in zip(tt["term"].to_pylist(), tt["df"].to_pylist()):
                if d > out.get(t, -1):
                    out[t] = d
            return out

        if firsts is None or not has_p1:
            # Build the full vocab OUTSIDE the lock (the to_table read can be
            # seconds on a large dictionary — holding the app-wide lock would
            # stall every concurrent request and reload for the duration),
            # then publish under the lock with a re-check so a racing builder
            # wins exactly once and the loser's table is dropped.
            full = view.vocab_full
            if full is None:
                built = merge_rows(ds.to_table(columns=["term", "df"]))
                with self._lock:
                    if view.vocab_full is None:
                        view.vocab_full = built
                    full = view.vocab_full
            if firsts is None:
                return full
            # legacy store (no p1): derive the requested first-char buckets
            # from the full vocab ONCE each, so repeat prefix queries don't
            # re-filter the whole dictionary per request
            with self._lock:
                missing = [c for c in firsts if c not in view.vocab_buckets]
                if missing:
                    mset = set(missing)
                    got = {c: {} for c in missing}
                    for t, d in full.items():
                        c = t[:1]
                        if c in mset:
                            got[c][t] = d
                    view.vocab_buckets.update(got)
                out: dict[str, float] = {}
                for c in firsts:
                    out.update(view.vocab_buckets.get(c, {}))
                return out
        # same build-outside / publish-inside shape as the full-vocab branch
        # above: the p1-bucket read can be seconds of I/O+decode on a large
        # dictionary, and holding the app-wide lock through it would stall
        # every concurrent request's cache-publish and the reload check.
        # Racing builders duplicate the read; setdefault keeps one copy.
        with self._lock:
            missing = [c for c in firsts if c not in view.vocab_buckets]
        if missing:
            tt = ds.to_table(filter=pds.field("p1").isin(missing),
                             columns=["term", "df", "p1"])
            got = {c: {} for c in missing}
            for t, d, c in zip(tt["term"].to_pylist(), tt["df"].to_pylist(),
                               tt["p1"].to_pylist()):
                b = got[c]
                if d > b.get(t, -1):
                    b[t] = d
            with self._lock:
                for c, b in got.items():
                    view.vocab_buckets.setdefault(c, b)
        with self._lock:
            out: dict[str, float] = {}
            for c in firsts:
                out.update(view.vocab_buckets.get(c, {}))
            return out

    def _arrow_bucket(self, view: _StoreView, first: str):
        """Columnar fuzzy-prefilter bundle for one first-char bucket ("" =
        the whole dictionary, prefix_length=0): max-df-per-term grouped in
        Arrow C++, bag signatures unpacked to a (n, 16) nibble matrix in
        numpy. No Python-object materialization of the vocabulary — the
        5M-doc cold path this replaces spent its time in to_pylist + dict
        building + per-char ord() loops."""
        got = view.arrow_buckets.get(first)
        if got is not None:
            return got
        import numpy as np
        import pyarrow.dataset as pds

        from ucuddle_search_engine_spark.operators.fuzzy import sig_nibbles

        ds = view.searcher._dataset("tstats")
        flt = (pds.field("p1") == first) if first else None
        tt = ds.to_table(filter=flt, columns=["term", "df", "tlen", "bagsig"])
        gp = tt.group_by("term").aggregate(
            [("df", "max"), ("tlen", "max"), ("bagsig", "max")])
        built = (
            gp["term"].combine_chunks(),
            gp["df_max"].to_numpy().astype(np.float64),
            gp["tlen_max"].to_numpy().astype(np.int64),
            sig_nibbles(gp["bagsig_max"].to_numpy()),
        )
        with self._lock:
            # racing builders: first publisher wins, the loser's copy drops
            return view.arrow_buckets.setdefault(first, built)

    def _expand_columnar(self, view: _StoreView, qterms: list[str],
                         prefix_length: int,
                         max_expansions: int | None = None) -> list[str]:
        """Fuzzy expansion over the persisted tlen/bagsig columns — same
        semantics as operators.fuzzy.expand_terms_py (AUTO distances, prefix
        band, df-desc/term-asc cap), but the |len−len(q)| ≤ d and
        bag-distance ≤ 2d prefilters run as vectorized numpy over the scan
        output; only the survivors (a guaranteed superset of the true ≤d
        set) ever become Python strings for the exact capped levenshtein."""
        import numpy as np
        import pyarrow as pa

        from ucuddle_search_engine_spark.operators.fuzzy import (
            MAX_EXPANSIONS,
            _lev_capped,
            auto_distance,
            bag_signature_py,
            sig_nibbles,
        )

        if max_expansions is None:
            max_expansions = MAX_EXPANSIONS
        out: set[str] = set()
        for qt in sorted(set(qterms)):
            if not qt:
                continue
            d = auto_distance(qt)
            term_arr, df, tlen, nib = self._arrow_bucket(
                view, qt[:1] if prefix_length >= 1 else "")
            # query-side bag through the SAME helpers that persisted the
            # build-side column (fuzzy.bag_signature_py / sig_nibbles): the
            # never-drop-a-candidate lower bound requires both sides to bin
            # and clamp identically, so there must be exactly one encoding
            qn = sig_nibbles(np.array([bag_signature_py(qt)]))[0].astype(np.int16)
            mask = np.abs(tlen - len(qt)) <= d
            mask &= np.abs(nib.astype(np.int16) - qn).sum(axis=1) <= 2 * d
            idx = np.flatnonzero(mask)
            if not len(idx):
                continue
            pre = qt[:prefix_length]
            cand = []
            for j, t in zip(idx, term_arr.take(pa.array(idx)).to_pylist()):
                if prefix_length >= 1 and t[:prefix_length] != pre:
                    continue
                if _lev_capped(t, qt, d) <= d:
                    cand.append((t, float(df[j])))
            if max_expansions is not None:
                cand.sort(key=lambda x: (-x[1], x[0]))
                cand = cand[:max_expansions]
            out.update(t for t, _ in cand)
        return sorted(out)

    # above this many dictionary terms, fuzzy prefix_length=0 is forced to 1
    # on p1-partitioned stores (see _search_uncached) — 2M terms ≈ tens of MB
    # of dict, the comfortable single-process ceiling
    VOCAB_FULL_CAP = 2_000_000

    def _vocab_too_big(self, view: _StoreView) -> bool:
        ds = view.searcher._dataset("tstats")
        if "p1" not in ds.schema.names:
            return False  # legacy flat store: small by construction
        if view.tstats_rows is None:
            view.tstats_rows = ds.count_rows()  # parquet metadata only
        return view.tstats_rows > self.VOCAB_FULL_CAP

    def search(self, q: str, k: int = 10, mode: str = "or",
               highlight: bool = False, fuzzy: bool = False,
               prefix_length: int = 0, offset: int = 0) -> list[dict]:
        self._maybe_reload()
        # capture ONE generation's view: the whole request (analyze → rank →
        # doc fetch → cache insert) runs against it, so a concurrent reload
        # can neither mix generations inside the request nor receive this
        # request's (now stale) result into the fresh caches
        view = self._view
        cache = view.result_cache
        key = (q, k, mode, highlight, fuzzy, prefix_length, offset)
        cached = cache.get(key)
        if cached is not None:
            return cached
        out = self._search_uncached(view, q, k, mode, highlight, fuzzy,
                                    prefix_length, offset)
        with self._lock:
            cache.pop(key, None)
            cache[key] = out
            if len(cache) > self.RESULT_CACHE_CAP:
                cache.pop(next(iter(cache)))
        return out

    def _search_uncached(self, view: _StoreView, q: str, k: int, mode: str,
                         highlight: bool, fuzzy: bool, prefix_length: int,
                         offset: int) -> list[dict]:
        if len(q.strip()) < 3:  # length guard (web/app.py:30-31)
            return []
        qs = q.strip()
        # quoted query → exact phrase over the positional sidecar (the ES
        # match_phrase / search_quote_analyzer path the index was built to
        # serve, crawler/functs_with_elastic.go:85-94) — Spark-free, same
        # scores as phrase_search_written. Stores without a sidecar degrade
        # to AND (every phrase term present, order not enforced).
        phrase = len(qs) > 1 and qs[0] == '"' and qs[-1] == '"'
        if phrase:
            qs = qs[1:-1]
        terms = view.analyzer.analyze_py(qs if phrase else q)
        if not terms:
            return []
        if phrase:
            if os.path.isdir(os.path.join(self.store_dir, "postings")):
                from ucuddle_search_engine_spark.operators.phrase import (
                    PhraseKeysCache,
                    phrase_search_local,
                )

                import numpy as np

                if view.phrase_cache is None:
                    with self._lock:  # lose the race → keep the winner's
                        if view.phrase_cache is None:
                            view.phrase_cache = PhraseKeysCache()
                ts = view.searcher.tombstones
                hits = phrase_search_local(
                    self.store_dir, terms, k=k + offset,
                    dead=np.asarray(ts, dtype=np.int64) if ts else None,
                    cache=view.phrase_cache, files=view.searcher.files,
                )[offset:]
                return self._hydrate(view, terms, hits, highlight)
            # no positional sidecar: degrade the quoted query to AND (every
            # phrase term present, order not enforced) — and keep that
            # guarantee by skipping fuzzy expansion, which would reset the
            # mode to OR and lose the all-terms contract the fallback exists
            # to preserve
            mode, fuzzy = "and", False
        if fuzzy:
            # ES fuzziness:AUTO (web_old/elastic_interaction.py:23): expand
            # each term against the vocabulary, score the expanded set as one
            # disjunction — pure-Python mirror of the Spark path. With
            # prefix_length>=1 only the query terms' first-char buckets load.
            from ucuddle_search_engine_spark.operators.fuzzy import expand_terms_py

            if prefix_length == 0 and self._vocab_too_big(view):
                # Guard for the tb-layout stores built for 10^8+-term
                # dictionaries: a prefix_length=0 expansion needs the WHOLE
                # vocabulary in serving RAM — O(vocabulary) memory and a
                # full-dictionary scan per cold query. Above the cap we force
                # prefix_length=1 (ES-style index-level safeguard; matches
                # must then share the first character), which turns the read
                # into |q| pruned first-char buckets.
                prefix_length = 1
            if "bagsig" in view.searcher._dataset("tstats").schema.names:
                # stores with the persisted tlen/bagsig prefilter columns:
                # columnar expansion, no Python pass over the vocabulary
                terms = self._expand_columnar(view, terms, prefix_length)
            else:
                firsts = (sorted({t[:1] for t in terms if t})
                          if prefix_length >= 1 else None)
                vocab = self._vocab(view, firsts)
                terms = expand_terms_py(vocab, terms, prefix_length=prefix_length)
            if not terms:
                return []
            mode = "or"
        hits = view.searcher.search_local(terms, k=k, mode=mode, offset=offset)
        return self._hydrate(view, terms, hits, highlight)

    def _hydrate(self, view: _StoreView, terms: list[str],
                 hits: list[tuple[int, float]], highlight: bool) -> list[dict]:
        """Ranked (doc_id, score) pairs → response rows: titles/repo/path from
        the docs rows and, when asked, bolded snippets from the positional
        sidecar — shared by the term and phrase paths. Both are keyed reads
        of the view's resident row groups (decoded once per view, so a warm
        highlight costs slices, not a docs `content` and sidecar decode)."""
        if not hits:
            return []
        files = view.searcher.files
        ids = [d for d, _ in hits]
        want_snippets = highlight and os.path.isdir(os.path.join(self.store_dir, "postings"))
        cols = ["doc_id", "title", "repo", "path"] + (["content"] if want_snippets else [])
        meta = {row["doc_id"]: row for row in files.read("docs", "doc_id", ids, cols).to_pylist()}
        snippets: dict[int, str] = {}
        if want_snippets:
            # bolded densest-window snippets from the positional sidecar —
            # same _snippet the distributed highlight path uses (C7); the
            # sidecar read is the query terms' rows, never the corpus
            from ucuddle_search_engine_spark.operators.highlight import _snippet

            import pyarrow as pa
            import pyarrow.compute as pc

            pt = files.read("postings", "term", terms, ["term", "doc_id", "field", "positions"], [0])
            pt = pt.filter(pc.is_in(pt["doc_id"], value_set=pa.array(ids)))
            pos: dict[int, list[int]] = {}
            for row in pt.select(["doc_id", "positions"]).to_pylist():
                pos.setdefault(row["doc_id"], []).extend(row["positions"])
            for d, p in pos.items():
                m = meta.get(d)
                if m is not None:  # defensive: sidecar row without a doc row
                    snippets[d] = _snippet(m["content"], sorted(p))
        out = []
        for doc_id, score in hits:
            m = meta.get(doc_id, {})
            title = m.get("title") or ""
            title = (title[:1].upper() + title[1:]) if title else ""  # C6
            h = {"doc_id": doc_id, "score": round(score, 6), "title": title,
                 "repo": m.get("repo", ""), "path": m.get("path", "")}
            if want_snippets:
                h["snippet"] = snippets.get(doc_id, "")
            out.append(h)
        return out

    def n_docs(self) -> int:
        self._maybe_reload()
        return int(self.searcher._coll[0][0]) if 0 in self.searcher._coll else 0


class RoutedSearchApp:
    """Language-routed serving over a RoutedStores root (plans/routed layout:
    out/lang=<l>/ + routing.json) — the reference's full read path: detect the
    query language (web/app.py:33) and serve from that language's store with
    its own analyzer (web/elastic_interaction.py:53-57). Detection is the
    same stopword vote the doc side used to build the stores."""

    def __init__(self, root_dir: str):
        import threading

        self.root_dir = root_dir
        self._reload_lock = threading.Lock()
        self._open()

    def _open(self) -> None:
        path = os.path.join(self.root_dir, "routing.json")
        # snapshot the mtime BEFORE reading (SearchApp._open's
        # generation-before-read ordering): a write landing between read and
        # stat then leaves a stale token, so the NEXT request reopens —
        # stat-after-read would silently absorb that write forever
        mtime = os.stat(path).st_mtime_ns
        with open(path) as f:
            meta = json.load(f)
        langs = meta["langs"]
        # build the EXPENSIVE part first (per-language store opens), then
        # publish langs/fallback/apps together and the mtime token LAST: a
        # concurrent request that sees the new token must also see the new
        # apps — the reverse order exposed a window where apps was stale
        # while fallback was new, so a routable query transiently missed
        self.apps = {
            lang: SearchApp(os.path.join(self.root_dir, f"lang={lang}"))
            for lang in langs
        }
        self.langs = langs
        # the reference's else-branch: unknown-language queries go to a
        # configured default store (ru there, web/elastic_interaction.py:53-57)
        self.fallback = meta.get("fallback")
        self._routing_mtime = mtime

    def _maybe_reload(self) -> None:
        # per-language stores reload themselves (SearchApp._maybe_reload);
        # this catches routing.json itself changing (a language added/removed).
        # Lock + re-check: concurrent requests must not each rebuild every
        # per-language SearchApp (multi-second tstats opens)
        try:
            if os.stat(os.path.join(self.root_dir, "routing.json")).st_mtime_ns \
                    != self._routing_mtime:
                with self._reload_lock:
                    if os.stat(os.path.join(
                            self.root_dir, "routing.json")).st_mtime_ns \
                            != self._routing_mtime:
                        self._open()
        except FileNotFoundError:
            pass

    def search(self, q: str, k: int = 10, mode: str = "or", **kw) -> list[dict]:
        self._maybe_reload()
        from ucuddle_search_engine_spark.operators.routing import detect_lang

        lang = detect_lang(q)
        app = self.apps.get(lang)
        if app is None and self.fallback is not None:
            lang, app = self.fallback, self.apps.get(self.fallback)
        if app is None:
            return []  # und / unrouted language and no fallback configured
        hits = app.search(q, k=k, mode=mode, **kw)
        # COPY before annotating: app.search returns the dicts that live in
        # SearchApp's shared result cache — inserting a key into those while
        # a concurrent cache-hit request is json.dumps-iterating the same
        # objects raises "dictionary changed size during iteration" (and
        # would poison the cache with routing metadata regardless)
        return [{**h, "lang": lang} for h in hits]

    def n_docs(self) -> int:
        return sum(a.n_docs() for a in self.apps.values())


def make_handler(app: SearchApp):
    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 (stdlib API name)
            u = urlparse(self.path)
            try:
                if u.path == "/health":
                    body = {"docs": app.n_docs()}
                elif u.path == "/search":
                    qs = parse_qs(u.query)
                    try:
                        # malformed numerics (?k=abc) are a client error — a
                        # clean 400, not a ValueError-turned-500 traceback
                        # clamp BOTH ends: a negative k would flow into
                        # list slices as tops[offset:offset-1] and return
                        # nearly everything instead of erroring
                        k = max(min(int(qs.get("k", ["10"])[0]), 100), 1)
                        prefix = max(min(int(qs.get("prefix", ["0"])[0]), 8), 0)
                        offset = max(int(qs.get("from", ["0"])[0]), 0)
                    except ValueError:
                        self.send_error(400, "k/prefix/from must be integers")
                        return
                    body = app.search(
                        q=qs.get("q", [""])[0],
                        k=k,
                        mode=qs.get("mode", ["or"])[0],
                        highlight=qs.get("highlight", ["0"])[0] == "1",
                        fuzzy=qs.get("fuzzy", ["0"])[0] == "1",
                        prefix_length=prefix,
                        # ES from+size pagination (search_local's offset
                        # contract: shards return offset+k, merge skips offset)
                        offset=offset,
                    )
                else:
                    self.send_error(404)
                    return
            except Exception as e:
                logging.getLogger("serve").exception("500 on %s", self.path)
                self.send_error(500, str(e))
                return
            payload = json.dumps(body).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def log_message(self, *a):  # quiet
            pass

    return Handler


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True,
                    help="a single store dir, or a RoutedStores root with --routed")
    ap.add_argument("--routed", action="store_true",
                    help="treat --index as a per-language RoutedStores root")
    ap.add_argument("--port", type=int, default=8080)
    args = ap.parse_args()
    logging.basicConfig(level=logging.INFO, format="%(asctime)s %(levelname)s %(message)s")
    app = RoutedSearchApp(args.index) if args.routed else SearchApp(args.index)
    srv = ThreadingHTTPServer(("127.0.0.1", args.port), make_handler(app))
    print(f"serving {args.index} on http://127.0.0.1:{args.port}  (/search?q=...&k=10&mode=or)")
    srv.serve_forever()


if __name__ == "__main__":
    main()
