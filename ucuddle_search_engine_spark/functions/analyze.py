"""The analyzer chain — ONE tokenizer shared by index build and query side.

The reference configures this inside Elasticsearch: standard tokenizer +
lowercase (+ language stop/stem) at crawler/functs_with_elastic.go:136-157, and
pins search_analyzer == index analyzer (crawler/functs_with_elastic.go:85-94) so
query terms hit the same token space. We enforce the same parity by exposing a
single token regex in strictly-equivalent forms:

1. ``tokenize_col`` — Column expression (JVM regexp_extract_all, codegen'd):
   the hot path for stats and the exact-BM25 oracle queries.
2. ``make_flat_postings_fn`` — a ``mapInArrow`` body emitting
   (doc_id, term, tf, positions, doclen) rows: the index-build path
   (positions feed highlight C7 and phrase queries; ES retains them for
   `text` fields). ``tokenize_with_positions_udf`` (array<struct<term,pos>>)
   and ``make_termvector_udf`` are the pandas-UDF forms it is tested
   against.
3. ``analyze_query`` / ``Analyzer.analyze_py`` — plain-Python for the query
   string (the reference analyzes the query with the same analyzer,
   web/app.py:26-35).

The Python forms serve queries in the Spark-free serving tier, so pyspark and
pandas are imported only inside the Column, UDF and build forms.

The token alphabet is ASCII [a-z0-9]+ over lowercased text — deliberate: it is
expressible identically in Java regex (Spark), Python re, and RE2 (DuckDB
oracle), which is what makes rank-identity machine-checkable. Stopword removal
is OFF by default (the code corpus has no natural-language stop list; the
reference's russian_stop applies to its web corpus only).
"""

from __future__ import annotations

import functools
import re
from dataclasses import dataclass
from typing import Iterator, List

TOKEN_PATTERN = "[a-z0-9]+"
# ASCII + Cyrillic (incl. ё and Ukrainian є і ї ґ) — literal char ranges so the
# SAME pattern string runs in Java regex (Spark), Python re, and RE2 (DuckDB)
TOKEN_PATTERN_CYRILLIC = "[a-z0-9а-яёєіїґ]+"
_PY_TOKEN_RE = re.compile(TOKEN_PATTERN)


# ---------------------------------------------------------------------------
# Configurable analyzer: tokenize → stopword filter → light stemmer.
#
# The reference configures exactly this chain inside Elasticsearch — the
# ukrainian/russian analyzers with stop+stem filters
# (crawler/functs_with_elastic.go:136-157) — and pins search_analyzer ==
# index analyzer (:85-94). One Analyzer instance here is the single source of
# truth for all three execution forms (Column expression, Arrow UDF, driver
# Python) plus the DuckDB-SQL rendering used by the machine-checkable oracle,
# so index/query/oracle parity is structural, not tested-by-luck.
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class Analyzer:
    """token_pattern over lowercased text; stopwords removed post-tokenize;
    stem rules are (suffix, replacement) pairs tried in order — the FIRST
    matching suffix with len(token) - len(suffix) >= min_stem applies (an
    identity pair like ('ss','ss') blocks later shorter rules, Porter-style).
    Defaults = the identity analyzer (current oracle-query behavior).

    snowball: language code ('ru'/'uk') switches stemming to the full
    Snowball algorithm (functions/snowball.py — the published russian
    algorithm; a rule-based ukrainian adaptation), matching the reference's
    ES russian_stemmer / ukrainian analyzer
    (crawler/functs_with_elastic.go:142-145, 71-76). When set, stem_rules /
    min_stem are ignored; all four execution forms (Python, Column, Arrow
    UDF, DuckDB SQL) route to the same snowball tables."""

    token_pattern: str = TOKEN_PATTERN
    stopwords: tuple[str, ...] = ()
    stem_rules: tuple[tuple[str, str], ...] = ()
    min_stem: int = 3
    snowball: str | None = None

    # -- Python form (query side + Arrow UDF body) --------------------------
    def stem_py(self, tok: str) -> str:
        if self.snowball:
            from .snowball import snowball_stem_py

            return snowball_stem_py(self.snowball)(tok)
        for suf, rep in self.stem_rules:
            if tok.endswith(suf) and len(tok) - len(suf) >= self.min_stem:
                return tok[: len(tok) - len(suf)] + rep
        return tok

    def analyze_py(self, text: str) -> List[str]:
        toks = re.findall(self.token_pattern, text.lower())
        stops = set(self.stopwords)
        return [self.stem_py(t) for t in toks if t not in stops]

    # -- Column form (index build + exact-BM25 hot path) ---------------------
    def stem_col(self, tok: Column) -> Column:
        from pyspark.sql import functions as F

        if self.snowball:
            from .snowball import snowball_stem_col

            return snowball_stem_col(self.snowball, tok)
        out = tok
        for suf, rep in reversed(self.stem_rules):
            cond = tok.endswith(suf) & (F.length(tok) - len(suf) >= self.min_stem)
            stemmed = F.concat(F.substr(tok, F.lit(1), F.length(tok) - len(suf)), F.lit(rep))
            out = F.when(cond, stemmed).otherwise(out)
        return out

    def tokens_col(self, col: Column | str) -> Column:
        from pyspark.sql import functions as F

        c = F.col(col) if isinstance(col, str) else col
        toks = F.regexp_extract_all(F.lower(c), F.lit(self.token_pattern), 0)
        if self.stopwords:
            toks = F.filter(toks, lambda t: ~t.isin(*self.stopwords))
        if self.stem_rules or self.snowball:
            toks = F.transform(toks, self.stem_col)
        return toks

    # -- SQL form (DuckDB oracle rendering) ----------------------------------
    def stem_sql(self, var: str = "t") -> str:
        if self.snowball:
            from .snowball import snowball_stem_sql

            return snowball_stem_sql(self.snowball, var)
        if not self.stem_rules:
            return var
        expr = var
        for suf, rep in reversed(self.stem_rules):
            sl = len(suf)
            expr = (
                f"CASE WHEN ends_with({var}, '{suf}') AND length({var}) - {sl} >= {self.min_stem} "
                f"THEN substring({var}, 1, length({var}) - {sl}) || '{rep}' ELSE {expr} END"
            )
        return expr

    def tokens_sql(self, expr: str) -> str:
        toks = f"regexp_extract_all(lower({expr}), '{self.token_pattern}')"
        if self.stopwords:
            arr = ", ".join(f"'{w}'" for w in self.stopwords)
            toks = f"list_filter({toks}, t -> NOT list_contains([{arr}], t))"
        if self.stem_rules or self.snowball:
            toks = f"list_transform({toks}, t -> {self.stem_sql('t')})"
        return toks


IDENTITY_ANALYZER = Analyzer()


def load_analyzer_config(store_dir: str) -> "Analyzer | None":
    """analyzer.json → Analyzer (None when the store has no config). THE one
    loader — the Spark tier (plans.build_index.load_analyzer) and the
    Spark-free serving tier (scripts/serve.py) both delegate here, so a new
    Analyzer field can never reach one side's loader and not the other's
    (that would silently break index/query stemming parity)."""
    import json
    import os

    path = os.path.join(store_dir, "analyzer.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        cfg = json.load(f)
    return Analyzer(
        token_pattern=cfg["token_pattern"],
        stopwords=tuple(cfg["stopwords"]),
        stem_rules=tuple((s, r) for s, r in cfg["stem_rules"]),
        min_stem=cfg["min_stem"],
        snowball=cfg.get("snowball"),  # absent in pre-snowball stores → None
    )

# Light stemmers: strip-only suffix rules (longest-first; identity pairs block
# over-stripping), the ES light_english/light_russian shape — deliberately
# coarse, same on both index and query sides so recall improves without any
# parity risk.
_EN_STEM = (("sses", "ss"), ("ies", "i"), ("ing", ""), ("ed", ""), ("ss", "ss"),
            ("es", ""), ("ly", ""), ("s", ""))
_RU_STEM = (("иями", ""), ("ями", ""), ("ами", ""), ("ого", ""), ("его", ""),
            ("ому", ""), ("ему", ""), ("ыми", ""), ("ими", ""), ("ует", ""),
            ("ать", ""), ("ять", ""), ("ить", ""), ("еть", ""), ("ет", ""),
            ("ют", ""), ("ит", ""), ("ой", ""), ("ей", ""), ("ов", ""),
            ("ев", ""), ("ам", ""), ("ях", ""), ("ом", ""), ("ем", ""),
            ("ы", ""), ("и", ""), ("а", ""), ("я", ""), ("о", ""), ("е", ""),
            ("у", ""), ("ю", ""), ("ь", ""))
_UK_STEM = (("ення", ""), ("ість", ""), ("ями", ""), ("ами", ""), ("ого", ""),
            ("ому", ""), ("ння", ""), ("ів", ""), ("ам", ""), ("ах", ""),
            ("ом", ""), ("ем", ""), ("и", ""), ("і", ""), ("а", ""), ("я", ""),
            ("о", ""), ("е", ""), ("у", ""), ("ю", ""), ("ь", ""))

_EN_STOP = ("the", "and", "of", "to", "a", "in", "is", "it", "for", "on",
            "with", "as", "at", "by", "an", "be", "this", "that", "are", "or")
_RU_STOP = ("и", "в", "во", "не", "что", "он", "на", "я", "с", "со", "как",
            "а", "то", "все", "она", "так", "его", "но", "да", "ты", "к", "у",
            "же", "вы", "за", "бы", "по", "ее", "мне")
_UK_STOP = ("і", "в", "не", "на", "я", "з", "що", "до", "це", "як", "ми",
            "за", "але", "від", "так", "його", "у", "та", "по", "або")

# ru/uk default to the full Snowball algorithm (the reference's ES
# russian_stemmer / ukrainian analyzer fidelity); the light strip-suffix
# variants stay available as *_light presets.
ANALYZERS: dict[str, Analyzer] = {
    "en": Analyzer(TOKEN_PATTERN, _EN_STOP, _EN_STEM),
    "ru": Analyzer(TOKEN_PATTERN_CYRILLIC, _RU_STOP, snowball="ru"),
    "uk": Analyzer(TOKEN_PATTERN_CYRILLIC, _UK_STOP, snowball="uk"),
    "ru_light": Analyzer(TOKEN_PATTERN_CYRILLIC, _RU_STOP, _RU_STEM),
    "uk_light": Analyzer(TOKEN_PATTERN_CYRILLIC, _UK_STOP, _UK_STEM),
}


def tokenize_col(col: Column | str) -> Column:
    """Array-of-terms Column: lowercase + regex extract. Whole-stage codegen."""
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(F.lower(c), F.lit(TOKEN_PATTERN), 0)


def analyze_query(query: str) -> List[str]:
    """Driver-side analysis of a query string (order-preserving, with dups)."""
    return _PY_TOKEN_RE.findall(query.lower())


def _series_udf(fn, return_type):
    """`fn` (an Iterator[pd.Series] -> Iterator[pd.Series] body) as a scalar
    iterator pandas UDF. Its hints are set as objects: pandas_udf resolves
    string hints against this module's globals, which hold no pandas."""
    import pandas as pd
    from pyspark.sql import functions as F

    fn.__annotations__ = {"it": Iterator[pd.Series], "return": Iterator[pd.Series]}
    return F.pandas_udf(fn, return_type)


@functools.cache
def _tokenize_udf():
    from ..schema import TOKENS_SCHEMA

    def tokenize(it):
        import pandas as pd

        for texts in it:
            yield pd.Series([[] if text is None else
                             [{"term": t, "pos": i}
                              for i, t in enumerate(_PY_TOKEN_RE.findall(text.lower()))]
                             for text in texts], index=texts.index)

    return _series_udf(tokenize, TOKENS_SCHEMA)


def tokenize_with_positions_udf(col: Column | str) -> Column:
    """content -> array<struct<term,pos>>, a scalar-iterator pandas UDF
    (built on first use). Iterator form so per-batch overhead (none here,
    but e.g. a loaded stemmer) amortizes across Arrow batches within a
    partition."""
    return _tokenize_udf()(col)


TERMVECTOR_SCHEMA = ("array<struct<term: string not null, tf: bigint not null, "
                     "positions: array<int> not null, doclen: bigint not null>>")


def make_termvector_udf(analyzer: Analyzer):
    """content -> per-doc term vector [(term, tf, positions, doclen)]: the
    analysis stage pre-aggregated per document (what ES's analyzer emits).
    The SAME Analyzer instance drives index-side tokenization here and
    query-side analyze_py — the search_analyzer == index analyzer pin (K5).
    Positions index the post-stopword token sequence (both sides agree, so
    phrase semantics hold)."""

    def impl(it):
        import pandas as pd

        pat = re.compile(analyzer.token_pattern)
        stops = set(analyzer.stopwords)
        for texts in it:
            out = []
            for text in texts:
                if text is None:
                    out.append([])
                    continue
                toks = [analyzer.stem_py(t) for t in pat.findall(text.lower()) if t not in stops]
                agg: dict[str, list[int]] = {}
                for i, t in enumerate(toks):
                    agg.setdefault(t, []).append(i)
                n = len(toks)
                out.append([{"term": t, "tf": len(ps), "positions": ps, "doclen": n}
                            for t, ps in agg.items()])
            yield pd.Series(out, index=texts.index)

    return _series_udf(impl, TERMVECTOR_SCHEMA)


FLAT_POSTINGS_SCHEMA = "doc_id long, term string, tf long, positions array<int>, doclen long"


def make_flat_postings_fn(analyzer: "Analyzer | None", id_col: str = "doc_id", text_col: str = "content"):
    """mapInArrow body: (doc_id, text) record batches → exploded postings
    (doc_id, term, tf, positions, doclen) — the SAME rows make_termvector_udf
    + explode produces (tested), built without per-doc Python dicts, without the
    pandas→Arrow conversion of array<struct>, and without the JVM explode.

    Per-token Python work is only the tokenizer itself (regex + optional
    stop/stem — unavoidable); the (doc, term) aggregation runs vectorized:
    factorize the token stream, one lexsort by (doc, term-code, pos), group
    boundaries by flag diff, tf by reduceat-style span lengths, positions as
    ONE ListArray over the sorted position buffer (no per-group lists).
    Measured r7 @sf1.0: 1.30 s → 0.99 s for the postings stage."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    pat_src = analyzer.token_pattern if analyzer is not None else TOKEN_PATTERN
    stops = frozenset(analyzer.stopwords) if analyzer is not None else frozenset()
    stem = analyzer.stem_py if analyzer is not None and (analyzer.stem_rules or analyzer.snowball) else None

    # Arrow hands whole 10k-row batches to the worker; tokenizing ALL of a
    # batch's docs before aggregating would hold every token string of the
    # batch alive at once (~0.5-1 GB/worker on 1.5k-token docs — ×32 workers
    # this crashed a 5M-doc build). Sub-slice so at most SUB docs' tokens are
    # live per aggregation pass; each pass still vectorizes over ~10^5 tokens.
    SUB = 2048

    # Vectorized tokenizer fast path (opt guide §4.2: whole-batch native
    # kernels instead of per-row Python): findall('[a-z0-9]+') over lowered
    # text == split on the complement class with empty segments dropped, and
    # pyarrow exposes both halves as C++ kernels (utf8_lower +
    # split_pattern_regex via RE2). Gated to the cases where equivalence is
    # PROVABLE, not plausible: identity analyzer (no stop/stem), the default
    # ASCII token pattern, and a pure-ASCII batch slice (checked with
    # string_is_ascii — on ASCII bytes, Python str.lower, utf8proc lower and
    # byte-wise lower coincide and re/RE2 agree on the class). Anything else
    # falls back to the per-doc regex path below, so exotic Unicode costs
    # correctness nothing. tests/test_postings_fast.py pins row parity.
    arrow_ok = stem is None and not stops and pat_src == TOKEN_PATTERN

    def arrow_tokens(texts_arr):
        """texts (pa.Array, nulls allowed, pure ASCII) → (doc_idx, codes,
        dictionary, pos, lens) with identical semantics to per-doc findall."""
        import pyarrow.compute as pc

        lower = pc.utf8_lower(pc.fill_null(texts_arr, ""))
        lst = pc.split_pattern_regex(lower, "[^a-z0-9]+")
        counts = pc.list_value_length(lst).to_numpy().astype(np.int64)
        vals = pc.list_flatten(lst)
        keep = pc.binary_length(vals).to_numpy() > 0
        doc_idx = np.repeat(np.arange(len(counts)), counts)[keep]
        enc = pc.dictionary_encode(vals.filter(pa.array(keep)))
        codes = enc.indices.to_numpy().astype(np.int64)
        lens = np.bincount(doc_idx, minlength=len(counts)).astype(np.int64)
        starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
        pos = (np.arange(len(doc_idx)) - np.repeat(starts, lens)).astype(np.int32)
        return doc_idx, codes, enc.dictionary, pos, lens

    def one_slice(batch):
        # worker-side import: pyarrow does NOT auto-import its compute
        # submodule, and the closure's `pa` is re-imported by name in the
        # worker, so a bare pa.compute crashes in fresh workers (hit in the
        # r7 5M store build on segments.py's equivalent; fixed both)
        import pyarrow.compute as pc

        pat = re.compile(pat_src)
        ids = batch.column(id_col).to_numpy(zero_copy_only=False)
        texts_arr = batch.column(text_col)
        use_arrow = arrow_ok and bool(
            pc.all(pc.string_is_ascii(pc.fill_null(texts_arr, ""))).as_py()
        )
        if use_arrow:
            doc_idx, codes, dictionary, pos, lens = arrow_tokens(texts_arr)
            n = len(doc_idx)
            if n == 0:
                return None
            all_toks = None
        else:
            texts = texts_arr.to_pylist()
            if stops or stem is not None:
                _stem = stem if stem is not None else (lambda t: t)
                tok_lists = [
                    [] if t is None else [_stem(x) for x in pat.findall(t.lower()) if x not in stops]
                    for t in texts
                ]
            else:
                tok_lists = [[] if t is None else pat.findall(t.lower()) for t in texts]
            lens = np.fromiter((len(t) for t in tok_lists), dtype=np.int64, count=len(tok_lists))
            n = int(lens.sum())
            if n == 0:
                return None
            doc_idx = np.repeat(np.arange(len(tok_lists)), lens)
            all_toks = np.empty(n, dtype=object)
            w = 0
            for tl in tok_lists:
                all_toks[w:w + len(tl)] = tl
                w += len(tl)
            pos = np.concatenate([np.arange(k, dtype=np.int32) for k in lens if k > 0])
            codes, _ = pd.factorize(all_toks)
            dictionary = None
        order = np.lexsort((pos, codes, doc_idx))
        di, cd, po = doc_idx[order], codes[order], pos[order]
        newg = np.empty(n, dtype=bool)
        newg[0] = True
        newg[1:] = (di[1:] != di[:-1]) | (cd[1:] != cd[:-1])
        starts = np.flatnonzero(newg)
        ends = np.append(starts[1:], n)
        offsets = np.concatenate(([0], ends)).astype(np.int32)
        if dictionary is not None:
            term_col = dictionary.take(pa.array(cd[starts])).cast(pa.string())
        else:
            term_col = pa.array(all_toks[order][starts], type=pa.string())
        return pa.record_batch(
            [
                pa.array(ids[di[starts]], type=pa.int64()),
                term_col,
                pa.array((ends - starts).astype(np.int64)),
                pa.ListArray.from_arrays(pa.array(offsets), pa.array(po)),
                pa.array(lens[di[starts]], type=pa.int64()),
            ],
            names=["doc_id", "term", "tf", "positions", "doclen"],
        )

    def fn(batches):
        for whole in batches:
            for off in range(0, whole.num_rows, SUB):
                out = one_slice(whole.slice(off, min(SUB, whole.num_rows - off)))
                if out is not None:
                    yield out

    return fn

