"""Query-language routing over per-language indexes — the reference's core
read-path branch: every search first detects the query's language
(web/app.py:33, `langdetect.detect`) and routes to the matching per-language
ES index (web/elastic_interaction.py:53-57 picks ukr/rus), whose analyzer
chain (stop + stem, crawler/functs_with_elastic.go:136-157) matches the
index-side analysis.

Here each language gets its own InvertedIndex built over the docs that
language-ID assigns to it, with that language's Analyzer — per-language BM25
statistics (df/avgdl), exactly the per-index stats ES keeps. Detection uses
the SAME stopword-vote heuristic on both sides: Column form
(functions.textstats.lang_id) for docs, plain-Python mirror here for the
query string.

Scale posture: routing adds no new shuffles — each per-lang index is the
normal build over a filtered scan (the lang predicate pushes down to parquet
when docs are stored partitioned-by-lang), and a query touches exactly one
language's index. detect_lang runs in the Spark-free serving tier
(scripts/serve.py's RoutedSearchApp), so pyspark is imported only where
the per-language indexes are built (LangRoutedIndex).
"""

from __future__ import annotations

import re

from ..functions.analyze import ANALYZERS, Analyzer, IDENTITY_ANALYZER
from ..functions.textstats import STOPWORDS, VOTE_TOKEN_PATTERN, charset_prior_py

_TOKEN_RE = re.compile(VOTE_TOKEN_PATTERN)


def detect_lang(query: str) -> str:
    """Python mirror of functions.textstats.lang_id: distinct-stopword vote
    over the ASCII+Cyrillic alphabet (unique max wins); inconclusive votes
    fall to the charset prior, so a stopword-free Cyrillic query — the most
    common real query shape, 2-3 content words — still routes to uk/ru
    exactly like the reference's n-gram langdetect branch (web/app.py:33).
    Covers en/de/fr/es/ru/uk."""
    toks = set(_TOKEN_RE.findall(query.lower()))
    hits = {lang: len(toks & set(sw)) for lang, sw in STOPWORDS.items()}
    best = max(hits.values())
    at_max = sorted(lang for lang, h in hits.items() if h == best)
    if best > 0 and len(at_max) == 1:
        return at_max[0]
    return charset_prior_py(query)


class LangRoutedIndex:
    """Per-language index family + query router.

    documents: (doc_id, text, ...) table. Docs are assigned to languages by
    lang_id(text); each language's subset is indexed with its Analyzer
    (ANALYZERS[lang] if defined, identity otherwise). Queries route by
    detect_lang; 'und' falls back to an identity-analyzed index over ALL docs
    (the reference's default index)."""

    def __init__(self, documents: DataFrame,
                 langs: tuple[str, ...] = ("en", "de", "fr", "es", "ru", "uk"),
                 analyzers: dict[str, Analyzer] | None = None, text_col: str = "text"):
        from pyspark.sql import functions as F

        from ..functions.textstats import lang_id
        from .bm25 import InvertedIndex

        self.langs = tuple(langs)
        self._analyzers = {**{lang: ANALYZERS.get(lang, IDENTITY_ANALYZER) for lang in langs},
                           **(analyzers or {})}
        self.indexes: dict[str, InvertedIndex] = {}
        for lang in self.langs:
            subset = documents.filter(lang_id(F.col(text_col)) == lang)
            self.indexes[lang] = InvertedIndex.from_documents_table(
                subset, analyzer=self._analyzers[lang]
            )
        self.fallback = InvertedIndex.from_documents_table(documents)

    def analyzer_for(self, lang: str) -> Analyzer:
        return self._analyzers.get(lang, IDENTITY_ANALYZER)

    def route(self, query: str) -> tuple[str, InvertedIndex]:
        lang = detect_lang(query)
        return lang, self.indexes.get(lang, self.fallback)

    def search(self, query: str, k: int = 20, mode: str = "or", round_dp: int | None = None) -> DataFrame:
        """Detect → analyze with the routed language's chain → per-lang BM25."""
        lang, idx = self.route(query)
        terms = self.analyzer_for(lang).analyze_py(query) if lang in self.indexes \
            else IDENTITY_ANALYZER.analyze_py(query)
        spark = idx.docs.sparkSession
        if len(query.strip()) < 3 or not terms:  # length guard (web/app.py:30-31)
            return spark.createDataFrame([], "doc_id long, score double")
        return idx.search_terms(terms, k=k, mode=mode, round_dp=round_dp)
