"""Text analysis for training-data pipelines: language-ID, quality scoring,
token counting, document fingerprinting.

Reference analogues: content language detection (crawler/helper_funcs.go:112-142
chunks text and votes with whatlanggo) and min-length gates (crawler/main.go:107,
web/app.py:30). All of these are pure Column expressions (whole-stage codegen,
SQL-oracle-replayable); no Python in the hot path. The plain-Python mirrors
(charset_prior_py, the STOPWORDS vote lists) route queries in the Spark-free
serving tier, so pyspark is imported only inside the Column forms.
"""

from __future__ import annotations

import re

from .analyze import ANALYZERS, TOKEN_PATTERN_CYRILLIC

TOKEN_PATTERN = "[a-z0-9]+"
# The language VOTE tokenizes over ASCII + Cyrillic so uk/ru queries/docs
# (the reference's primary languages, web/app.py:33 langdetect) can win the
# vote; the ASCII TOKEN_PATTERN stays the alphabet for counting/fingerprints
# (changing it would change every downstream stat).
VOTE_TOKEN_PATTERN = TOKEN_PATTERN_CYRILLIC

# tiny deterministic stopword lists for the n-gram/stopword-vote heuristic —
# the vote mechanics mirror the reference's chunked whatlanggo voting; ru/uk
# reuse the Analyzer stop lists so detection and analysis agree on vocabulary
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "for", "on"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "pour", "dans", "que"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "para", "en", "que"],
    "ru": list(ANALYZERS["ru"].stopwords),
    "uk": list(ANALYZERS["uk"].stopwords),
}


def tokens_col(text: Column | str) -> Column:
    from pyspark.sql import functions as F

    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(F.lower(c), F.lit(TOKEN_PATTERN), 0)


def vote_tokens_col(text: Column | str) -> Column:
    from pyspark.sql import functions as F

    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(F.lower(c), F.lit(VOTE_TOKEN_PATTERN), 0)


def token_count(text: Column | str) -> Column:
    from pyspark.sql import functions as F

    return F.size(tokens_col(text)).cast("long")


# GPT-2-style pre-tokenizer, ASCII form: contractions, space-prefixed letter /
# digit / punctuation runs, residual spaces. Same pattern string runs in Java
# regex (Spark), Python re, and RE2 (DuckDB) — no \p classes, no lookahead.
BPE_PATTERN = "'(?:[sdmt]|ll|ve|re)| ?[a-zA-Z]+| ?[0-9]+| ?[^ a-zA-Z0-9]+| +"


def bpe_token_count(text: Column | str) -> Column:
    """Pre-tokenizer piece count — the standard proxy for LLM token budgeting
    at corpus scale (exact BPE merges need the vocab; the piece count bounds
    it and is pure-regex, whole-stage codegen)."""
    from pyspark.sql import functions as F

    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(BPE_PATTERN), 0)).cast("long")


def ws_token_count(text: Column | str) -> Column:
    """Whitespace-split token count (the classic wc -w)."""
    from pyspark.sql import functions as F

    c = F.col(text) if isinstance(text, str) else text
    t = F.trim(c)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, "\\s+"))).cast("long")


def stopword_hits(text: Column | str, lang: str) -> Column:
    from pyspark.sql import functions as F

    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.array_intersect(vote_tokens_col(text), sw))


# --- script/charset prior (applies UNDER the stopword vote) ----------------
# The reference's langdetect (web/app.py:33) is an n-gram classifier: it
# routes a stopword-free Cyrillic query ("погода львів") to uk/ru, which a
# pure stopword vote cannot. When the vote is inconclusive, a charset prior
# decides: Cyrillic-dominant text picks the Cyrillic family, and the
# discriminating characters pick the member — і/ї/є/ґ exist only in
# Ukrainian, ы/э/ъ/ё only in Russian. A Cyrillic text with neither set (the
# shared-alphabet case) falls to 'ru', mirroring the reference's default
# store (web/elastic_interaction.py:53-57 routes non-uk to rus-news-sites).
# Latin-script text stays 'und' (en/de/fr/es are not separable without
# stopwords). Same character classes in Java regex (Spark), Python re, and
# RE2 (DuckDB): literal chars + one BMP range, no \p escapes.
CYR_CHARS = "а-яёіїєґ"
LAT_CHARS = "a-z"
UK_MARK_CHARS = "іїєґ"
RU_MARK_CHARS = "ыэъё"

_CYR_RE = re.compile(f"[{CYR_CHARS}]")
_LAT_RE = re.compile(f"[{LAT_CHARS}]")
_UK_RE = re.compile(f"[{UK_MARK_CHARS}]")
_RU_RE = re.compile(f"[{RU_MARK_CHARS}]")


def _class_count(text: Column, chars: str) -> Column:
    from pyspark.sql import functions as F

    return F.length(F.regexp_replace(text, f"[^{chars}]", ""))


def charset_prior(text: Column | str) -> Column:
    """Column form of the script prior: 'uk' / 'ru' / 'und'."""
    from pyspark.sql import functions as F

    c = F.lower(F.col(text) if isinstance(text, str) else text)
    cyr = _class_count(c, CYR_CHARS)
    lat = _class_count(c, LAT_CHARS)
    uk = _class_count(c, UK_MARK_CHARS)
    ru = _class_count(c, RU_MARK_CHARS)
    return F.when(cyr > lat, F.when(uk > ru, F.lit("uk")).otherwise(F.lit("ru"))) \
        .otherwise(F.lit("und"))


def charset_prior_py(text: str) -> str:
    """Plain-Python mirror (query side: routing.detect_lang, serve.py)."""
    t = text.lower()
    if len(_CYR_RE.findall(t)) > len(_LAT_RE.findall(t)):
        return "uk" if len(_UK_RE.findall(t)) > len(_RU_RE.findall(t)) else "ru"
    return "und"


def charset_prior_sql(text_expr: str) -> str:
    """DuckDB-SQL rendering — the single source the oracle builders splice,
    so the three forms cannot drift."""
    def cnt(chars: str) -> str:
        return f"length(regexp_replace(lower({text_expr}), '[^{chars}]', '', 'g'))"

    return (f"CASE WHEN {cnt(CYR_CHARS)} > {cnt(LAT_CHARS)} THEN "
            f"CASE WHEN {cnt(UK_MARK_CHARS)} > {cnt(RU_MARK_CHARS)} "
            f"THEN 'uk' ELSE 'ru' END ELSE 'und' END")


def lang_id(text: Column | str) -> Column:
    """argmax over per-language stopword hits; ties and zero-hit docs fall
    to the charset prior (Cyrillic script → uk/ru; otherwise 'und') —
    deterministic, SQL-replayable."""
    from pyspark.sql import functions as F

    scores = [(lang, stopword_hits(text, lang)) for lang in sorted(STOPWORDS)]
    best = F.greatest(*[s for _, s in scores])
    # first lang (alphabetical) holding the unique max wins; ties → prior
    n_at_max = sum([F.when(s == best, 1).otherwise(0) for _, s in scores], F.lit(0))
    pick = F.lit(None).cast("string")
    for lang, s in reversed(scores):
        pick = F.when(s == best, F.lit(lang)).otherwise(pick)
    return F.when((best > 0) & (n_at_max == 1), pick).otherwise(charset_prior(text))


def quality_score(text: Column | str) -> Column:
    """Deterministic quality heuristic in [0,1]: length band + alpha ratio +
    mean token length band (boilerplate/garbage detector)."""
    from pyspark.sql import functions as F

    c = F.col(text) if isinstance(text, str) else text
    n_tok = token_count(c).cast("double")
    n_chars = F.length(c).cast("double")
    alpha_chars = F.length(F.regexp_replace(F.lower(c), "[^a-z0-9]", "")).cast("double")
    alpha_ratio = F.when(n_chars > 0, alpha_chars / n_chars).otherwise(F.lit(0.0))
    mean_tok_len = F.when(n_tok > 0, alpha_chars / n_tok).otherwise(F.lit(0.0))
    len_band = F.when((n_tok >= 20) & (n_tok <= 10000), F.lit(1.0)).otherwise(
        F.when(n_tok > 0, F.lit(0.5)).otherwise(F.lit(0.0))
    )
    tok_band = F.when((mean_tok_len >= 2.0) & (mean_tok_len <= 12.0), F.lit(1.0)).otherwise(F.lit(0.5))
    return F.round((len_band + tok_band + alpha_ratio) / F.lit(3.0), 6)


def fingerprint(text: Column | str) -> Column:
    """Canonical content fingerprint: md5 over the sorted distinct token set —
    whitespace/punctuation/ordering-invariant (catches shuffled boilerplate
    that exact md5 misses)."""
    from pyspark.sql import functions as F

    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens_col(text)))))


def text_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    from pyspark.sql import functions as F

    return df.select(
        F.col(id_col).alias("doc_id"),
        token_count(text_col).alias("n_tokens"),
        lang_id(text_col).alias("lang_pred"),
        quality_score(text_col).alias("quality"),
        fingerprint(text_col).alias("fingerprint"),
    )
