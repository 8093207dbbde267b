"""Snippet generation + display post-processing for search results.

The reference gets highlights from ES (sentinel pre/post tags configured at
web/elastic_interaction.py:37-47) and post-processes each hit: strip HTML,
replace the sentinels with <b>/</b> (web/elastic_interaction.py:87-96), and
capitalize the title's first letter (:84). Because our postings retain token
positions (schema.POSTINGS_SCHEMA — the reason ES keeps them for `text`
fields), snippets are computed natively: pick the densest window of query-term
hits and bold the matched tokens.

Plan shape: the per-hit work is k rows (k ≤ 20) — positions come from a
broadcast semi-filtered postings scan, the text from a broadcast join with the
docs table, and the window/bold assembly is one Arrow batch through a pandas
UDF. Nothing here scales with corpus size at query time. The serving tier
calls _snippet directly, so pyspark and pandas are imported only by the Spark
forms.
"""

from __future__ import annotations

import functools
import itertools

from ..functions.analyze import _PY_TOKEN_RE

PRE, POST = "<b>", "</b>"
SNIPPET_TOKENS = 24


def capitalize_title(col: Column | str) -> Column:
    """C6: upper-case the first letter only (web/elastic_interaction.py:84)."""
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    return F.concat(F.upper(F.substring(c, 1, 1)), c.substr(F.lit(2), F.length(c)))


def _densest(ordered: list[int], window: int) -> int:
    """Start of the first window of `window` tokens holding the most of the
    sorted positions `ordered`. Two pointers: the window's end index j only
    moves forward, so the scan is linear in the matches."""
    best_start, best_hits, j = ordered[0], 1, 0
    for i, p in enumerate(ordered):
        while j < len(ordered) and ordered[j] < p + window:
            j += 1
        if j - i > best_hits:
            best_start, best_hits = p, j - i
    return best_start


def _snippet(text: str, match_pos: list[int], window: int = SNIPPET_TOKENS) -> str:
    """Densest-window snippet with matched tokens bolded.

    match_pos are token positions from the postings (same tokenizer). Token
    boundaries are re-derived with the shared regex on the ORIGINAL text so
    the snippet preserves original casing/punctuation between tokens.
    Positions past the text's last token are ignored. The token scan stops
    once it has the tokens through the densest window's end and one token
    past the rendered window (which decides the trailing " …"): when the
    text holds that many, every position the render reads is a real token,
    so the rest of the text cannot change the snippet.
    """
    if not match_pos:
        return ""
    ordered = sorted(set(match_pos))
    best_start = _densest(ordered, window)
    w0 = max(0, best_start - 3)
    need = max(best_start + window, w0 + window + 1)
    spans = [m.span() for m in itertools.islice(_PY_TOKEN_RE.finditer(text.lower()), need)]
    if len(spans) < need:  # the whole text: drop positions past its end
        ordered = [p for p in ordered if p < len(spans)]
        if not ordered:
            return ""
        best_start = _densest(ordered, window)
        w0 = max(0, best_start - 3)
    match_set = set(ordered)
    w1 = min(len(spans), w0 + window)
    out = []
    if w0 > 0:
        out.append("… ")
    cursor = spans[w0][0]
    for tpos in range(w0, w1):
        s, e = spans[tpos]
        out.append(text[cursor:s])
        tok = text[s:e]
        out.append(f"{PRE}{tok}{POST}" if tpos in match_set else tok)
        cursor = e
    if w1 < len(spans):
        out.append(" …")
    return "".join(out)


@functools.cache
def _snippet_udf():
    import pandas as pd
    from pyspark.sql import functions as F

    def snippets(text, positions):
        return pd.Series(
            [_snippet(t, list(p) if p is not None else []) for t, p in zip(text, positions)],
            index=text.index,
        )

    # hints as objects: pandas_udf resolves string hints against this
    # module's globals, which hold no pandas
    snippets.__annotations__ = {"text": pd.Series, "positions": pd.Series, "return": pd.Series}
    return F.pandas_udf(snippets, "string")


def snippet_udf(text: Column, positions: Column) -> Column:
    """(content, match positions) -> bolded snippet, a scalar pandas UDF
    over _snippet (built on first use)."""
    return _snippet_udf()(text, positions)


def highlight_hits(topk: DataFrame, docs: DataFrame, postings: DataFrame, terms: list[str],
                   keep_positions: bool = False) -> DataFrame:
    """topk (doc_id, score) → (doc_id, score[, match_positions], snippet).

    Match positions come from the already-built postings (no re-scoring, no
    re-tokenize of the corpus): filter to the query terms, semi-join to the k
    hit ids (broadcast), merge the per-term position arrays per doc.
    keep_positions exposes the merged position array — positions are derived
    from the SHARED tokenizer, so they are SQL-oracle-checkable even though
    the rendered snippet text is engine-defined.
    """
    from pyspark.sql import functions as F

    terms = sorted(set(terms))
    hit_ids = F.broadcast(topk.select("doc_id"))
    pos = (
        postings.filter(F.col("term").isin(terms) & (F.col("field") == 0))
        .join(hit_ids, "doc_id")
        .groupBy("doc_id")
        .agg(F.array_sort(F.flatten(F.collect_list("positions"))).alias("match_positions"))
    )
    content = docs.select("doc_id", "content").join(hit_ids, "doc_id")
    cols = ["doc_id", "score"] + (["match_positions"] if keep_positions else [])
    return (
        F.broadcast(topk)
        .join(pos, "doc_id", "left")
        .join(content, "doc_id")
        .select(
            *cols,
            snippet_udf(F.col("content"), F.col("match_positions")).alias("snippet"),
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
    )
