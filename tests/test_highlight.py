"""Snippet/highlight (C7) + title capitalization (C6) — the reference's
post-processing of hits (web/elastic_interaction.py:80-99) computed natively
from stored postings positions."""

from __future__ import annotations

import random
import re
import time

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ucuddle_search_engine_spark.operators.bm25 import InvertedIndex
from ucuddle_search_engine_spark.functions.analyze import _PY_TOKEN_RE
from ucuddle_search_engine_spark.operators.highlight import (
    POST,
    PRE,
    SNIPPET_TOKENS,
    _snippet,
    capitalize_title,
    highlight_hits,
)


def test_snippet_unit():
    text = "Alpha beta gamma delta epsilon zeta eta theta"
    s = _snippet(text, [2, 4])
    assert "<b>gamma</b>" in s and "<b>epsilon</b>" in s
    assert "Alpha" in s  # original casing preserved
    assert _snippet(text, []) == ""
    assert _snippet("", []) == ""
    # positions beyond token count are ignored
    assert _snippet("one two", [99]) == ""


def test_snippet_window_ellipsis():
    toks = [f"w{i}" for i in range(100)]
    text = " ".join(toks)
    s = _snippet(text, [50])
    assert "<b>w50</b>" in s
    assert s.startswith("… ") and s.endswith(" …")
    assert "w0 " not in s


def _snippet_quadratic(text, match_pos, window=SNIPPET_TOKENS):
    """The O(m²) densest-window scan _snippet used before its linear
    rewrite, kept verbatim as the output oracle."""
    if not match_pos:
        return ""
    spans = [m.span() for m in _PY_TOKEN_RE.finditer(text.lower())]
    match_set = {p for p in match_pos if p < len(spans)}
    if not match_set:
        return ""
    ordered = sorted(match_set)
    best_start, best_hits = ordered[0], 1
    for i, p in enumerate(ordered):
        hits = sum(1 for q in ordered[i:] if q < p + window)
        if hits > best_hits:
            best_start, best_hits = p, hits
    w0 = max(0, best_start - 3)
    w1 = min(len(spans), w0 + window)
    out = ["… "] if w0 > 0 else []
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


def test_snippet_linear_scan_matches_quadratic():
    """The linear densest-window scan renders byte-identical snippets to the
    quadratic one: random position sets (duplicates, out-of-range positions,
    ties between equally dense windows, several window widths), and a long
    doc with ~6,000 matches, where it must also be far faster."""
    rng = random.Random(7)
    for _ in range(400):
        n = rng.randint(1, 300)
        text = " ".join(rng.choice(["Alpha", "beta,", "GAMMA", "d-e", "ψ"])
                        for _ in range(n))
        pos = [rng.randrange(n + 20) for _ in range(rng.randint(0, 60))]
        window = rng.choice([1, 2, 5, SNIPPET_TOKENS, 50])
        assert _snippet(text, pos, window) == _snippet_quadratic(text, pos, window)
    text = " ".join(f"tok{i % 97}" for i in range(8000))
    pos = sorted(rng.sample(range(8000), 6000))
    t0 = time.perf_counter()
    want = _snippet_quadratic(text, pos)
    t_quadratic = time.perf_counter() - t0
    t0 = time.perf_counter()
    got = _snippet(text, pos)
    t_linear = time.perf_counter() - t0
    assert got == want and "<b>" in got
    assert t_linear < t_quadratic / 5, (t_linear, t_quadratic)


def _snippet_full_scan(text, match_pos, window=SNIPPET_TOKENS):
    """_snippet as it was before its token scan stopped early: it
    tokenizes the whole text. Kept verbatim as the output oracle."""
    if not match_pos:
        return ""
    spans = [m.span() for m in _PY_TOKEN_RE.finditer(text.lower())]
    match_set = {p for p in match_pos if p < len(spans)}
    if not match_set:
        return ""
    ordered = sorted(match_set)
    best_start, best_hits, j = ordered[0], 1, 0
    for i, p in enumerate(ordered):
        while j < len(ordered) and ordered[j] < p + window:
            j += 1
        if j - i > best_hits:
            best_start, best_hits = p, j - i
    w0 = max(0, best_start - 3)
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


# words and separators whose lower-casing changes length or maps outside
# ASCII ('İ' lowers to two code points, the Kelvin sign to 'k')
_PIECES = ["alpha", "Beta", "GAMMA", "d9", "x", "İstanbul", "\u212aelvin", "ΣΑΣ", "ψ",
           "naïve", "42"]
_SEPS = [" ", ", ", "-", "\n", " … ", "::", ""]


@settings(max_examples=400, deadline=None)
@given(st.lists(st.tuples(st.sampled_from(_PIECES), st.sampled_from(_SEPS)), max_size=120),
       st.lists(st.integers(min_value=0, max_value=160), max_size=40),
       st.sampled_from([1, 2, 5, SNIPPET_TOKENS, 50]))
def test_snippet_early_stop_matches_full_scan(parts, pos, window):
    """Stopping the token scan after the window renders byte-identical
    snippets to tokenizing the whole text: random texts, position sets with
    duplicates and positions past the last token, several window widths."""
    text = "".join(w + sep for w, sep in parts)
    assert _snippet(text, pos, window) == _snippet_full_scan(text, pos, window)


def test_capitalize_title(spark):
    df = spark.createDataFrame([("hello world",), ("x",), ("",)], "t string")
    vals = [r[0] for r in df.select(capitalize_title("t")).collect()]
    assert vals == ["Hello world", "X", ""]


@pytest.fixture(scope="module")
def idx(documents):
    return InvertedIndex.from_documents_table(documents).persist()


def test_highlight_hits_end_to_end(idx):
    terms = ["spark", "window"]
    topk = idx.search_terms(terms, k=5, mode="and")
    out = highlight_hits(topk, idx.docs, idx.postings, terms).collect()
    assert len(out) == topk.count()
    for r in out:
        bolded = set(re.findall(r"<b>(\w+)</b>", r["snippet"]))
        assert bolded <= set(terms)
        assert len(bolded) >= 1
    scores = [r["score"] for r in out]
    assert scores == sorted(scores, reverse=True)
