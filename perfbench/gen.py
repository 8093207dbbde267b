"""Seeded benchmark inputs: corpus, delta corpus, deletes, query streams and
arrival schedules. Everything is a pure function of the seed and the sizes,
drawn with numpy and written before any timing starts.

Corpus shape (a code corpus, like the engine's own fixtures):
- a pronounceable vocabulary drawn with Zipf(s=1.1) term frequencies (an
  exponent near the ~1 of Zipf's law for word frequencies in text, chosen,
  not fitted to a corpus);
- a title line of three terms, then the body;
- `ref://repo/path-stem` link tokens with preferential attachment to low
  doc indices (the PageRank graph);
- planted near-duplicate clusters: copies of a base doc with one body token
  replaced (the pairs dedup must recall).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ZIPF_S = 1.1
_CONS = np.array(list("bcdfghjklmnprstvz"))
_VOWS = np.array(list("aeiou"))

# rank bands of the Zipf vocabulary used by the query classes
HEAD = (0, 40)
MID = (200, 3000)
TAIL_MIN = 3000
# first letters of the fuzzy class's words: with prefix=1 each first letter
# is a vocabulary bucket the server builds once, so a run warms these few
FUZZY_FIRST = "bdms"


def vocabulary(rng: np.random.Generator, n: int) -> np.ndarray:
    """n distinct lowercase words of 2-4 consonant-vowel syllables (4-8
    letters: every word gets a fuzzy edit distance of 1 or 2)."""
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n:
        m = 2 * (n - len(words))
        nsyl = rng.integers(2, 5, m)
        cons = _CONS[rng.integers(0, len(_CONS), (m, 4))]
        vows = _VOWS[rng.integers(0, len(_VOWS), (m, 4))]
        for j in range(m):
            w = "".join(c + v for c, v in zip(cons[j, :nsyl[j]], vows[j, :nsyl[j]]))
            if w not in seen:
                seen.add(w)
                words.append(w)
                if len(words) == n:
                    break
    return np.array(words)


def _zipf_cdf(n: int) -> np.ndarray:
    w = 1.0 / np.power(np.arange(1, n + 1, dtype=np.float64), ZIPF_S)
    return np.cumsum(w / w.sum())


def doc_key(i: int) -> tuple[str, str]:
    """Unique (repo, path) of doc index i."""
    return f"org{i % 23}/repo{i % 211}", f"src/pkg{i % 13}/mod{i}.py"


def ref_token(i: int) -> str:
    repo, path = doc_key(i)
    return f"ref://{repo}/{path[:-3]}"


class Corpus:
    """Docs as token-rank arrays plus their link targets; `table()` renders
    the (repo, path, commit, lang, content) table the engine ingests."""

    def __init__(self, vocab: np.ndarray):
        self.vocab = vocab
        self.idx: list[int] = []          # doc index (key) per row
        self.title: list[np.ndarray] = []
        self.body: list[np.ndarray] = []  # vocabulary ranks
        self.refs: list[list[int]] = []   # target doc indices

    def add(self, i: int, title, body, refs) -> None:
        self.idx.append(i)
        self.title.append(title)
        self.body.append(body)
        self.refs.append(refs)

    def content(self, r: int) -> str:
        v = self.vocab
        return (" ".join(v[self.title[r]]) + "\n" + " ".join(v[self.body[r]])
                + "".join(" " + ref_token(t) for t in self.refs[r]))

    def table(self, seed: int) -> pa.Table:
        keys = [doc_key(i) for i in self.idx]
        return pa.table({
            "repo": [k[0] for k in keys],
            "path": [k[1] for k in keys],
            "commit": [f"{seed & 0xffffffff:08x}{i:032x}" for i in self.idx],
            "lang": ["python"] * len(keys),
            "content": [self.content(r) for r in range(len(self.idx))],
        })


def _draw_docs(rng, cdf, n: int, mean_len: int):
    lens = np.maximum(8, rng.poisson(mean_len, n))
    flat = np.searchsorted(cdf, rng.random(int(lens.sum()) + 3 * n))
    cut = np.concatenate([[0], np.cumsum(lens + 3)])
    return [(flat[cut[j]:cut[j] + 3], flat[cut[j] + 3:cut[j + 1]]) for j in range(n)]


def make_inputs(seed: int, n_docs: int, vocab_size: int, mean_len: int,
                dup_clusters: int, n_new: int, n_upd: int, n_del: int) -> dict:
    """The base corpus (n_docs docs, the last 2·dup_clusters of them planted
    copies), the delta (n_new new docs + n_upd rewritten existing keys) and
    n_del keys to tombstone afterwards."""
    rng = np.random.default_rng(seed)
    vocab = vocabulary(rng, vocab_size)
    cdf = _zipf_cdf(vocab_size)
    n_orig = n_docs - 2 * dup_clusters
    base = Corpus(vocab)
    for i, (title, body) in enumerate(_draw_docs(rng, cdf, n_orig, mean_len)):
        n_refs = int(rng.integers(0, 6)) if i else 0
        tg = {int(i * u) for u in rng.random(n_refs) ** 2.5} - {i}
        base.add(i, title, body, sorted(tg))
    # near-duplicate clusters: base doc + two copies, one body token each
    srcs = rng.choice(n_orig, dup_clusters, replace=False)
    clusters = []
    nxt = n_orig
    for s in srcs:
        members = [int(s)]
        for _ in range(2):
            body = base.body[s].copy()
            body[rng.integers(0, len(body))] = rng.integers(MID[0], MID[1])
            base.add(nxt, base.title[s], body, base.refs[s])
            members.append(nxt)
            nxt += 1
        clusters.append(members)
    dup_members = {m for c in clusters for m in c}
    plain = np.array([i for i in range(n_orig) if i not in dup_members])
    touched = rng.choice(plain, n_upd + n_del, replace=False)
    upd_keys, del_keys = touched[:n_upd], touched[n_upd:]
    delta = Corpus(vocab)
    fresh = _draw_docs(rng, cdf, n_new + n_upd, mean_len)
    for j, i in enumerate(list(range(nxt, nxt + n_new)) + [int(x) for x in upd_keys]):
        title, body = fresh[j]
        delta.add(i, title, body, [])
    return {
        "vocab": vocab, "base": base, "delta": delta, "clusters": clusters,
        "updated": [doc_key(int(i)) for i in upd_keys],
        "deleted": [doc_key(int(i)) for i in del_keys],
    }


def write_corpus(corpus: Corpus, seed: int, path: str) -> int:
    """Write the corpus parquet; returns its size in bytes."""
    pq.write_table(corpus.table(seed), path)
    return os.path.getsize(path)


# -- query streams -----------------------------------------------------------

def _terms_in(rng, corpus: Corpus, lo: int, hi: int, n: int) -> list[str]:
    """n distinct body terms of one random doc whose Zipf rank is in [lo, hi)."""
    while True:
        body = corpus.body[int(rng.integers(0, len(corpus.body)))]
        band = np.unique(body[(body >= lo) & (body < hi)])
        if len(band) >= n:
            return list(corpus.vocab[rng.choice(band, n, replace=False)])


def _band(rng, vocab, lo: int, hi: int, n: int) -> list[str]:
    return list(vocab[rng.choice(np.arange(lo, hi), n, replace=False)])


def one_edit(rng, w: str) -> str:
    """Substitute one letter after the first (prefix=1 keeps the bucket) by
    another of its kind, consonant for consonant, vowel for vowel: the typo
    still reads like a vocabulary word."""
    p = int(rng.integers(1, len(w)))
    pool = [c for c in (_VOWS if w[p] in _VOWS else _CONS) if c != w[p]]
    return w[:p] + str(pool[int(rng.integers(0, len(pool)))]) + w[p + 1:]


# Query classes exist for layer coverage: the term classes rank through
# operators.wand only; the rich ones add phrase, fuzzy expansion, snippets
# and exact repeats (the result cache). No query log of this engine exists,
# so the shares are not taken from traffic: every class of a stream gets an
# equal share. Term counts of 1-4 per query bracket the ~2.35-term mean of a
# published web query log (Silverstein et al., SIGIR Forum 33(1), 1999).
TERM_CLASSES = ["or_head", "or_mid", "and", "paged", "tail1"]
ALL_CLASSES = [*TERM_CLASSES, "phrase", "fuzzy", "highlight", "repeat"]
# classes whose ranking runs through SegmentSearcher.search_local
WAND_CLASSES = [*TERM_CLASSES, "fuzzy", "highlight"]


def term_query(rng, corpus: Corpus, cls: str) -> dict:
    v = corpus.vocab
    if cls == "or_head":
        return {"q": " ".join(_band(rng, v, *HEAD, int(rng.integers(2, 5))))}
    if cls == "or_mid":
        return {"q": " ".join(_band(rng, v, *MID, int(rng.integers(2, 4))))}
    if cls == "and":
        return {"q": " ".join(_terms_in(rng, corpus, 0, len(v), int(rng.integers(2, 4)))),
                "mode": "and"}
    if cls == "paged":
        return {"q": " ".join(_band(rng, v, 20, 2000, int(rng.integers(2, 4)))), "from": "40"}
    if cls == "tail1":
        return {"q": _terms_in(rng, corpus, TAIL_MIN, len(v), 1)[0]}
    raise ValueError(cls)


def phrase_pair(rng, corpus: Corpus, rows=None) -> tuple[str, str]:
    """Two adjacent body terms of a random doc (of `rows`, default all)."""
    r = int(rng.choice(rows)) if rows is not None else int(rng.integers(0, len(corpus.body)))
    body = corpus.body[r]
    p = int(rng.integers(0, len(body) - 1))
    return corpus.vocab[body[p]], corpus.vocab[body[p + 1]]


def rich_query(rng, corpus: Corpus, cls: str) -> dict:
    if cls == "phrase":
        a, b = phrase_pair(rng, corpus)
        return {"q": f'"{a} {b}"'}
    if cls == "fuzzy":
        # a 4-letter word: AUTO distance 1 over its dense neighbourhood, a
        # wide OR of expansions; longer words split into a much cheaper and
        # a much dearer mode, which would make the class bimodal
        w = ""
        while len(w) != 4 or w[0] not in FUZZY_FIRST:
            w = _terms_in(rng, corpus, 50, len(corpus.vocab), 1)[0]
        return {"q": one_edit(rng, w), "fuzzy": "1", "prefix": "1"}
    if cls == "highlight":
        return {"q": " ".join(_terms_in(rng, corpus, 10, len(corpus.vocab),
                                        int(rng.integers(1, 4)))), "highlight": "1"}
    raise ValueError(cls)


def query_stream(rng, corpus: Corpus, classes: list[str], n: int) -> list[tuple[str, dict]]:
    """n (class, params) pairs in a seeded order, each of `classes` an equal
    share (counts differ by at most one), so a seed changes the queries but
    not the class counts. Only the `repeat` class repeats an earlier query;
    every other query is distinct."""
    out: list[tuple[str, dict]] = []
    seen: set[tuple] = set()
    for d in rng.permutation(np.arange(n) % len(classes)):
        cls = classes[d]
        if cls == "repeat":
            if out:
                out.append(("repeat", out[int(rng.integers(0, len(out)))][1]))
                continue
            cls = "highlight"
        make = term_query if cls in TERM_CLASSES else rich_query
        while True:
            params = make(rng, corpus, cls)
            key = tuple(sorted(params.items()))
            if key not in seen:
                seen.add(key)
                break
        out.append((cls, params))
    return out


def arrivals(rng, rate: float, seconds: float) -> np.ndarray:
    """Poisson arrival offsets (s) at `rate` per second over `seconds`."""
    gaps = rng.exponential(1.0 / rate, int(rate * seconds * 1.5) + 16)
    t = np.cumsum(gaps)
    return t[t < seconds]
