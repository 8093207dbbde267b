"""Snowball stemming (russian; ukrainian adaptation) in three strictly
parallel execution forms — plain Python (query side / Arrow UDF body), Spark
Column expression (index/oracle hot path), and DuckDB SQL text (the
machine-checkable oracle rendering).

The reference's Elasticsearch indexes stem with the Snowball
`russian_stemmer` and the packaged `ukrainian` analyzer
(crawler/functs_with_elastic.go:142-145, 71-76). The Russian tables below ARE
the published Snowball russian algorithm (snowballstem.org): RV/R2 regions,
perfective-gerund / reflexive / adjectival / verb / noun step 1, the и
removal, R2 derivational ость/ост, and the нн-undouble / superlative / soft-
sign tidy-up. Ukrainian has no official Snowball definition and ES's packaged
analyzer is dictionary-based (morfologik) — the `uk` tables here are the
standard rule-based approximation: the same 4-step skeleton over Ukrainian
vowels and ending inventories. Both are applied identically on the index and
query sides (K5), so self-consistency — the property recall depends on — is
structural.

Encoding notes shared by all three forms:

- An ending class is a tuple of (suffix, strip) pairs, ordered longest-suffix
  first = Snowball's longest-of among. `strip < len(suffix)` encodes the
  "preceded by а/я" groups: the precede-char is part of the matched suffix
  (so it must lie in RV, exactly like Snowball's backward test under
  `setlimit tomark pV`) but survives the strip.
- Region checks compare the suffix's 1-based start position (len(w) − len(s)
  + 1) against the region start computed ONCE on the normalized word —
  stripping only ever shortens the end, so positions stay valid (Snowball
  marks behave the same way).
- The Column form would explode exponentially if each step inlined the
  previous step's expression (Catalyst performs no CSE inside lambda
  bodies), so every intermediate word is let-bound through
  `element_at(transform(array(e), w -> …), 1)` — a lambda VARIABLE is
  materialized once. The SQL form mirrors the same binding with
  `list_transform([e], w -> …)[1]`, keeping the rendered text linear in the
  rule count too.
"""

from __future__ import annotations

from dataclasses import dataclass


def _bylen(*pairs: tuple[str, int]) -> tuple[tuple[str, int], ...]:
    """Longest-suffix-first, stable within a length (suffixes are distinct, so
    at most one same-length entry can match any word)."""
    return tuple(sorted(pairs, key=lambda p: -len(p[0])))


@dataclass(frozen=True)
class _Cfg:
    vowels: str
    norm: tuple[tuple[str, str], ...]  # pre-step char folds (ё → е)
    pg: tuple  # perfective gerund
    reflexive: tuple
    adjective: tuple
    participle: tuple  # tried only after an adjective ending matched
    verb: tuple
    noun: tuple
    superlative: tuple
    derivational: tuple  # region R2 (everything else: RV)
    i_ending: str  # step-2 single-char removal in RV
    undouble: str  # step-4 doubled consonants, one per char (нн → н; uk also тт → т)
    soft: str  # step-4 trailing soft sign
    # full-surface-form → stem overrides, checked FIRST on the raw token.
    # Snowball's own `exceptions` mechanism (english.sbl uses it for
    # skies/dying/...): suffix rules cannot express dictionary-level
    # alternations — uk к→ц dative (перевірці) and the -ати noun-plural vs
    # infinitive ambiguity (результати) — without breaking other words
    # (ці→кі would corrupt every ц-stem noun, dropping verb ати would split
    # читати). Kept tiny and identical across all three execution forms.
    exceptions: tuple[tuple[str, str], ...] = ()


RU = _Cfg(
    vowels="аеиоуыэюя",
    norm=(("ё", "е"),),
    pg=_bylen(
        ("авшись", 5), ("явшись", 5), ("ившись", 6), ("ывшись", 6),
        ("авши", 3), ("явши", 3), ("ивши", 4), ("ывши", 4),
        ("ав", 1), ("яв", 1), ("ив", 2), ("ыв", 2),
    ),
    reflexive=_bylen(("ся", 2), ("сь", 2)),
    adjective=_bylen(
        ("ими", 3), ("ыми", 3), ("его", 3), ("ого", 3), ("ему", 3), ("ому", 3),
        ("ее", 2), ("ие", 2), ("ые", 2), ("ое", 2), ("ей", 2), ("ий", 2),
        ("ый", 2), ("ой", 2), ("ем", 2), ("им", 2), ("ым", 2), ("ом", 2),
        ("их", 2), ("ых", 2), ("ую", 2), ("юю", 2), ("ая", 2), ("яя", 2),
        ("ою", 2), ("ею", 2),
    ),
    participle=_bylen(
        ("аем", 2), ("яем", 2), ("анн", 2), ("янн", 2), ("авш", 2), ("явш", 2),
        ("ающ", 2), ("яющ", 2), ("ащ", 1), ("ящ", 1),
        ("ивш", 3), ("ывш", 3), ("ующ", 3),
    ),
    verb=_bylen(
        # group 1 — listed ending preceded by а/я (kept): ла на ете йте ли й
        # л ем н ло но ет ют ны ть ешь нно
        ("ала", 2), ("яла", 2), ("ана", 2), ("яна", 2), ("аете", 3), ("яете", 3),
        ("айте", 3), ("яйте", 3), ("али", 2), ("яли", 2), ("ай", 1), ("яй", 1),
        ("ал", 1), ("ял", 1), ("аем", 2), ("яем", 2), ("ан", 1), ("ян", 1),
        ("ало", 2), ("яло", 2), ("ано", 2), ("яно", 2), ("ает", 2), ("яет", 2),
        ("ают", 2), ("яют", 2), ("аны", 2), ("яны", 2), ("ать", 2), ("ять", 2),
        ("аешь", 3), ("яешь", 3), ("анно", 3), ("янно", 3),
        # group 2 — unconditional
        ("ила", 3), ("ыла", 3), ("ена", 3), ("ейте", 4), ("уйте", 4), ("ите", 3),
        ("или", 3), ("ыли", 3), ("ей", 2), ("уй", 2), ("ил", 2), ("ыл", 2),
        ("им", 2), ("ым", 2), ("ен", 2), ("ило", 3), ("ыло", 3), ("ено", 3),
        ("ят", 2), ("ует", 3), ("уют", 3), ("ит", 2), ("ыт", 2), ("ены", 3),
        ("ить", 3), ("ыть", 3), ("ишь", 3), ("ую", 2), ("ю", 1),
    ),
    noun=_bylen(
        ("иями", 4), ("ями", 3), ("ами", 3), ("ией", 3), ("иям", 3), ("ием", 3),
        ("иях", 3), ("ев", 2), ("ов", 2), ("ие", 2), ("ье", 2), ("еи", 2),
        ("ии", 2), ("ей", 2), ("ой", 2), ("ий", 2), ("ям", 2), ("ем", 2),
        ("ам", 2), ("ом", 2), ("ах", 2), ("ях", 2), ("ию", 2), ("ью", 2),
        ("ия", 2), ("ья", 2), ("а", 1), ("е", 1), ("и", 1), ("й", 1), ("о", 1),
        ("у", 1), ("ы", 1), ("ь", 1), ("ю", 1), ("я", 1),
    ),
    superlative=_bylen(("ейше", 4), ("ейш", 3)),
    derivational=_bylen(("ость", 4), ("ост", 3)),
    i_ending="и",
    undouble="н",
    soft="ь",
)

UK = _Cfg(
    vowels="аеиіоуєюяї",
    norm=(),
    pg=_bylen(
        ("івшись", 6), ("ївшись", 6), ("авшись", 5), ("явшись", 5),
        ("івши", 4), ("ївши", 4), ("авши", 3), ("явши", 3),
        ("учи", 3), ("ючи", 3), ("ачи", 3), ("ячи", 3),
    ),
    reflexive=_bylen(("ся", 2), ("сь", 2)),
    adjective=_bylen(
        ("ього", 4), ("ьому", 4), ("ими", 3), ("іми", 3), ("ого", 3),
        ("ому", 3), ("єму", 3), ("их", 2), ("іх", 2), ("ий", 2),
        ("ій", 2), ("им", 2), ("ім", 2), ("ою", 2), ("ею", 2), ("єю", 2),
        ("ої", 2), ("еї", 2), ("єї", 2), ("ая", 2), ("яя", 2), ("еє", 2),
        ("єє", 2),
    ),
    participle=_bylen(
        ("юч", 2), ("уч", 2), ("ач", 2), ("яч", 2),
        ("вш", 2),
    ),
    verb=_bylen(
        # -ува/-юва derived-verb suffix + ending, stripped WHOLE so the vowel
        # endings (будує → буд) and the а-endings (будувала) reach the same
        # stem — the paradigm split the r5 golden bound carried as inherent;
        # words ending these 9+ chars of verb morphology are unambiguously
        # -ува verbs, unlike the bare ати class below
        ("увати", 5), ("ювати", 5), ("увала", 5), ("ювала", 5),
        ("ували", 5), ("ювали", 5), ("увало", 5), ("ювало", 5),
        ("ував", 4), ("ював", 4),
        # а/я-kept group
        ("ала", 2), ("яла", 2), ("али", 2), ("яли", 2), ("ало", 2), ("яло", 2),
        ("ати", 2), ("яти", 2), ("аєш", 2), ("яєш", 2), ("аємо", 3), ("яємо", 3),
        ("аєте", 3), ("яєте", 3), ("ають", 3), ("яють", 3), ("ає", 1), ("яє", 1),
        ("ав", 1), ("яв", 1), ("аймо", 3), ("айте", 3), ("яйте", 3),
        ("ай", 1), ("яй", 1),
        # unconditional group
        ("ила", 3), ("іла", 3), ("їла", 3), ("или", 3), ("іли", 3), ("їли", 3),
        ("ило", 3), ("іло", 3), ("їло", 3), ("ити", 3), ("іти", 3), ("їти", 3),
        ("ить", 3), ("іть", 3), ("имо", 3), ("імо", 3), ("ите", 3), ("іте", 3),
        ("ив", 2), ("ів", 2), ("їв", 2), ("ую", 2), ("ує", 2), ("уєш", 3),
        ("уємо", 4), ("уєте", 4), ("ують", 4), ("еш", 2), ("емо", 3),
        ("ете", 3), ("уть", 3), ("ять", 3), ("ать", 3), ("ю", 1),
    ),
    noun=_bylen(
        ("іями", 4), ("ями", 3), ("ами", 3), ("ння", 2),
        ("ття", 2), ("ією", 3), ("ею", 2), ("ою", 2), ("ій", 2), ("ів", 2),
        ("ев", 2), ("єв", 2), ("ов", 2), ("ам", 2), ("ям", 2), ("ах", 2),
        ("ях", 2), ("ом", 2), ("ем", 2), ("єм", 2), ("ію", 2), ("ія", 2),
        ("ії", 2), ("а", 1), ("е", 1), ("є", 1), ("и", 1), ("і", 1), ("ї", 1),
        ("о", 1), ("у", 1), ("ю", 1), ("я", 1), ("ь", 1),
    ),
    superlative=_bylen(("іше", 3), ("іш", 2)),
    derivational=_bylen(("ість", 4), ("ост", 3)),
    i_ending="і",
    # н AND т: the productive -ння/-ття abstract-noun classes keep a single
    # consonant after their nominative ending strips (питання→питан,
    # життя→жит), so the oblique cases (питанню→питанн, життю→житт)
    # undouble to the SAME stem — case-paradigm coherence, pinned by
    # tests/test_snowball.py::test_uk_golden_divergence_bound
    undouble="нт",
    soft="ь",
    exceptions=(("перевірці", "перевірк"), ("результати", "результат")),
)

_CFGS: dict[str, _Cfg] = {"ru": RU, "uk": UK}
SNOWBALL_LANGS = tuple(sorted(_CFGS))


def _patterns(cfg: _Cfg) -> tuple[str, str]:
    """(rv_pattern, r2_pattern): anchored regexes whose MATCH LENGTH gives the
    position before the region start. Non-greedy, so the first qualifying
    vowel / vowel-nonvowel pair wins — identical semantics in Python re, Java
    regex (Spark), and RE2 (DuckDB). Zero-length match is impossible, so
    an empty extract means 'no region' (start = len + 1)."""
    v = cfg.vowels
    rv = f"^[^{v}]*[{v}]"
    r2 = f"^.*?[{v}][^{v}].*?[{v}][^{v}]"
    return rv, r2


# ---------------------------------------------------------------------------
# Python form
# ---------------------------------------------------------------------------

def _make_py(cfg: _Cfg):
    import re

    rv_re = re.compile(_patterns(cfg)[0])
    r2_re = re.compile(_patterns(cfg)[1])

    def _starts(w: str) -> tuple[int, int]:
        m = rv_re.match(w)
        rv = (m.end() + 1) if m else (len(w) + 1)
        m2 = r2_re.match(w)
        r2 = (m2.end() + 1) if m2 else (len(w) + 1)
        return rv, r2

    def _try(w: str, endings, start: int) -> tuple[str, bool]:
        for suf, strip in endings:
            if w.endswith(suf) and len(w) - len(suf) + 1 >= start:
                return w[: len(w) - strip], True
        return w, False

    nn = tuple(c + c for c in cfg.undouble)
    exc = dict(cfg.exceptions)

    def stem(word: str) -> str:
        hit = exc.get(word)
        if hit is not None:
            return hit
        w = word
        for a, b in cfg.norm:
            w = w.replace(a, b)
        rv, r2 = _starts(w)
        # step 1
        w1, ok = _try(w, cfg.pg, rv)
        if not ok:
            w1, _ = _try(w, cfg.reflexive, rv)
            adj, ok_adj = _try(w1, cfg.adjective, rv)
            if ok_adj:
                w1, _ = _try(adj, cfg.participle, rv)
            else:
                vb, ok_vb = _try(w1, cfg.verb, rv)
                w1 = vb if ok_vb else _try(w1, cfg.noun, rv)[0]
        # step 2
        if w1.endswith(cfg.i_ending) and len(w1) >= rv:
            w1 = w1[:-1]
        # step 3 (R2)
        w1, _ = _try(w1, cfg.derivational, r2)
        # step 4
        if w1.endswith(nn) and len(w1) - 1 >= rv:
            return w1[:-1]
        sup, ok_sup = _try(w1, cfg.superlative, rv)
        if ok_sup:
            if sup.endswith(nn) and len(sup) - 1 >= rv:
                return sup[:-1]
            return sup
        if w1.endswith(cfg.soft) and len(w1) >= rv:
            return w1[:-1]
        return w1

    return stem


_PY_CACHE: dict[str, object] = {}


def snowball_stem_py(lang: str):
    if lang not in _PY_CACHE:
        _PY_CACHE[lang] = _make_py(_CFGS[lang])
    return _PY_CACHE[lang]


# ---------------------------------------------------------------------------
# Spark Column form
# ---------------------------------------------------------------------------

def _bind(expr: Column, fn) -> Column:
    """Materialize expr once as a lambda variable (lambda bodies re-evaluate
    outer column references per use — the HOF CSE trap; see operators/dedup)."""
    from pyspark.sql import functions as F

    return F.element_at(F.transform(F.array(expr), fn), 1)


def _strip_col(w: Column, n: int) -> Column:
    from pyspark.sql import functions as F

    return w.substr(F.lit(1), F.length(w) - F.lit(n))


def _try_col(w: Column, endings, start: Column) -> Column:
    """First-match-wins suffix chain (built in reverse so the earliest rule is
    the outermost WHEN), returning the stemmed-or-unchanged word."""
    from pyspark.sql import functions as F

    out = w
    for suf, strip in reversed(endings):
        cond = w.endswith(F.lit(suf)) & (F.length(w) - F.lit(len(suf) - 1) >= start)
        out = F.when(cond, _strip_col(w, strip)).otherwise(out)
    return out


def snowball_stem_col(lang: str, tok: Column) -> Column:
    from pyspark.sql import functions as F

    cfg = _CFGS[lang]
    rv_pat, r2_pat = _patterns(cfg)

    def ends_dbl(w: Column) -> Column:
        cond = F.lit(False)
        for c in cfg.undouble:
            cond = cond | w.endswith(F.lit(c + c))
        return cond

    prep = tok
    for a, b in cfg.norm:
        prep = F.translate(prep, a, b)

    def start_of(w: Column, pat: str) -> Column:
        m = F.length(F.regexp_extract(w, pat, 0))
        return F.when(m == 0, F.length(w) + 1).otherwise(m + 1)

    def step1(w: Column, rv: Column) -> Column:
        def after_pg(r: Column) -> Column:
            def after_adj(adj: Column) -> Column:
                def after_verb(vb: Column) -> Column:
                    return F.when(F.length(vb) < F.length(r), vb).otherwise(
                        _try_col(r, cfg.noun, rv)
                    )

                return F.when(
                    F.length(adj) < F.length(r), _try_col(adj, cfg.participle, rv)
                ).otherwise(_bind(_try_col(r, cfg.verb, rv), after_verb))

            return _bind(_try_col(r, cfg.adjective, rv), after_adj)

        pg = _try_col(w, cfg.pg, rv)
        return _bind(pg, lambda p: F.when(F.length(p) < F.length(w), p).otherwise(
            _bind(_try_col(w, cfg.reflexive, rv), after_pg)
        ))

    def step2(w: Column, rv: Column) -> Column:
        return F.when(
            w.endswith(F.lit(cfg.i_ending)) & (F.length(w) >= rv), _strip_col(w, 1)
        ).otherwise(w)

    def step3(w: Column, r2: Column) -> Column:
        return _try_col(w, cfg.derivational, r2)

    def step4(w: Column, rv: Column) -> Column:
        nn_hit = ends_dbl(w) & (F.length(w) - 1 >= rv)

        def after_sup(sup: Column) -> Column:
            sup_nn = ends_dbl(sup) & (F.length(sup) - 1 >= rv)
            return F.when(
                F.length(sup) < F.length(w), F.when(sup_nn, _strip_col(sup, 1)).otherwise(sup)
            ).otherwise(
                F.when(
                    w.endswith(F.lit(cfg.soft)) & (F.length(w) >= rv), _strip_col(w, 1)
                ).otherwise(w)
            )

        return F.when(nn_hit, _strip_col(w, 1)).otherwise(
            _bind(_try_col(w, cfg.superlative, rv), after_sup)
        )

    out = _bind(prep, lambda w0: _bind(
        F.struct(
            w0.alias("w"),
            start_of(w0, rv_pat).alias("rv"),
            start_of(w0, r2_pat).alias("r2"),
        ),
        lambda s: _bind(step1(s["w"], s["rv"]), lambda w1: _bind(
            step2(w1, s["rv"]), lambda w2: _bind(
                step3(w2, s["r2"]), lambda w3: step4(w3, s["rv"])
            )
        )),
    ))
    # exceptions: raw-token overrides, same precedence as the Python form
    for wrd, stm in reversed(cfg.exceptions):
        out = F.when(tok == F.lit(wrd), F.lit(stm)).otherwise(out)
    return out


# ---------------------------------------------------------------------------
# DuckDB SQL form (mirrors the Column structure; binds via list_transform)
# ---------------------------------------------------------------------------

def _bind_sql(expr: str, var: str, body: str) -> str:
    return f"list_transform([{expr}], {var} -> {body})[1]"


def _strip_sql(w: str, n: int) -> str:
    return f"substring({w}, 1, length({w}) - {n})"


def _try_sql(w: str, endings, start: str) -> str:
    out = w
    for suf, strip in reversed(endings):
        cond = (
            f"ends_with({w}, '{suf}') AND length({w}) - {len(suf) - 1} >= {start}"
        )
        out = f"CASE WHEN {cond} THEN {_strip_sql(w, strip)} ELSE {out} END"
    return out


def snowball_stem_sql(lang: str, var: str = "t") -> str:
    cfg = _CFGS[lang]
    rv_pat, r2_pat = _patterns(cfg)

    def ends_dbl(w: str) -> str:
        return "(" + " OR ".join(
            f"ends_with({w}, '{c + c}')" for c in cfg.undouble) + ")"

    prep = var
    for a, b in cfg.norm:
        prep = f"replace({prep}, '{a}', '{b}')"

    def start_of(w: str, pat: str) -> str:
        m = f"length(regexp_extract({w}, '{pat}'))"
        return f"(CASE WHEN {m} = 0 THEN length({w}) + 1 ELSE {m} + 1 END)"

    def step1(w: str, rv: str) -> str:
        verb_branch = _bind_sql(
            _try_sql("r", cfg.verb, rv), "vb",
            f"CASE WHEN length(vb) < length(r) THEN vb ELSE {_try_sql('r', cfg.noun, rv)} END",
        )
        adj_branch = _bind_sql(
            _try_sql("r", cfg.adjective, rv), "adj",
            f"CASE WHEN length(adj) < length(r) THEN {_try_sql('adj', cfg.participle, rv)} "
            f"ELSE {verb_branch} END",
        )
        non_pg = _bind_sql(_try_sql(w, cfg.reflexive, rv), "r", adj_branch)
        return _bind_sql(
            _try_sql(w, cfg.pg, rv), "p",
            f"CASE WHEN length(p) < length({w}) THEN p ELSE {non_pg} END",
        )

    def step2(w: str, rv: str) -> str:
        return (
            f"CASE WHEN ends_with({w}, '{cfg.i_ending}') AND length({w}) >= {rv} "
            f"THEN {_strip_sql(w, 1)} ELSE {w} END"
        )

    def step3(w: str, r2: str) -> str:
        return _try_sql(w, cfg.derivational, r2)

    def step4(w: str, rv: str) -> str:
        sup_branch = _bind_sql(
            _try_sql(w, cfg.superlative, rv), "sup",
            f"CASE WHEN length(sup) < length({w}) THEN "
            f"(CASE WHEN {ends_dbl('sup')} AND length(sup) - 1 >= {rv} "
            f"THEN {_strip_sql('sup', 1)} ELSE sup END) "
            f"ELSE (CASE WHEN ends_with({w}, '{cfg.soft}') AND length({w}) >= {rv} "
            f"THEN {_strip_sql(w, 1)} ELSE {w} END) END",
        )
        return (
            f"CASE WHEN {ends_dbl(w)} AND length({w}) - 1 >= {rv} "
            f"THEN {_strip_sql(w, 1)} ELSE {sup_branch} END"
        )

    inner = _bind_sql(
        f"struct_pack(w := w0, rv := {start_of('w0', rv_pat)}, r2 := {start_of('w0', r2_pat)})",
        "s",
        _bind_sql(step1("s.w", "s.rv"), "w1", _bind_sql(
            step2("w1", "s.rv"), "w2", _bind_sql(
                step3("w2", "s.r2"), "w3", step4("w3", "s.rv")
            )
        )),
    )
    out = _bind_sql(prep, "w0", inner)
    # exceptions: raw-token overrides, same precedence as the Python form
    for wrd, stm in reversed(cfg.exceptions):
        out = f"CASE WHEN {var} = '{wrd}' THEN '{stm}' ELSE {out} END"
    return out
