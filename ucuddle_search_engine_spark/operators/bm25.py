"""Exact BM25 scoring + top-k search as Column expressions.

This is the engine's *oracle path*: the scoring semantics the reference gets
from its ES indexes' default similarity (BM25, k1=1.2, b=0.75 — the Lucene
defaults for the mappings created at crawler/functs_with_elastic.go:69-184),
combined per the query the reference builds at web/elastic_interaction.py:19-48:

- `multi_match` over fields [title^5, content]  → per-field weighted sum here
- `operator: "or"` + `minimum_should_match: "100%"` → every query term must
  match somewhere in the doc (AND across terms, OR across fields)
- `size: 20` top-k by score                     → orderBy + limit
- tie-break (score desc, doc_id asc)            → SURVEY.md §2.6 T4

Formula (Lucene 8+ shape, SURVEY.md §4.3 custom #1):
    idf     = ln(1 + (N - df + 0.5) / (df + 0.5))
    tf_norm = tf / (tf + k1 * (1 - b + b * doclen / avgdl))
    score   = Σ_terms Σ_fields boost_f · idf_f(t) · tf_norm_f(t, d)

Every optimization (segments, WAND) must stay rank-identical to this.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.analyze import analyze_query
from .bm25_params import B, DEFAULT_BOOSTS, K1
from .postings import (
    FIELD_CONTENT,
    build_docs,
    build_postings_fast,
    collection_stats,
    doclens_from_docs,
    term_stats,
)


def idf_col(df_col: Column, n_docs: Column) -> Column:
    return F.log(F.lit(1.0) + (n_docs - df_col + F.lit(0.5)) / (df_col + F.lit(0.5)))


def tf_norm_col(tf: Column, doclen: Column, avgdl: Column, k1: float = K1, b: float = B) -> Column:
    return tf / (tf + F.lit(k1) * (F.lit(1.0) - F.lit(b) + F.lit(b) * doclen / avgdl))


@dataclass
class InvertedIndex:
    """Bundle of the index artifact DataFrames (materialize with .persist() or
    write them as the segment store — plans/build_index.py)."""

    docs: DataFrame
    postings: DataFrame
    tstats: DataFrame
    dstats: DataFrame
    cstats: DataFrame
    boosts: dict[int, float] = dc_field(default_factory=lambda: dict(DEFAULT_BOOSTS))
    analyzer: object | None = None  # functions.analyze.Analyzer; None = identity

    @classmethod
    def build(cls, corpus: DataFrame, num_shards: int = 3, fields: dict[int, str] | None = None,
              scale_ids: bool | str = False, analyzer=None) -> "InvertedIndex":
        docs = build_docs(corpus, num_shards=num_shards, scale_ids=scale_ids)
        # fast termvector postings (bit-identical to the groupBy construction,
        # tests/test_postings_fast.py) — no (term, doc) shuffle, doclen inline
        postings = build_postings_fast(docs, fields=fields, analyzer=analyzer)
        dstats = doclens_from_docs(docs, fields=fields, analyzer=analyzer)
        return cls(docs, postings, term_stats(postings), dstats, collection_stats(dstats),
                   analyzer=analyzer)

    @classmethod
    def from_documents_table(cls, documents: DataFrame, analyzer=None) -> "InvertedIndex":
        """Single-field index over the driver testdata `documents` table
        (doc_id, text, ...) — used by the oracle-checked queries()."""
        extra = [c for c in documents.columns if c not in ("doc_id", "text")]
        docs = documents.select("doc_id", F.col("text").alias("content"), *extra)
        fields = {FIELD_CONTENT: "content"}
        postings = build_postings_fast(docs, fields=fields, analyzer=analyzer)
        dstats = doclens_from_docs(docs, fields=fields, analyzer=analyzer)
        return cls(docs, postings, term_stats(postings), dstats, collection_stats(dstats),
                   boosts={FIELD_CONTENT: 1.0}, analyzer=analyzer)

    def persist(self) -> "InvertedIndex":
        for df in (self.docs, self.postings, self.tstats, self.dstats, self.cstats):
            df.persist()
        return self

    # ---- query side -----------------------------------------------------

    def score_terms(self, terms: list[str]) -> DataFrame:
        """Per-(doc, term) matched rows with exact BM25 contributions.

        Plan shape (scale posture): postings scan filtered by term.isin —
        pushed to parquet row-group stats when the store is term-sorted;
        tstats/cstats joins are broadcast (tiny after the term filter).
        """
        terms = sorted(set(terms))
        matched = self.postings.filter(F.col("term").isin(terms))
        ts = F.broadcast(self.tstats.filter(F.col("term").isin(terms)))
        cs = F.broadcast(self.cstats)
        boost = F.create_map(*[x for fid, w in self.boosts.items() for x in (F.lit(fid), F.lit(float(w)))])
        if "doclen" not in matched.columns:  # fast postings carry doclen inline
            matched = matched.join(self.dstats, ["doc_id", "field"])
        return (
            matched.join(ts, ["term", "field"])
            .join(cs, ["field"])
            .withColumn(
                "contrib",
                boost[F.col("field")]
                * idf_col(F.col("df").cast("double"), F.col("n_docs").cast("double"))
                * tf_norm_col(F.col("tf").cast("double"), F.col("doclen").cast("double"), F.col("avgdl")),
            )
        )

    def search_terms(self, terms: list[str], k: int = 20, mode: str = "and",
                     round_dp: int | None = None, offset: int = 0) -> DataFrame:
        """Top-k (doc_id, score) for analyzed query terms.

        mode='and' ⇔ the reference's minimum_should_match "100%" (every term in
        the doc, any field); mode='or' ⇔ plain disjunctive multi_match.
        round_dp: round the score BEFORE orderBy/limit so ties at the k
        boundary break by doc_id identically to a rounded-score oracle
        (summation-order ulps otherwise make the cut flaky).
        offset: pagination (the reference's more_links / ES from+size,
        web/app.py:43) — rows offset..offset+k of the global ranking.
        """
        terms = sorted(set(terms))
        scored = self.score_terms(terms)
        agg = scored.groupBy("doc_id").agg(
            F.sum("contrib").alias("score"),
            F.countDistinct("term").alias("_nterms"),
        )
        if mode == "and":
            agg = agg.filter(F.col("_nterms") == len(terms))
        score = F.round("score", round_dp) if round_dp is not None else F.col("score")
        out = agg.select("doc_id", score.alias("score")).orderBy(
            F.col("score").desc(), F.col("doc_id").asc()
        )
        if offset:
            out = out.offset(offset)
        return out.limit(k)

    def search(self, query: str, k: int = 20, mode: str = "and", highlight: bool = False) -> DataFrame:
        """Full read path: analyze query with the SAME analyzer (K5 parity,
        crawler/functs_with_elastic.go:85-94), score, top-k, then broadcast-join
        display fields (J3: k rows ⇒ broadcast, web/elastic_interaction.py:80-99).
        With highlight=True, adds the bolded snippet (C7) and capitalized title
        (C6) the reference's frontend renders.
        """
        terms = self.analyzer.analyze_py(query) if self.analyzer is not None else analyze_query(query)
        if len(query.strip()) < 3 or not terms:  # length guard, web/app.py:30-31
            return self.docs.sparkSession.createDataFrame([], "doc_id long, score double")
        topk = self.search_terms(terms, k=k, mode=mode)
        display = self.docs.drop("content")
        out = F.broadcast(topk).join(display, "doc_id")
        if highlight:
            from .highlight import capitalize_title, highlight_hits

            snip = highlight_hits(topk, self.docs, self.postings, terms).select("doc_id", "snippet")
            out = out.join(F.broadcast(snip), "doc_id", "left")
            if "title" in out.columns:
                out = out.withColumn("title", capitalize_title("title"))
        return out.orderBy(F.col("score").desc(), F.col("doc_id").asc())
