"""Inverted-index construction: docs, postings, term/doc statistics.

The reference gets all of this for free by POSTing documents into analyzed ES
`text` fields (mappings crawler/functs_with_elastic.go:84-97); we build it
natively (SURVEY.md §2.4 A1) with pure DataFrame ops so the whole build stays
inside whole-stage codegen — no Python in the hot path:

    tokenize (regexp_extract_all) → posexplode → groupBy(term, doc_id) agg

Skew posture at 100 TB:
- the tf aggregation groups on (term, doc_id, field) — key cardinality is the
  posting count itself, so Zipf head terms do NOT concentrate on one reducer;
- term_stats / doc_stats are partial-aggregated (map-side combine) counts, the
  one shape AQE+hash-agg already handles under skew;
- the only place a whole term must meet is segment assembly, which
  operators/segments.py range-partitions on (term ordering key, doc_id) so head
  terms split across many partitions while blocks stay doc-ordered.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.analyze import tokenize_col
from ..functions.hashing import sha256_col
from .ids import assign_doc_ids_hash, assign_doc_ids_prefix, assign_doc_ids_sort

FIELD_CONTENT = 0
FIELD_TITLE = 1

_ID_MODES = {
    "sort": assign_doc_ids_sort,       # exact dense rank; single-task sort (test scale)
    "prefix": assign_doc_ids_prefix,   # dense rank via range partitions (scale, rank-preserving)
    "hash": assign_doc_ids_hash,       # bucket-dense ids (scale, cheapest; not rank-ordered)
}


def build_docs(corpus: DataFrame, num_shards: int = 3, scale_ids: bool | str = False,
               analyzer=None, ingest_ts=None, n_rows: int | None = None) -> DataFrame:
    """Corpus (repo, path, commit, lang, content) → docs table.

    - doc_id: deterministic dense rank over (repo, path) — replaces the
      reference's central counter (task-manager/app.py:102-116).
    - title: first content line, falling back to the path basename — the
      reference's title-fallback chain (crawler/main.go:138-174) adapted to a
      code corpus.
    - content_sha256: per-row invariant vs the source (BASELINE.json input_hint).
    - shard: pmod(doc_id, num_shards) — the ES number_of_shards model
      (crawler/functs_with_elastic.go:75). Queries fan out per shard and merge
      top-k, exactly ES scatter-gather.
    - added_at: ingest timestamp (C10, crawler/functs_with_elastic.go:311
      stamps added_at_time on every doc) — time-windowed re-index / delete
      ("docs added since X") filters on it against a built store. Defaults to
      the batch's wall clock; pass ingest_ts (a Column) for deterministic
      stamping in tests/oracles.

    n_rows: the corpus row count when the caller already has it (saves the
    'prefix' id path its own count job).
    """
    if isinstance(scale_ids, str):
        assign = _ID_MODES[scale_ids]
    else:
        assign = assign_doc_ids_prefix if scale_ids else assign_doc_ids_sort
    if assign is assign_doc_ids_prefix:
        docs = assign(corpus, ["repo", "path"], n_rows=n_rows)
    else:
        docs = assign(corpus, ["repo", "path"])
    first_line = F.trim(F.substring_index(F.col("content"), "\n", 1))
    basename = F.element_at(F.split(F.col("path"), "/"), -1)
    title = F.when(F.length(first_line) >= 3, first_line).otherwise(basename)
    toks = analyzer.tokens_col("content") if analyzer is not None else tokenize_col("content")
    return docs.select(
        "doc_id",
        "repo",
        "path",
        "commit",
        "lang",
        title.alias("title"),
        "content",
        sha256_col("content").alias("content_sha256"),
        F.size(toks).cast("long").alias("doclen"),
        F.pmod(F.col("doc_id"), F.lit(num_shards)).cast("int").alias("shard"),
        (ingest_ts if ingest_ts is not None else F.current_timestamp()).alias("added_at"),
    )


def build_postings(docs: DataFrame, fields: dict[int, str] | None = None, id_col: str = "doc_id") -> DataFrame:
    """Docs → canonical postings (term, doc_id, field, tf, positions).

    All JVM-side: posexplode(regexp_extract_all) yields (pos, term) with pos the
    token position — the positional information ES keeps for `text` fields.
    """
    if fields is None:
        fields = {FIELD_CONTENT: "content", FIELD_TITLE: "title"}
    parts = []
    for field_id, col in fields.items():
        toks = docs.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(tokenize_col(col)).alias("pos", "term"),
        )
        parts.append(
            toks.groupBy("term", "doc_id")
            .agg(
                F.count("*").alias("tf"),
                F.sort_array(F.collect_list(F.col("pos").cast("int"))).alias("positions"),
            )
            .select(
                "term",
                "doc_id",
                F.lit(field_id).cast("int").alias("field"),
                F.col("tf").cast("long").alias("tf"),
                "positions",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _widen_for_compute(df: DataFrame, key_col: str) -> DataFrame:
    """Scale-adaptive parallelism guard (optimization guide §2.5/§6): the
    analyzer is the build's CPU hot spot, and its stage parallelism is the
    SOURCE partition count — a single small parquet file or a cached
    2-partition table leaves every core but two idle (measured r7: the sf1.0
    termvector stage ran 2-wide for 10.1 s on local[32]). Hash-repartition on
    the id column (deterministic → retry-safe, unlike round-robin) up to
    defaultParallelism. No-op whenever the input is already at least that
    wide — the 100 TB case, where inputs arrive in thousands of splits."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par, F.col(key_col))
    return df


def build_postings_fast(docs: DataFrame, fields: dict[int, str] | None = None, id_col: str = "doc_id",
                        analyzer=None) -> DataFrame:
    """Shuffle-free postings: per-doc term vectors from the Arrow analyzer UDF,
    exploded (narrow) — identical rows to build_postings (tested), but the
    (term, doc_id) aggregation happens inside each document instead of in a
    cluster-wide groupBy. With doclen emitted alongside, the index build's only
    wide exchange is the final repartition by (shard, term).

    analyzer: optional functions.analyze.Analyzer (stop/stem/Unicode chain);
    None = the identity analyzer (backward-compatible default)."""
    from ..functions.analyze import FLAT_POSTINGS_SCHEMA, make_flat_postings_fn

    if fields is None:
        fields = {FIELD_CONTENT: "content", FIELD_TITLE: "title"}
    # project to (id, field columns) BEFORE the widening exchange so it moves
    # only the bytes the analyzer needs (guide §2.3 "project before the
    # exchange"); both field branches share the same subplan, so ReuseExchange
    # materializes it once
    need = [id_col] + [c for c in dict.fromkeys(fields.values()) if c != id_col]
    src = _widen_for_compute(docs.select(*need), id_col)
    parts = []
    for field_id, col in fields.items():
        flat = src.select(id_col, col).mapInArrow(
            make_flat_postings_fn(analyzer, id_col=id_col, text_col=col),
            schema=FLAT_POSTINGS_SCHEMA,
        )
        parts.append(
            flat.select(
                "term",
                "doc_id",
                F.lit(field_id).cast("int").alias("field"),
                "tf",
                "positions",
                "doclen",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def doclens_from_docs(docs: DataFrame, fields: dict[int, str] | None = None, id_col: str = "doc_id",
                      analyzer=None) -> DataFrame:
    """doc_stats straight from the docs table (one cheap projection instead of
    re-aggregating the exploded postings): doclen(field) = token count AFTER
    analysis (stopwords removed — ES counts field length the same way). Uses
    the precomputed docs.doclen column for the content field when present and
    no custom analyzer is set — no content re-tokenize."""
    if fields is None:
        fields = {FIELD_CONTENT: "content", FIELD_TITLE: "title"}
    # same widening as build_postings_fast: the tokenize here is a full-text
    # regexp pass, so it must not run at a 2-partition width on a 32-slot box.
    # Fields that reuse the precomputed docs.doclen column skip the tokenize
    # and ride the same (cheap) widened projection.
    tok_fields = {fid: c for fid, c in fields.items()
                  if not (fid == FIELD_CONTENT and "doclen" in docs.columns and analyzer is None)}
    need = [id_col] + [c for c in dict.fromkeys(tok_fields.values()) if c != id_col]
    if len(need) > 1:
        if "doclen" in docs.columns and analyzer is None and FIELD_CONTENT in fields:
            need.append("doclen")
        src = _widen_for_compute(docs.select(*need), id_col)
    else:
        src = docs
    parts = []
    for field_id, col in fields.items():
        if field_id == FIELD_CONTENT and "doclen" in docs.columns and analyzer is None:
            dl = F.col("doclen")
        elif analyzer is not None:
            dl = F.size(analyzer.tokens_col(col)).cast("long")
        else:
            dl = F.size(tokenize_col(col)).cast("long")
        parts.append(
            src.select(
                F.col(id_col).alias("doc_id"),
                F.lit(field_id).cast("int").alias("field"),
                dl.alias("doclen"),
            ).filter(F.col("doclen") > 0)
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def term_stats(postings: DataFrame) -> DataFrame:
    """(term, field) → document frequency + collection frequency."""
    return postings.groupBy("term", "field").agg(
        F.count("*").alias("df"),
        F.sum("tf").alias("cf"),
    )


def doc_stats(postings: DataFrame) -> DataFrame:
    """(doc_id, field) → field length in tokens (Σtf)."""
    return postings.groupBy("doc_id", "field").agg(F.sum("tf").alias("doclen"))


def collection_stats(dstats: DataFrame) -> DataFrame:
    """(field) → N docs + average field length (BM25 denominators)."""
    return dstats.groupBy("field").agg(
        F.count("*").alias("n_docs"),
        F.avg("doclen").alias("avgdl"),
    )
