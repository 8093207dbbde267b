"""Engine schemas, declared once (the reference declares its schemas once as ES
mappings: crawler/functs_with_elastic.go:78-102, elastic-interaction/
elastic_settings.go:103-148). Spark equivalents per SURVEY.md §1.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Authoritative input table (BASELINE.json input_hint): Iceberg table of
# source-code repositories. In this sandbox it is Parquet with the same shape.
CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("content", T.StringType(), False),
    ]
)

# Engine-side document table — the reference's `Site` struct
# (crawler/structures.go:9-18) re-keyed for the corpus. content_sha256 carries
# the per-row invariant vs the source table (BASELINE.json input_hint).
DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("title", T.StringType(), True),
        T.StructField("content", T.StringType(), False),
        T.StructField("content_sha256", T.StringType(), False),
        T.StructField("doclen", T.LongType(), False),
        T.StructField("shard", T.IntegerType(), False),
    ]
)

# Canonical relational postings (term, doc_id, field, tf, positions) — the
# uncompressed form every optimization must stay bit-identical to.
# field: 0=content, 1=title (the reference boosts title^5:
# web/elastic_interaction.py:29-32). Positions retained for highlight/phrase
# (ES keeps them for `text` fields; consumed at web/elastic_interaction.py:37-47).
POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("field", T.IntegerType(), False),
        T.StructField("tf", T.LongType(), False),
        T.StructField("positions", T.ArrayType(T.IntegerType()), True),
    ]
)

# Compressed segment blocks: document-sharded (the ES number_of_shards model,
# crawler/functs_with_elastic.go:75), per (shard, term) a doc-ordered chain of
# delta+varbyte blocks with block-max metadata for WAND pruning.
SEGMENT_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("field", T.IntegerType(), False),
        # long: block_no ~ doc_id / block_size — int32 wraps past ~2.7e11 docs
        T.StructField("block_no", T.LongType(), False),
        T.StructField("n", T.IntegerType(), False),
        T.StructField("min_doc", T.LongType(), False),
        T.StructField("max_doc", T.LongType(), False),
        T.StructField("doc_bytes", T.BinaryType(), False),   # delta+varbyte doc ids
        T.StructField("tf_bytes", T.BinaryType(), False),    # varbyte tfs
        T.StructField("dl_bytes", T.BinaryType(), False),    # varbyte per-doc field lengths
        T.StructField("max_tf", T.LongType(), False),
        T.StructField("max_impact", T.DoubleType(), False),  # block-max BM25 tf-norm bound (idf excluded)
    ]
)

TERM_STATS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("field", T.IntegerType(), False),
        T.StructField("df", T.LongType(), False),
        T.StructField("cf", T.LongType(), False),  # collection frequency
    ]
)

DOC_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("field", T.IntegerType(), False),
        T.StructField("doclen", T.LongType(), False),
    ]
)

# Checkpoint manifest — Spark-side equivalent of the reference's work queue
# (link_id/taken/parsed, elastic-interaction/elastic_settings.go:106-126) and
# its claim protocol (task-manager/task_manager.py:54-94). `terms` is the
# approximate distinct term count of the unit's segment rows
# (approx_count_distinct, observed on the segments write); the *_rows /
# *_ms pairs are the rows and wall time of each write of the unit (postings
# only when the positional sidecar is written).
MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("input_fingerprint", T.StringType(), False),
        T.StructField("status", T.StringType(), False),  # pending|taken|parsed
        T.StructField("docs", T.LongType(), True),
        T.StructField("terms", T.LongType(), True),
        T.StructField("bytes", T.LongType(), True),
        T.StructField("wall_ms", T.LongType(), True),
        *(
            T.StructField(f"{w}_{m}", T.LongType(), True)
            for w in ("docs", "postings", "segments")
            for m in ("rows", "ms")
        ),
    ]
)

TOKENS_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("term", T.StringType(), False),
            T.StructField("pos", T.IntegerType(), False),
        ]
    )
)
