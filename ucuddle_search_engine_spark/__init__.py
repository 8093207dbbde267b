"""ucuddle_search_engine_spark — a from-scratch PySpark-native inverted-index +
BM25 top-k search engine with the query/data-processing capabilities of
DmytroLopushanskyy/Ucuddle-Search-Engine (reference at /root/reference, read-only).

The reference delegates its index/query semantics to Elasticsearch (mappings it
creates at crawler/functs_with_elastic.go:69-184, queries it builds at
web/elastic_interaction.py:19-48). This package implements those semantics
natively on Spark DataFrames:

- analyzer chain (tokenize + lowercase, shared between build and query side)
- document-sharded inverted index (the ES "3 shards" model,
  crawler/functs_with_elastic.go:75) with doc-sorted, delta+varbyte-compressed
  posting blocks carrying block-max impact metadata
- exact BM25 (k1=1.2, b=0.75, Lucene formula shape) as Column expressions
- block-max WAND top-k as the vectorized fast path (applyInPandas per shard)
- iterative PageRank document prior (the reference captures the link graph at
  crawler/main.go:176-192 and reserves Site.PageRank, crawler/structures.go:14)
- checkpoint/resume build manifest (the reference's taken/parsed work queue,
  task-manager/task_manager.py:54-94)
- training-data-pipeline extras: dedup (exact/MinHash-LSH/SimHash/Jaccard/
  embedding-cosine), ANN similarity search, text quality stats, multimodal
  binary-column plumbing.

The build and the distributed queries are DataFrame/Catalyst-first; Python
runs in Arrow batches there (the mapInArrow tokenizer and segment encoder,
the applyInPandas per-shard scorer, the snippet UDF).

The serving tier (scripts/serve.py) is a separate, Spark-free process: its
import graph is numpy, pyarrow (pyarrow.compute, pyarrow.parquet) and the
stdlib plus the serving modules — operators.wand, storefiles, phrase, fuzzy,
highlight, routing, bm25_params; functions.analyze, snowball, textstats,
hashing, varbyte, mem. Those modules import pyspark and pandas only inside
their Spark-facing functions, and never import pyarrow.dataset
(tests/test_serving_imports.py).
"""

__version__ = "0.1.0"
