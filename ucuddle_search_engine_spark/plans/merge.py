"""Store merge — consolidate two written indexes into one, without touching
the original corpus text.

This is the Lucene/ES segment-merge analogue (the reference relies on ES's
background merges; delete-docs above notes 'soft-deletes until merge'): the
merged store gets fresh dense doc ids over the union key set, postings are
DECODED from the existing compressed blocks (never re-tokenized — analysis is
the expensive stage), ids remapped by a hash join, BM25 stats (n_docs/avgdl →
max_impact) recomputed for the union, and blocks re-encoded through the same
single-wide-exchange encoder as a fresh build. Tombstoned docs are dropped
for real during the merge, exactly like Lucene expunges deletes.

Conflict policy: a (repo, path) present in both stores keeps the RIGHT
store's row (ES upsert semantics — right = newer).

Scale posture: decode is an Arrow mapInPandas over block rows (vectorized
varbyte), the remap is a shuffle hash join on uniformly-distributed ids, and
the encode is the standard one-exchange build_segments. No driver data beyond
unit metadata.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import term_bucket_col
from ..operators.ids import assign_doc_ids_prefix
from ..operators.segments import encode_segments
from .build_index import (
    _driver_listing,
    _field_stats,
    _observed_write,
    load_analyzer,
    write_docs,
    write_postings_sidecar,
    write_segments,
    write_store_tstats,
)


def decode_store_postings(segments: DataFrame) -> DataFrame:
    """Compressed block rows → (term, field, doc_id, tf, doclen) postings.
    Vectorized varbyte decode per Arrow batch; block rows are independent
    (absolute-restart delta encoding), so no grouping is required."""
    import numpy as np
    import pandas as pd

    from ..functions.varbyte import decode_doc_ids_concat, vb_decode_concat

    def run(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            docs, ns = decode_doc_ids_concat(list(pdf["doc_bytes"]))
            tfs, _ = vb_decode_concat(list(pdf["tf_bytes"]))
            dls, _ = vb_decode_concat(list(pdf["dl_bytes"]))
            rep = np.repeat(np.arange(len(pdf)), ns)
            yield pd.DataFrame(
                {
                    "term": pdf["term"].to_numpy(object)[rep],
                    "field": pdf["field"].to_numpy(np.int32)[rep],
                    "doc_id": docs.astype(np.int64),
                    "tf": tfs.astype(np.int64),
                    "doclen": dls.astype(np.int64),
                }
            )

    return segments.mapInPandas(run, schema="term string, field int, doc_id long, tf long, doclen long")


def _load_docs(spark: SparkSession, store: str) -> DataFrame:
    docs = spark.read.parquet(os.path.join(store, "docs"))
    ts_path = os.path.join(store, "tombstones")
    if os.path.isdir(ts_path):
        dead = spark.read.parquet(ts_path).select("doc_id")
        docs = docs.join(dead, "doc_id", "left_anti")  # expunge deletes
    return docs.drop("unit")


def merge_stores(spark: SparkSession, left: str, right: str, out_dir: str,
                 num_shards: int | None = None,
                 block_size: int | None = None) -> dict:
    """Two-store merge — see merge_many (right wins conflicts)."""
    return merge_many(spark, [left, right], out_dir, num_shards=num_shards,
                      block_size=block_size)


def merge_many(spark: SparkSession, stores: list[str], out_dir: str,
               num_shards: int | None = None,
               block_size: int | None = None) -> dict:
    """Merge N written stores into one fresh store at out_dir (docs +
    tb-partitioned segments + tstats + cstats + analyzer config) — the
    Lucene N-way segment merge. A (repo, path) present in several stores
    keeps the RIGHTMOST store's row (ES upsert semantics, later = newer);
    tombstones of every input are expunged.

    Conflict resolution is ONE keep-best window over the tagged union (not a
    chain of anti-joins — that would be N² shuffles at fleet-sized merges).

    Analyzer parity: the merged store's query side must analyze exactly like
    the inputs' index side (the search_analyzer == index analyzer pin,
    crawler/functs_with_elastic.go:85-94), so the inputs' analyzer.json is
    carried into out_dir and used for the recomputed title avgdl; stores
    built with DIFFERENT analyzers share no token space and refuse to merge."""
    if len(stores) < 2:
        raise ValueError("merge_many needs at least two stores")
    # geometry defaults INHERIT from the inputs' store_meta.json (max shard
    # count wins; first store's block size): a fixed default of 3 silently
    # collapsed an auto-sharded 96-shard store back to 3 on every merge /
    # add-docs, regressing head-query latency (linear in per-shard
    # postings) ~32x and sticking for all later merges
    if num_shards is None or block_size is None:
        from ..operators.wand import _read_store_meta

        metas = [_read_store_meta(s) for s in stores]
        if num_shards is None:
            num_shards = max((m.get("num_shards") or 3) for m in metas)
        if block_size is None:
            block_size = metas[0].get("block_size") or 128
    analyzers = [load_analyzer(s) for s in stores]
    if any(a != analyzers[0] for a in analyzers[1:]):
        raise ValueError(
            "refusing to merge stores built with different analyzers: "
            f"{stores} — their index token spaces are incompatible"
        )
    analyzer = analyzers[0]
    key = ["repo", "path"]
    docs_list = [_load_docs(spark, s) for s in stores]
    # column UNION across inputs (first-seen order), missing columns backfilled
    # as typed nulls — so merging a newer store (e.g. with added_at) with an
    # older one neither raises nor silently drops the newer column, whichever
    # order the stores are listed in. A column whose TYPE differs across
    # stores refuses loudly (a silent cast could null or truncate data).
    dtypes: dict[str, str] = {}
    for s_path, d in zip(stores, docs_list):
        for c, t in d.dtypes:
            prev = dtypes.setdefault(c, t)
            if prev != t:
                raise ValueError(
                    f"refusing to merge: docs column {c!r} is {prev!r} in an "
                    f"earlier store but {t!r} in {s_path} — align the schemas "
                    f"(admin.py alter) before merging"
                )
    cols = list(dtypes)
    tagged = None
    for i, d in enumerate(docs_list):
        t = d.select(
            *[
                F.col(c) if c in d.columns
                else F.lit(None).cast(dtypes[c]).alias(c)
                for c in cols
            ]
        ).withColumn("_sidx", F.lit(i))
        tagged = t if tagged is None else tagged.unionByName(t)
    from pyspark.sql import Window

    w = Window.partitionBy(*key).orderBy(F.col("_sidx").desc())
    winners = (
        tagged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .persist()
    )

    # fresh dense ids over the union, same determinism contract as a build.
    # The rows keep their input store and old id, so the old→new mapping is
    # a projection of the cached result, not a join of two window passes
    ided = assign_doc_ids_prefix(
        winners.withColumnRenamed("doc_id", "old_id").drop("shard"), key
    ).withColumn("shard", F.pmod(F.col("doc_id"), F.lit(num_shards)).cast("int")).persist()
    cstats = _field_stats(ided, analyzer=analyzer)  # materializes the cache
    winners.unpersist()
    docs = ided.drop("old_id", "_sidx")

    def mapping(i: int) -> DataFrame:
        return ided.filter(F.col("_sidx") == i).select("old_id", F.col("doc_id").alias("new_id"))

    def read_input(store: str, sub: str) -> DataFrame:
        with _driver_listing(spark):
            return spark.read.parquet(os.path.join(store, sub))

    parts = []
    for i, store in enumerate(stores):
        decoded = decode_store_postings(read_input(store, "segments"))
        # keep only surviving docs (conflict losers + tombstones drop here)
        m = mapping(i)
        parts.append(
            decoded.join(m, decoded["doc_id"] == m["old_id"])
            .select("term", "field", F.col("new_id").alias("doc_id"), "tf", "doclen")
        )
    postings = parts[0]
    for p in parts[1:]:
        postings = postings.unionByName(p)

    n = _observed_write(lambda df: write_docs(df, os.path.join(out_dir, "docs/unit=0")),
                        docs)["rows"]
    write_segments(encode_segments(postings, None, cstats, num_shards=num_shards,
                                   block_size=block_size),
                   os.path.join(out_dir, "segments/unit=0"))
    # carry the positional sidecar through the merge when every input has one
    # (Lucene merges keep .pos): remap surviving docs' position rows to the
    # fresh ids and rewrite in the tb layout — highlight/phrase keep working
    # on the merged store without re-tokenizing anything
    if all(os.path.isdir(os.path.join(s, "postings")) for s in stores):
        pparts = []
        for i, store in enumerate(stores):
            p = read_input(store, "postings")
            m = mapping(i)
            pparts.append(
                p.join(m, p["doc_id"] == m["old_id"]).select(
                    "term", F.col("new_id").alias("doc_id"), "field", "tf",
                    "positions", "doclen",
                )
            )
        pos = pparts[0]
        for pp in pparts[1:]:
            pos = pos.unionByName(pp)
        write_postings_sidecar(pos.withColumn("tb", term_bucket_col("term")),
                               os.path.join(out_dir, "postings/unit=0"))

    write_store_tstats(spark, out_dir)
    with open(os.path.join(out_dir, "cstats.json"), "w") as f:
        json.dump(cstats, f)
    with open(os.path.join(out_dir, "store_meta.json"), "w") as f:
        json.dump({"num_shards": num_shards, "sharding": "mod",
                   "block_size": block_size}, f)
    if analyzer is not None:
        from dataclasses import asdict

        with open(os.path.join(out_dir, "analyzer.json"), "w") as f:
            json.dump(asdict(analyzer), f)
    ided.unpersist()
    return {"n_docs": n}
