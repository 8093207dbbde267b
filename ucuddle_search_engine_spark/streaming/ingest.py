"""Structured Streaming ingest: continuous corpus → postings micro-batches.

The reference's "streaming" is a polling batch loop — crawlers fetch work
batches forever (crawler/main.go:451-515). Its natural Spark expression is a
file-source streaming query: new corpus parquet files appearing under a
directory are tokenized and committed to a postings sink exactly once:
the checkpoint gives at-least-once batch EXECUTION, and each micro-batch
writes (mode=overwrite) its own epoch-keyed subdirectory, so a retried
epoch replaces its previous partial/complete output instead of appending a
duplicate copy — together that is the same at-least-once-claim /
exactly-once-commit contract the task-manager's taken/parsed flags provide.

foreachBatch is used so each micro-batch can run the same build_postings
DataFrame plan as the batch path (plan parity between batch and streaming).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import md5_prefix_long
from ..operators.postings import FIELD_CONTENT, build_docs, build_postings, doclens_from_docs
from ..operators.postings import collection_stats
from ..schema import CORPUS_SCHEMA


def _stream_doc_key():
    """Natural streamed doc identity: md5-prefix long of repo/path (dense ids
    are impossible mid-stream — future files unknown)."""
    return md5_prefix_long(F.concat_ws("/", "repo", "path"))


def stream_postings(
    spark: SparkSession,
    corpus_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_key",
):
    """Start (and return) a streaming query appending postings parquet.

    Streaming doc identity: global sort-based ids are impossible mid-stream
    (future files unknown), so the stream keys postings by the natural key
    md5(repo/path) — the same determinism the batch path gets from dense rank;
    a compaction job can remap to dense ids later.
    """
    src = spark.readStream.schema(CORPUS_SCHEMA).parquet(corpus_dir)

    def process(batch: DataFrame, epoch_id: int) -> None:
        import os

        docs = batch.withColumn("doc_id", _stream_doc_key())
        postings = build_postings(docs, fields={FIELD_CONTENT: "content"})
        # idempotent per-epoch commit: a crash AFTER this write but BEFORE
        # the checkpoint records the epoch re-runs process() with the SAME
        # epoch_id on restart — overwrite replaces the orphaned copy, where
        # a flat append would double every posting of that batch (and the
        # compacted store would double tf/df)
        postings.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"epoch={int(epoch_id)}"))

    return (
        src.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def compact_streamed_postings(
    spark: SparkSession,
    corpus_dir: str,
    postings_dir: str,
    num_shards: int = 3,
    block_size: int = 128,
) -> DataFrame:
    """The promised dense-id remap + segment encode for a streamed postings
    sink: once the corpus directory is complete (or at a compaction point),
    remap the stream's md5-key doc ids to the batch path's dense ranks and
    encode the SAME compressed segment store a batch build would produce
    (tests/test_streaming_multimodal.py asserts block-level equality).

    Plan shape: one scan of the corpus for the (hash_id → doc_id, doclen)
    mapping, one hash join against the streamed postings on hash_id, then the
    standard single-wide-exchange segment encode. The join key is the md5
    hash — uniformly distributed, no skew salting needed.
    """
    docs = build_docs(spark.read.parquet(corpus_dir), num_shards=num_shards)
    blocks, _cstats = _compact_parts(spark, docs, postings_dir, num_shards, block_size)
    return blocks.drop("tb")


def _compact_parts(spark, docs, postings_dir, num_shards, block_size):
    """(encode_segments blocks, cstats rows) for a compaction over the
    stream's docs table — one docs plan shared by the segment encode,
    cstats and, in compact_to_store, the docs write (which caches docs
    first, so the corpus scan + dense-rank sort run once)."""
    from ..operators.segments import encode_segments

    mapping = docs.select(_stream_doc_key().alias("hash_id"), "doc_id")
    # recursiveFileLookup: the sink is epoch-partitioned for idempotent
    # retries (stream_postings); read the files flat so no epoch column
    # rides into the postings schema
    streamed = spark.read.option("recursiveFileLookup", "true").parquet(postings_dir)
    remapped = (
        streamed.withColumnRenamed("doc_id", "hash_id")
        .join(mapping, "hash_id")
        .drop("hash_id")
    )
    dstats = doclens_from_docs(docs, fields={FIELD_CONTENT: "content"})
    # collected once: the avgdl baked into max_impact and cstats.json are
    # then the same values by construction
    cstats = [r.asDict() for r in collection_stats(dstats).collect()]
    blocks = encode_segments(remapped, dstats, cstats, num_shards=num_shards,
                             block_size=block_size)
    return blocks, cstats


def compact_to_store(
    spark: SparkSession,
    corpus_dir: str,
    postings_dir: str,
    out_dir: str,
    num_shards: int = 3,
    block_size: int = 128,
) -> None:
    """Compaction point → a full SERVABLE store: the streamed micro-batches
    become the same on-disk layout a batch build writes (docs +
    tb-partitioned segments + tstats dictionary + cstats.json), ready for
    SegmentSearcher.open_local and plans.merge.merge_many. This is the glue
    of the ES freshness analogue (Refresh:"true",
    crawler/functs_with_elastic.go:321): stream all day, compact, merge into
    the served store — tests/test_streaming_multimodal.py drives the whole
    chain through a live HTTP server without restart."""
    import json
    import os

    from ..plans.build_index import write_segments, write_tstats

    os.makedirs(out_dir, exist_ok=True)
    docs = build_docs(spark.read.parquet(corpus_dir), num_shards=num_shards).persist()
    blocks, cstats = _compact_parts(spark, docs, postings_dir, num_shards, block_size)
    blocks = blocks.persist()
    write_segments(blocks, os.path.join(out_dir, "segments/unit=0"))
    write_tstats(blocks, os.path.join(out_dir, "tstats"))
    docs.write.mode("overwrite").parquet(os.path.join(out_dir, "docs/unit=0"))
    # cstats.json must be EXACTLY what the encoder baked into max_impact
    # (a diverging avgdl would shift recomputed scores a ULP off the stored
    # block bounds) — the same collected rows
    with open(os.path.join(out_dir, "cstats.json"), "w") as f:
        json.dump(cstats, f)
    with open(os.path.join(out_dir, "store_meta.json"), "w") as f:
        json.dump({"num_shards": num_shards, "sharding": "mod",
                   "block_size": block_size}, f)
    blocks.unpersist()
    docs.unpersist()
