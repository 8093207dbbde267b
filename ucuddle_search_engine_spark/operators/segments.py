"""Compressed segment store: the engine's native replacement for the Lucene
segments the reference gets from Elasticsearch (index creation at
crawler/functs_with_elastic.go:208-243; shard count :75).

Layout (SURVEY.md §4.3 custom #2, BASELINE.json north_star):
- **document-sharded** — shard = pmod(doc_id, S), the ES number_of_shards
  model. Every query term's postings for a given doc live in the same shard,
  so per-shard top-k (WAND) needs no cross-shard traffic and the global answer
  is a k-way merge of per-shard top-k, exactly ES scatter-gather.
- per (shard, term): doc-ordered blocks of ≤ block_size postings, each block a
  row: delta+varbyte doc ids, varbyte tfs, varbyte doclens, and block-max
  metadata (max_impact = max BM25 tf-norm in block, idf excluded) for WAND.
- persisted as parquet partitioned by `tb` (md5 term bucket), rows sorted by
  (term, field, shard, block_no) within files → directory pruning on tb +
  row-group min/max pruning on term make a term lookup a pruned scan
  (pushdown via layout, §4.1).

Scale posture: the encode exchange keys on tb, the same key the store is
partitioned by, so the written layout costs no second exchange. A head
term's postings stay in one task but are never materialized as one array:
the encoder streams the sorted run and carries at most one doc-range chunk
(block_size·BLOCKS_PER_CHUNK postings) between Arrow batches.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import TERM_BUCKETS, term_bucket_col
from ..functions.varbyte import vb_encode_with_offsets
from .bm25 import B, K1

DEFAULT_BLOCK = 128

SEGMENT_COLS = (
    "shard int, term string, field int, block_no long, n int, min_doc long, max_doc long, "
    "doc_bytes binary, tf_bytes binary, dl_bytes binary, max_tf long, max_impact double"
)


#: encode_segments output: the block rows plus their `tb` term bucket
ENCODED_COLS = "tb int, " + SEGMENT_COLS
#: blocks per doc-range chunk: block_no = chunk·BLOCKS_PER_CHUNK + block index
#: within the (shard, term, field, chunk) group. Blocks restart at chunk
#: boundaries, so a group never holds more than block_size·BLOCKS_PER_CHUNK
#: postings — the encoder's carry between Arrow batches stays bounded even
#: for a Zipf-head term
BLOCKS_PER_CHUNK = 512


def tb_partitioned(df: DataFrame) -> DataFrame:
    """Hash-partition on the `tb` term bucket for a tb-partitioned write.
    The explicit width (≤ TERM_BUCKETS: more partitions would stay empty)
    keeps AQE from coalescing the stage onto one task; each tb still lands
    in exactly one partition, so the write leaves one file per tb."""
    width = min(TERM_BUCKETS, df.sparkSession.sparkContext.defaultParallelism)
    return df.repartition(max(1, width), "tb")


def field_avgdl(cstats) -> dict[int, float]:
    """{field: avgdl} from collection stats given as a DataFrame (one small
    collect) or as already-collected rows/dicts."""
    rows = cstats.collect() if isinstance(cstats, DataFrame) else cstats
    return {int(r["field"]): float(r["avgdl"]) for r in rows}


def encode_segments(
    postings: DataFrame,
    dstats: DataFrame | None,
    cstats,
    num_shards: int = 3,
    block_size: int = DEFAULT_BLOCK,
) -> DataFrame:
    """postings (term, doc_id, field, tf[, doclen]) → compressed block rows
    with their `tb` term bucket (ENCODED_COLS), hash-partitioned by `tb` and
    ordered (tb, term, field, shard, block_no) inside each partition — the
    order the store writes, so a writer adds no exchange of its own.

    Plan: ONE exchange on tb, a (tb, term, field, shard, doc_id) sort, and a
    streaming mapInArrow encoder that cuts blocks out of the sorted run —
    no per-group arrays are built on the JVM side.

    avgdl/doclen are folded in at build time so each block row carries its own
    exact max_impact (tf_norm is monotone ↑ in tf and ↓ in doclen, but we take
    the max over the *actual* per-posting tf_norm — a tight bound). cstats is
    a DataFrame or collected rows (field_avgdl); postings of a field without
    collection stats are dropped, as an inner join on field would.

    If postings already carry doclen (build_postings_fast), the doc-stats join
    is skipped entirely.
    """
    if "doclen" not in postings.columns:
        postings = postings.join(dstats, ["doc_id", "field"])
    avgdl = field_avgdl(cstats)
    src = tb_partitioned(
        postings.filter(F.col("field").isin(list(avgdl))).select(
            term_bucket_col("term").alias("tb"),
            F.pmod(F.col("doc_id"), F.lit(num_shards)).cast("int").alias("shard"),
            "term", "field", "doc_id", "tf", "doclen",
        )
    ).sortWithinPartitions("tb", "term", "field", "shard", "doc_id")
    return src.mapInArrow(_encoder(avgdl, block_size), schema=ENCODED_COLS)


def build_segments(
    postings: DataFrame,
    dstats: DataFrame | None,
    cstats,
    num_shards: int = 3,
    block_size: int = DEFAULT_BLOCK,
) -> DataFrame:
    """postings → compressed block rows (SEGMENT_COLS); encode_segments
    without the `tb` column."""
    return encode_segments(postings, dstats, cstats, num_shards, block_size).drop("tb")


def _encoder(avgdl: dict[int, float], block_size: int):
    """Streaming mapInArrow encoder over postings sorted by (tb, term, field,
    shard, doc_id). A (shard, term, field, chunk) group is a contiguous run;
    the run still open at a batch's end is carried into the next batch.
    Per flushed slice: numpy block boundaries, ONE varbyte pass per stream,
    and per-block byte columns emitted as Arrow BinaryArrays whose offsets
    index the one encoded buffer — no per-block bytes objects."""
    chunk_span = block_size * BLOCKS_PER_CHUNK

    def group_starts(batch) -> np.ndarray:
        import pyarrow.compute as pc

        n = batch.num_rows
        change = np.ones(n, dtype=bool)
        if n > 1:
            term = batch.column("term")
            change[1:] = pc.not_equal(term.slice(1), term.slice(0, n - 1)).to_numpy(
                zero_copy_only=False)
            for name in ("field", "shard"):
                v = batch.column(name).to_numpy()
                change[1:] |= v[1:] != v[:-1]
            chunk = batch.column("doc_id").to_numpy() // chunk_span
            change[1:] |= chunk[1:] != chunk[:-1]
        return np.flatnonzero(change)

    def encode_slice(batch, gstarts: np.ndarray):
        import pyarrow as pa

        n = batch.num_rows
        docs = batch.column("doc_id").to_numpy().astype(np.int64)
        tfs = batch.column("tf").to_numpy().astype(np.int64)
        dls = batch.column("doclen").to_numpy().astype(np.int64)
        fields = batch.column("field").to_numpy()
        av = np.empty(n, dtype=np.float64)
        for f, a in avgdl.items():
            av[fields == f] = a
        impacts = tfs / (tfs + K1 * (1 - B + B * dls / av))

        lens = np.diff(np.append(gstarts, n))
        block_in_group = (np.arange(n) - np.repeat(gstarts, lens)) // block_size
        blk_change = np.zeros(n, dtype=bool)
        blk_change[gstarts] = True
        blk_change[1:] |= block_in_group[1:] != block_in_group[:-1]
        bstarts = np.flatnonzero(blk_change)
        bends = np.append(bstarts[1:], n)  # exclusive

        deltas = docs.copy()
        deltas[1:] -= docs[:-1]
        deltas[bstarts] = docs[bstarts]  # absolute restart → self-contained blocks
        dbuf, doffs = vb_encode_with_offsets(deltas.astype(np.uint64))
        tbuf, toffs = vb_encode_with_offsets(tfs.astype(np.uint64))
        lbuf, loffs = vb_encode_with_offsets(dls.astype(np.uint64))

        def bin_col(buf: np.ndarray, offs: np.ndarray) -> "pa.Array":
            # blocks cover [0, n) contiguously, so the per-block byte
            # ranges are one offsets array over the single encoded buffer
            edges = np.ascontiguousarray(offs[np.append(bstarts, n)], dtype=np.int32)
            return pa.Array.from_buffers(
                pa.binary(), len(bstarts),
                [None, pa.py_buffer(edges), pa.py_buffer(np.ascontiguousarray(buf, dtype=np.uint8))],
            )

        first = pa.array(bstarts)
        return pa.record_batch(
            [
                batch.column("tb").take(first),
                batch.column("shard").take(first),
                batch.column("term").take(first),
                batch.column("field").take(first),
                # long, NOT int32: block_no ~ doc_id / block_size, so an
                # int32 silently wraps past doc_id ≈ 2.7e11 — inside the
                # 10^12-doc posture ids.py targets — and a wrapped block_no
                # re-orders the chain sort, corrupting the delta-decode
                # (docs out of order, no error raised)
                pa.array((docs[bstarts] // chunk_span * BLOCKS_PER_CHUNK
                          + block_in_group[bstarts]).astype(np.int64)),
                pa.array((bends - bstarts).astype(np.int32)),
                pa.array(docs[bstarts]),
                pa.array(docs[bends - 1]),
                bin_col(dbuf, doffs),
                bin_col(tbuf, toffs),
                bin_col(lbuf, loffs),
                pa.array(np.maximum.reduceat(tfs, bstarts)),
                pa.array(np.maximum.reduceat(impacts, bstarts)),
            ],
            names=["tb", "shard", "term", "field", "block_no", "n", "min_doc", "max_doc",
                   "doc_bytes", "tf_bytes", "dl_bytes", "max_tf", "max_impact"],
        )

    def encode(batches: "Iterator") -> "Iterator":
        import pyarrow as pa

        carry = None
        for batch in batches:
            if batch.num_rows == 0:
                continue
            if carry is not None:
                batch = pa.Table.from_batches([carry, batch]).combine_chunks().to_batches()[0]
            gstarts = group_starts(batch)
            last = int(gstarts[-1])
            if last:
                yield encode_slice(batch.slice(0, last), gstarts[gstarts < last])
            carry = batch.slice(last)
        if carry is not None:
            yield encode_slice(carry, group_starts(carry))

    return encode


def decode_segment_rows(rows: pd.DataFrame) -> pd.DataFrame:
    """Inverse of build_segments for one (shard, term, field): block rows →
    (doc_id, tf, doclen) posting frame. Used by WAND and round-trip tests."""
    from ..functions.varbyte import decode_doc_ids_concat, vb_decode_concat

    rows = rows.sort_values("block_no")
    docs = decode_doc_ids_concat(list(rows["doc_bytes"]))[0]
    tfs = vb_decode_concat(list(rows["tf_bytes"]))[0]
    dls = vb_decode_concat(list(rows["dl_bytes"]))[0]
    return pd.DataFrame({"doc_id": docs.astype(np.int64), "tf": tfs.astype(np.int64), "doclen": dls.astype(np.int64)})
