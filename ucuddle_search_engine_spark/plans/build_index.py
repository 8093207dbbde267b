"""Checkpoint-resumable index build with per-partition lineage + metrics.

This is the Spark-side re-creation of the reference's work-queue protocol:
the ES queue rows carry (link_id, taken, parsed) flags
(elastic-interaction/elastic_settings.go:106-126), crawlers claim batches
(task-manager/task_manager.py:54-94 sets taken=true), mark them parsed after
insert (crawler/main.go:305), and a restart resumes from unparsed rows
(helper_notes.txt:13-15). Here:

- the corpus is split into WORK UNITS by a deterministic hash of `repo`
  (pmod(md5-prefix, n_units)) — stable across runs and partition counts;
- manifest.jsonl rows: (partition_id, input_fingerprint, status, docs, terms,
  bytes, wall_ms, and rows + wall ms of each write: docs_rows/docs_ms,
  postings_rows/postings_ms, segments_rows/segments_ms) — `status` ∈
  pending|taken|parsed mirrors the reference's boolean pair; the manifest
  file is committed atomically (tmp + rename);
- each unit's docs/segments go to their own subdirectory written with
  overwrite → idempotent commit (a re-run replaces, never duplicates);
- resume = skip units whose manifest row is parsed AND whose input
  fingerprint still matches (anti-join semantics of F2/F3).

Work layout per run — the driver never re-reads or re-counts what it has
just computed:
  pass 0 (global, deterministic): doc ids (operators/ids), then docs are
         range-partitioned by (unit, doc_id) and cached. ONE aggregation
         over the cache yields every unit's fingerprint and doc count plus
         the per-field token sums that give the collection stats (N, avgdl)
         — corpus-global for BM25/max_impact, exactly like ES keeps
         index-level stats; recomputing on resume is safe because the pass
         is a pure function of the corpus (the reference analogously
         re-reads its id counter on restart, task-manager/task_manager.py:
         123-129);
  per unit: each written output costs one exchange at most —
         positional sidecar (tb exchange, sort, write), docs (no exchange),
         segments (encode_segments: tb exchange, sort, streaming encode,
         write; from the sidecar read back, so each doc is tokenized once).
         Row counts, the approximate distinct term count and wall times come
         from DataFrame.observe on the writes, not from counting jobs;
  post:  global term stats (df = Σ block n per term) from a column-pruned
         read of the segment store, aggregated inside the one tb exchange
         of the tstats write.
  Read-backs carry the schema they were written with and list their
  directories on the driver (no schema-inference or listing jobs).

A killed build rerun produces identical index content to an uninterrupted one
(tests/test_resume.py). The driver loop iterates unit ids only — O(units).
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions.analyze import tokenize_col
from ..functions.hashing import TERM_BUCKETS, md5_prefix_long, term_bucket_col  # noqa: F401
from ..operators.postings import FIELD_CONTENT, FIELD_TITLE, build_docs, build_postings_fast
from ..operators.segments import ENCODED_COLS, encode_segments, tb_partitioned
from ..operators.wand import SegmentSearcher
#: parquet row-group target for segments/postings writes: ~1 MiB keeps each
#: term's rows in a skippable run (row-group min/max pruning actually fires)
#: while staying far above the footer-overhead floor for full scans
SEG_ROW_GROUP_BYTES = 1 << 20

# --- auto shard count ----------------------------------------------------
# The reference pins 3 primary shards (ES number_of_shards,
# elastic-interaction/elastic_settings.go) for a corpus that never outgrows
# one box. At engine scale the shard is the unit of BOTH query parallelism
# (search_local scores shards concurrently; a cluster scatter-gathers them)
# and head-query latency: an exhaustive TAAT disjunction is linear in
# per-shard postings, so a fixed shard count makes head latency linear in
# corpus size (measured 23 ms @1M → 117 ms @5M on 3 shards). Bounding DOCS
# PER SHARD instead keeps per-shard work ~constant and lets the scoring
# pool/cluster absorb growth — the ES "size shards, not shard counts"
# operating rule. The cap bounds per-query fan-out on one box; a multi-box
# deployment shards across machines first and raises it.
DOCS_PER_SHARD = 500_000
MAX_AUTO_SHARDS = 96


def auto_num_shards(n_docs: int) -> int:
    """Shard count for `num_shards="auto"`: ceil(n_docs / DOCS_PER_SHARD),
    clamped to [3, MAX_AUTO_SHARDS]. Rankings are shard-count-independent
    (BM25 uses collection-global stats; per-shard top-k merge is exact), so
    this is a purely physical choice."""
    return max(3, min(MAX_AUTO_SHARDS, -(-int(n_docs) // DOCS_PER_SHARD)))


def write_tstats(blocks: DataFrame, path: str) -> None:
    """Aggregate term stats from segment block rows (term, field, n[, tb]) —
    df = Σ n per (term, field) — and write the dictionary in the
    vocabulary-scale layout to `path` (a store's tstats directory):

    - `tb` (md5 term bucket, same hash as the segment store) as a PARTITION
      directory — an exact-term lookup prunes to |q| of 64 directories before
      any row is read;
    - rows sorted by (term, field) within each bucket — parquet row-group
      min/max statistics prune the scan inside a directory too;
    - `p1` (first character) as a stored column — the fuzzy-expansion prefix
      band (ES `prefix_length`): a fuzzy query filters p1 at the scan before
      any levenshtein is evaluated;
    - `tlen` (char length) + `bagsig` (packed 16-nibble character-bag
      signature, operators/fuzzy.py) — fuzzy's |len−len(q)| ≤ d band becomes
      a PUSHED range predicate and the bag-distance ≤ 2d prefilter becomes
      columnar numpy over scan output, instead of a Python pass over the
      first-char bucket's vocabulary (the 5M-doc cold-fuzzy bottleneck).

    The aggregation runs inside the write's one tb exchange: hash
    partitioning on tb already clusters every (tb, term, field) group.

    This is what lets a 10⁸–10⁹-term vocabulary be served without ever
    materializing the dictionary (SegmentSearcher.open_local is lazy over this
    layout; cold terms cost one pruned read, not a full tstats scan)."""
    from ..operators.fuzzy import bag_signature_col

    tb = F.col("tb") if "tb" in blocks.columns else term_bucket_col("term")
    (
        tb_partitioned(blocks.select(tb.alias("tb"), "term", "field", "n"))
        .groupBy("tb", "term", "field")
        .agg(F.sum("n").alias("df"))
        .select(
            "term", "field", "df", "tb",
            F.substring("term", 1, 1).alias("p1"),
            F.length("term").alias("tlen"),
            bag_signature_col(F.col("term")).alias("bagsig"),
        )
        .sortWithinPartitions("tb", "term", "field")
        .write.mode("overwrite")
        .partitionBy("tb")
        .parquet(path)
    )


def _swap_upgraded(path: str) -> None:
    """Publish <path>.upgrade as <path> (original parked at .pre_upgrade,
    removed on success). NOT atomic: POSIX cannot exchange two directories
    in one step, so there is a window between the two renames where the
    live path is missing. _finish_interrupted_swap undoes exactly that
    window, and both upgrade entry points call it first — so a crash is
    healed by simply re-running the upgrade command."""
    import shutil

    old = path + ".pre_upgrade"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    os.rename(path + ".upgrade", path)
    shutil.rmtree(old)


def _finish_interrupted_swap(path: str) -> None:
    """Heal a crash inside _swap_upgraded's window: the live path exists →
    drop any stale parked original (publish completed; a .upgrade there is
    an ABORTED WRITE, cleaned by the caller's rmtree). Live path missing: a
    complete upgraded copy at .upgrade is published (it was fully written
    before the first rename could run); otherwise the parked original at
    .pre_upgrade is restored."""
    import shutil

    if os.path.exists(path):
        # publish completed; a crash before the final cleanup can leave the
        # parked original behind — and since the store now reads as current,
        # no later upgrade would ever reclaim that full-unit copy of disk
        shutil.rmtree(path + ".pre_upgrade", ignore_errors=True)
        return
    tmp, old = path + ".upgrade", path + ".pre_upgrade"
    if os.path.isdir(tmp):
        os.rename(tmp, path)
        shutil.rmtree(old, ignore_errors=True)
    elif os.path.isdir(old):
        os.rename(old, path)


def upgrade_tstats(spark: SparkSession, store_dir: str) -> bool:
    """Schema-evolve a written store's term dictionary in place: recompute
    the derived tstats columns (p1/tlen/bagsig) for stores built before they
    existed — the ES reindex-on-mapping-change admin dance
    (elastic-interaction/elastic_settings.go:35-92), scoped to the
    vocabulary-sized dictionary only (segments/docs untouched). Returns True
    if a rewrite happened. Write-to-sibling + rename; a crash mid-WRITE
    leaves the original dictionary intact, and a crash inside the two-rename
    publish window is healed on the next call (_finish_interrupted_swap)."""
    import shutil

    path = os.path.join(store_dir, "tstats")
    _finish_interrupted_swap(path)
    cur = spark.read.parquet(path)
    if "bagsig" in cur.columns:
        return False
    tmp = path + ".upgrade"
    shutil.rmtree(tmp, ignore_errors=True)
    # one row per (term, field): summing df as the block count n leaves it
    # unchanged, and write_tstats recomputes tb/p1/tlen/bagsig and the sort
    write_tstats(cur.select("term", "field", F.col("df").alias("n")), tmp)
    _swap_upgraded(path)
    return True


def upgrade_segments_layout(spark: SparkSession, store_dir: str,
                            force: bool = False) -> int:
    """Rewrite a written store's segments (and positional sidecar) into the
    term-major / small-row-group layout in place — the ES force-merge /
    reindex admin analogue for stores built before SEG_ROW_GROUP_BYTES
    existed, whose shard-major single-row-group files defeat term pruning
    (see the build-time write comment). Content is untouched: the same block
    rows, re-sorted and re-chunked; rankings are physical-order-independent.
    Returns the number of unit directories rewritten. Idempotent: a unit
    whose first data file already has >1 row group (or is term-major tiny)
    is skipped unless force=True. Per-unit write-to-sibling + rename: a
    crash mid-write leaves that unit old-layout; a crash inside a unit's
    two-rename publish window is healed when the upgrade is re-run
    (_finish_interrupted_swap) — no unit is ever half-written."""
    import glob as _glob
    import shutil

    def _needs_upgrade(unit_path: str) -> bool:
        import pyarrow.parquet as pq

        files = sorted(_glob.glob(os.path.join(unit_path, "tb=*", "*.parquet")))
        if not files:
            return False
        md = pq.ParquetFile(files[0]).metadata
        return md.num_row_groups == 1 and \
            md.row_group(0).total_byte_size > 4 * SEG_ROW_GROUP_BYTES

    done = 0
    for rel, write in (("segments", lambda df, p: write_segments(tb_partitioned(df), p)),
                       ("postings", write_postings_sidecar)):
        root = os.path.join(store_dir, rel)
        if not os.path.isdir(root):
            continue
        for unit in sorted(os.listdir(root)):
            unit_path = os.path.join(root, unit)
            if not (unit.startswith("unit=") and os.path.isdir(unit_path)):
                continue
            _finish_interrupted_swap(unit_path)
            if not force and not _needs_upgrade(unit_path):
                continue
            tmp = unit_path + ".upgrade"
            shutil.rmtree(tmp, ignore_errors=True)
            write(spark.read.parquet(unit_path), tmp)
            _swap_upgraded(unit_path)
            done += 1
    return done


def _unit_col(n_units: int):
    return F.pmod(md5_prefix_long("repo"), F.lit(n_units)).cast("int")


def _key_hash():
    # decimal(38,0) sum: exact + order-insensitive + overflow-free up to
    # ~8e19 rows of 60-bit values (a plain long sum overflows under ANSI)
    return md5_prefix_long(F.concat_ws("/", "repo", "path", "commit")).cast("decimal(38,0)")


def _fingerprint(corpus_unit: DataFrame) -> str:
    """Order-insensitive fingerprint of the unit's (repo, path, commit) set:
    count + sum of 60-bit md5 prefixes — a map-side-combined aggregate
    (O(1) driver data, no collect_list of the whole unit; the previous
    sort-and-sha form shipped every key to one reducer)."""
    row = corpus_unit.agg(F.count("*").alias("n"), F.sum(_key_hash()).alias("s")).first()
    if not row["n"]:
        return "empty"
    return f"{row['n']}-{int(row['s']):x}"


def _field_stat_aggs(analyzer=None) -> list:
    """Per-field (docs with ≥1 token, Σ tokens) aggregate columns c0/l0
    (content: docs.doclen) and c1/l1 (title, analyzed here)."""
    ttoks = analyzer.tokens_col("title") if analyzer is not None else tokenize_col("title")
    out = []
    for i, dl in enumerate((F.col("doclen"), F.size(ttoks).cast("long"))):
        pos = F.when(dl > 0, dl)
        out += [F.count(pos).alias(f"c{i}"), F.sum(pos).alias(f"l{i}")]
    return out


def _cstats_rows(c0: int, l0: int, c1: int, l1: int) -> list[dict]:
    """(field, n_docs, avgdl) rows with operators.postings.collection_stats
    semantics (docs with ≥1 token). avgdl = Σ doclen / n in double, which is
    what Spark's avg computes: an integer sum below 2^53 is exact in double
    whatever the summation order, so the value is bit-identical to avg().
    Title first: the row order collection_stats' groupBy leaves in
    cstats.json."""
    rows = []
    for field, c, tot in ((FIELD_TITLE, c1, l1), (FIELD_CONTENT, c0, l0)):
        if c:
            rows.append({"field": field, "n_docs": int(c), "avgdl": float(tot) / float(c)})
    return rows


def _field_stats(docs: DataFrame, analyzer=None) -> list[dict]:
    """Collection stats rows over the whole docs table in one aggregation."""
    r = docs.agg(*_field_stat_aggs(analyzer)).first()
    return _cstats_rows(r["c0"], r["l0"] or 0, r["c1"], r["l1"] or 0)


def _unit_stats(docs: DataFrame, n_units: int, analyzer=None):
    """Every unit's fingerprint (count + sum of 60-bit md5 prefixes, the
    _fingerprint formula) and doc count, plus the corpus-global collection
    stats rows, from ONE grouped aggregation over `docs`. The per-unit
    filter-and-aggregate variant launched n_units full corpus scans — at
    100 TB × 64 units that is 64 corpus reads before any build work.
    Returns (fingerprints, docs per unit, cstats rows)."""
    rows = docs.groupBy("_unit").agg(
        F.count("*").alias("n"), F.sum(_key_hash()).alias("s"), *_field_stat_aggs(analyzer)
    ).collect()
    by_unit = {int(r["_unit"]): r for r in rows}
    fps = {pid: f"{by_unit[pid]['n']}-{int(by_unit[pid]['s']):x}" if pid in by_unit else "empty"
           for pid in range(n_units)}
    n_docs = {pid: int(by_unit[pid]["n"]) if pid in by_unit else 0 for pid in range(n_units)}
    tot = [sum(r[k] or 0 for r in rows) for k in ("c0", "l0", "c1", "l1")]
    return fps, n_docs, _cstats_rows(*tot)


@contextmanager
def _driver_listing(spark: SparkSession):
    """List directories on the driver while opening a store read-back.
    Spark lists in a parallel job above parallelPartitionDiscovery.threshold
    (32) paths, and every store output has 64 tb directories per unit: that
    job costs ~0.5 s per read-back, a local-disk walk a few ms. (The build
    writes through the local filesystem anyway: os.makedirs, manifest,
    os.walk byte counts.)"""
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    old = spark.conf.get(key)
    spark.conf.set(key, str(2**31 - 1))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _read_back(spark: SparkSession, path: str, schema) -> DataFrame:
    """Re-open an output this process has just written: with the schema it
    was written with (no footer-reading inference job) and a driver-side
    listing (_driver_listing)."""
    with _driver_listing(spark):
        return spark.read.schema(schema).parquet(path)


def _observed_write(write, df: DataFrame, *metrics) -> dict:
    """Run write(df) with its row count (`rows`) and any extra aggregate
    `metrics` observed on the rows written (DataFrame.observe: collected
    by the write job itself, no extra job), plus its wall time (`ms`)."""
    obs = Observation()
    t0 = time.perf_counter()
    write(df.observe(obs, F.count(F.lit(1)).alias("rows"), *metrics))
    ms = int((time.perf_counter() - t0) * 1000)
    return {**obs.get, "ms": ms}


def write_postings_sidecar(postings: DataFrame, path: str) -> None:
    """Positional postings sidecar (Lucene's .pos analogue) in the tb layout
    of segments/tstats: a phrase/highlight lookup prunes to |q| of 64
    directories and term-sorted ~1 MiB row groups instead of footer-scanning
    every file. postings carry a `tb` column (term_bucket_col)."""
    (
        tb_partitioned(postings)
        .sortWithinPartitions("tb", "term", "doc_id")
        .write.mode("overwrite")
        .option("parquet.block.size", SEG_ROW_GROUP_BYTES)
        .partitionBy("tb")
        .parquet(path)
    )


def write_segments(blocks: DataFrame, path: str) -> None:
    """Write encode_segments output as one tb-partitioned store directory.
    Layout-as-pushdown, two levels: tb = md5-hash bucket of the term as a
    PARTITION column (directory pruning: a query term touches
    1/TERM_BUCKETS of the files) + TERM-MAJOR sorted rows in SMALL row
    groups. Both halves matter: the original shard-major sort spread every
    term across the whole file and Spark's default 128 MB parquet block made
    each file ONE row group, so the term min/max stats spanned the full
    bucket and a serving-tier chain read decompressed the entire bucket for
    any term in it (a 58-term fuzzy expansion at 5M docs read ~5 GB to
    extract 317 MB of chains). Term-major + ~1 MiB row groups give each term
    a contiguous row-group run that pyarrow's stats pruning actually skips
    to — the same treatment tstats got in round 4 (BENCH/vocab_lookup.json).

    encode_segments already partitions by tb and emits rows in this order;
    the sort here only states it, so the writer adds no sort or exchange of
    its own (mapInArrow output carries no ordering). tb leads every store
    sort: the writer needs its partition column sorted first, and Catalyst's
    EliminateSorts would otherwise drop a term-only sort and re-sort by tb
    alone (observed: term runs scattered again)."""
    (
        blocks.sortWithinPartitions("tb", "term", "field", "shard", "block_no")
        .write.mode("overwrite")
        .option("parquet.block.size", SEG_ROW_GROUP_BYTES)
        .partitionBy("tb")
        .parquet(path)
    )


def write_store_tstats(spark: SparkSession, out_dir: str) -> None:
    """A written store's term stats from its own segment store (a
    column-pruned read-back of the block rows; no decode)."""
    blocks = _read_back(spark, os.path.join(out_dir, "segments"), f"{ENCODED_COLS}, unit int")
    write_tstats(blocks, os.path.join(out_dir, "tstats"))


class BuildManifest:
    def __init__(self, path: str):
        self.path = path
        self.rows: dict[int, dict] = {}
        if os.path.exists(path):
            with open(path) as f:
                for line in f:
                    r = json.loads(line)
                    self.rows[r["partition_id"]] = r

    def status(self, pid: int) -> str:
        return self.rows.get(pid, {}).get("status", "pending")

    def fingerprint(self, pid: int) -> str | None:
        return self.rows.get(pid, {}).get("input_fingerprint")

    def mark(self, pid: int, **kw) -> None:
        row = self.rows.get(pid, {"partition_id": pid})
        row.update(kw)
        self.rows[pid] = row
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            for r in sorted(self.rows.values(), key=lambda x: x["partition_id"]):
                f.write(json.dumps(r) + "\n")
        os.replace(tmp, self.path)  # atomic manifest commit


def build_index_resumable(
    spark: SparkSession,
    corpus: DataFrame,
    out_dir: str,
    n_units: int = 8,
    num_shards: int | str = 3,
    block_size: int = 128,
    fail_after_units: int | None = None,
    write_postings: bool = False,
    scale_ids: bool | str = "prefix",
    analyzer=None,
    ingest_ts=None,
) -> dict:
    """Build docs + segments + stats under out_dir, unit by unit, resumably.

    fail_after_units simulates a mid-build crash (tests). Returns metrics.
    scale_ids: id-assignment mode (operators/ids). Default 'prefix' — the
    distributed dense rank. The 'sort' oracle path funnels the WHOLE corpus
    through one window task AND leaves docs single-partition, crippling every
    downstream per-unit job; both paths produce identical ids (test_ids).

    Manifest `terms` is the approximate distinct term count of the unit's
    segment rows (approx_count_distinct, observed on the write; exact
    DISTINCT aggregates cannot be observed).
    """
    os.makedirs(out_dir, exist_ok=True)
    manifest = BuildManifest(os.path.join(out_dir, "manifest.jsonl"))

    # one count up front — parquet sources answer it from footer metadata —
    # sizes the id sampling, the auto shard count and the docs slices below
    n_rows = corpus.count()
    if num_shards == "auto":
        # bounded docs-per-shard (see auto_num_shards); it must precede
        # build_docs, which assigns the shard column
        num_shards = auto_num_shards(n_rows)

    # pass 0: global deterministic ids + collection stats
    docs = build_docs(corpus, num_shards=num_shards, scale_ids=scale_ids, analyzer=analyzer,
                      ingest_ts=ingest_ts, n_rows=n_rows).withColumn(
        "_unit", _unit_col(n_units)
    )
    # r7 droop fix: partition the persisted docs by (_unit, doc_id range) so
    # every cached batch holds ONE unit. The per-unit jobs filter on _unit,
    # and Spark's in-memory batch-stat pruning then skips every other unit's
    # batches — without this, EVERY per-unit job (docs write, segments,
    # sidecar) re-scanned the whole corpus-sized cache, an
    # O(n_units × corpus) total that grew the 5M build superlinearly
    # (BENCH/scale_curve.json build_throughput_ratio_5m_vs_1m 0.72 in r6).
    # defaultParallelism slices per unit keep each unit's slice as wide as
    # the box. Doc ids are dense in [0, n_rows), so the slice of a doc is
    # its id's share of that range: exact partition ids, no sampling pass
    # over the corpus (repartitionByRange ran one, recomputing every
    # projection above).
    par = spark.sparkContext.defaultParallelism
    slice_ = F.expr(f"(doc_id * {par}) div {max(n_rows, 1)}")
    docs = docs.repartitionById(
        n_units * par, (F.col("_unit") * par + slice_).cast("int")
    ).persist()
    # materializes the cache; fingerprints, unit sizes and cstats in one job
    fps, unit_docs, cstats = _unit_stats(docs, n_units, analyzer=analyzer)
    if analyzer is not None:
        # persist the analyzer config so the QUERY side analyzes identically
        # after reload — the search_analyzer == index analyzer pin for stores
        from dataclasses import asdict

        with open(os.path.join(out_dir, "analyzer.json"), "w") as f:
            json.dump(asdict(analyzer), f)

    done = 0
    t0 = time.time()
    # Resume safety: doc ids are a corpus-global dense rank and cstats are
    # corpus-global (baked into stored max_impact), so a CHANGED corpus makes
    # every previously-built unit stale, not just the changed ones. All unit
    # fingerprints are known up front; skip-on-resume is only allowed when the
    # WHOLE corpus is unchanged (identical-corpus crash-resume). Any mismatch
    # → invalidate and rebuild all units.
    # the stored layout is (corpus content × shard/block geometry): a resume
    # with a different num_shards/block_size must NOT skip "parsed" units
    # built under the old geometry — bake the geometry into the fingerprint
    fps = {pid: f"{fp}-s{num_shards}b{block_size}" for pid, fp in fps.items()}
    corpus_changed = any(
        manifest.fingerprint(pid) is not None and manifest.fingerprint(pid) != fps[pid]
        for pid in range(n_units)
    ) or any(pid not in fps for pid in manifest.rows)  # n_units shrank
    if corpus_changed:
        import shutil

        for sub in ("docs", "segments", "postings", "tstats", "tombstones"):
            shutil.rmtree(os.path.join(out_dir, sub), ignore_errors=True)
        for pid in list(manifest.rows):
            if pid in fps:
                manifest.mark(pid, status="pending")
            else:
                del manifest.rows[pid]
    for pid in range(n_units):
        docs_u = docs.filter(F.col("_unit") == pid).drop("_unit")
        fp = fps[pid]
        if not corpus_changed and manifest.status(pid) == "parsed" and manifest.fingerprint(pid) == fp:
            continue  # resume: already built and whole corpus unchanged
        if fail_after_units is not None and done >= fail_after_units:
            docs.unpersist()
            return {"completed_units": done, "crashed": True, "wall_s": time.time() - t0}
        manifest.mark(pid, input_fingerprint=fp, status="taken")
        t1 = time.time()
        # fast path: per-doc termvectors carry doclen → scan → analyze →
        # one tb exchange → sort → streaming encode (operators/segments.py)
        postings_u = build_postings_fast(docs_u, analyzer=analyzer)
        docs_path = os.path.join(out_dir, f"docs/unit={pid}")
        seg_path = os.path.join(out_dir, f"segments/unit={pid}")
        post_path = os.path.join(out_dir, f"postings/unit={pid}")
        n_docs = unit_docs[pid]
        writes = {}
        if write_postings and n_docs:
            # positional postings sidecar: lets a written index serve
            # highlight (C7) and phrase queries without re-reading the
            # corpus. r7: written FIRST, and the segment encode below reads
            # the written sidecar back (column-pruned: no positions) instead
            # of re-running the analyzer — the old order tokenized every doc
            # TWICE per unit (once for segments, once for the sidecar).
            sidecar = postings_u.withColumn("tb", term_bucket_col("term"))
            writes["postings"] = _observed_write(
                lambda df: write_postings_sidecar(df, post_path), sidecar)
            postings_src = _read_back(spark, post_path, sidecar.schema).select(
                "term", "doc_id", "field", "tf", "doclen"
            )
        else:
            postings_src = postings_u
        # content is stored like ES stores _source: display + native highlight
        # (C7) straight from the written store
        writes["docs"] = _observed_write(lambda df: df.write.mode("overwrite").parquet(docs_path),
                                         docs_u)
        blocks = encode_segments(postings_src, None, cstats, num_shards=num_shards,
                                 block_size=block_size)
        writes["segments"] = _observed_write(lambda df: write_segments(df, seg_path), blocks,
                                             F.approx_count_distinct("term").alias("terms"))
        n_bytes = sum(
            os.path.getsize(os.path.join(r, f))
            for p in (docs_path, seg_path)
            for r, _, fs in os.walk(p)
            for f in fs
        )
        manifest.mark(
            pid,
            status="parsed",
            docs=n_docs,
            terms=int(writes["segments"]["terms"]),
            bytes=n_bytes,
            wall_ms=int((time.time() - t1) * 1000),
            **{f"{name}_{k}": int(w[k]) for name, w in writes.items() for k in ("rows", "ms")},
        )
        done += 1

    write_store_tstats(spark, out_dir)
    # json.dump via repr round-trips doubles exactly (pandas to_json clips at
    # 15 significant digits, which would shift avgdl — and thus recomputed
    # scores — a ULP away from the stored max_impact bounds)
    with open(os.path.join(out_dir, "cstats.json"), "w") as f:
        json.dump(cstats, f)
    # geometry sidecar: lets the searcher map a modulo-sharded group's doc
    # ids onto dense LOCAL slots ((id - mn) // num_shards) — per-shard
    # aggregation arrays then scale with docs-per-shard, not corpus size
    with open(os.path.join(out_dir, "store_meta.json"), "w") as f:
        json.dump({"num_shards": num_shards, "sharding": "mod",
                   "block_size": block_size}, f)

    docs.unpersist()
    stats = {
        "n_docs": sum(unit_docs.values()),
        "completed_units": done,
        "crashed": False,
        "wall_s": time.time() - t0,
    }
    with open(os.path.join(out_dir, "build_stats.json"), "w") as f:
        json.dump(stats, f)
    return stats


def read_postings_sidecar(spark: SparkSession, out_dir: str, terms) -> DataFrame:
    """Positional-sidecar scan pruned to the query's terms: tb directory
    pruning (stores written since round 4) + pushed term filter over the
    term-sorted row groups. Legacy flat sidecars fall back to the pushed
    filter alone."""
    post = spark.read.parquet(os.path.join(out_dir, "postings")).filter(
        F.col("term").isin(list(terms))
    )
    if "tb" in post.columns:
        from ..functions.hashing import term_buckets

        post = post.filter(F.col("tb").isin(term_buckets(terms)))
    return post


def phrase_search_written(spark: SparkSession, out_dir: str, phrase: list[str],
                          k: int = 10, field: int = 0) -> DataFrame:
    """Quoted-phrase top-k over a WRITTEN store (requires the positional
    postings sidecar, build_index_resumable(write_postings=True) — Lucene's
    .pos analogue): the phrase terms' postings are a pushdown-pruned scan of
    the term-partitioned sidecar, adjacency is the position-join chain of
    operators/phrase, scoring is the PhraseQuery pseudo-term BM25. The corpus
    is never re-read or re-tokenized. Phrase terms must already be analyzed
    with the store's analyzer (load_analyzer). Tombstoned docs are dropped
    from the postings before matching, so they leave both the match set and
    the phrase df (as phrase_search_local(dead=...) does)."""
    from ..operators.phrase import phrase_search

    post = read_postings_sidecar(spark, out_dir, phrase)
    ts_path = os.path.join(out_dir, "tombstones")
    if os.path.isdir(ts_path):
        post = post.join(spark.read.parquet(ts_path).select("doc_id"), "doc_id", "left_anti")
    docs = spark.read.parquet(os.path.join(out_dir, "docs"))
    dstats = docs.select("doc_id", F.lit(field).alias("field"), "doclen")
    with open(os.path.join(out_dir, "cstats.json")) as f:
        cs = json.load(f)
    cstats = spark.createDataFrame(cs)
    return phrase_search(post, dstats, cstats, phrase, k=k, field=field)


def load_analyzer(out_dir: str):
    """The analyzer this store was built with (None = identity). Delegates to
    the ONE loader in functions.analyze so the serving tier can never drift."""
    from ..functions.analyze import load_analyzer_config

    return load_analyzer_config(out_dir)


def search_written(spark: SparkSession, out_dir: str, query: str, k: int = 10,
                   mode: str = "and", highlight: bool = False, offset: int = 0):
    """Full read path over a written store: top-k via the segment searcher,
    then (optionally) snippets from the positional postings sidecar + stored
    content — no corpus re-read, no re-scoring.

    Job shape: ONE segment-scan job for the top-k (k rows to the driver),
    then one pruned sidecar scan for positions+content of exactly those k
    ids — the sidecar lookup folds the postings and docs joins into a single
    job instead of a per-hit loop."""
    from ..functions.analyze import analyze_query
    from ..operators.highlight import highlight_hits

    searcher = load_searcher(spark, out_dir)
    an = load_analyzer(out_dir)
    terms = an.analyze_py(query) if an is not None else analyze_query(query)
    if len(query.strip()) < 3 or not terms:  # length guard (web/app.py:30-31)
        return spark.createDataFrame([], "doc_id long, score double")
    topk = searcher.search_terms(terms, k=k, mode=mode, offset=offset)
    if not highlight:
        return topk
    hits = topk.collect()  # k rows
    if not hits:
        return spark.createDataFrame([], "doc_id long, score double, snippet string")
    postings_path = os.path.join(out_dir, "postings")
    if not os.path.isdir(postings_path):
        raise FileNotFoundError("store was built without write_postings=True (no positions sidecar)")
    docs = spark.read.parquet(os.path.join(out_dir, "docs"))
    postings = read_postings_sidecar(spark, out_dir, terms)
    lit_topk = spark.createDataFrame(hits)
    return highlight_hits(lit_topk, docs, postings, terms)


def add_docs_column(spark: SparkSession, out_dir: str, name: str, dtype: str,
                    default=None) -> None:
    """Schema evolution on the docs dataset — the reference's close →
    PutMapping → open dance (elastic-interaction/elastic_settings.go:35-92)
    expressed as a per-unit parquet rewrite (Iceberg `ALTER TABLE ADD COLUMN`
    when a catalog is configured; plain parquet needs the rewrite).

    Each docs/unit=N directory is rewritten in place with the new column so
    the unit layout resume depends on is preserved; readers see the column
    immediately (no mergeSchema needed)."""
    docs_root = os.path.join(out_dir, "docs")
    units = sorted(d for d in os.listdir(docs_root) if d.startswith("unit="))
    targets = [os.path.join(docs_root, u) for u in units] if units else [docs_root]
    import shutil

    for path in targets:
        # same park-and-publish protocol as the layout upgrades: the old
        # rmtree(path) → os.replace(tmp) ordering had a crash window with
        # the unit deleted and the data stranded at .tmp, unhealable
        _finish_interrupted_swap(path)
        df = spark.read.parquet(path)
        if name in df.columns:
            raise ValueError(f"column {name!r} already exists")
        out = df.withColumn(name, F.lit(default).cast(dtype))
        tmp = path + ".upgrade"
        shutil.rmtree(tmp, ignore_errors=True)
        out.write.mode("overwrite").parquet(tmp)
        _swap_upgraded(path)


def load_searcher(spark: SparkSession, out_dir: str, boosts: dict[int, float] | None = None) -> SegmentSearcher:
    """Open a written index for querying. Deleted doc ids (tombstones written
    by `admin.py delete-docs`) are anti-filtered inside the searcher until the
    next rebuild — the ES soft-delete-until-merge model."""
    import pandas as pd

    segments = spark.read.parquet(os.path.join(out_dir, "segments"))
    tstats = spark.read.parquet(os.path.join(out_dir, "tstats"))
    cs = pd.read_json(os.path.join(out_dir, "cstats.json"))
    cstats = spark.createDataFrame(cs)
    tombstones = None
    ts_path = os.path.join(out_dir, "tombstones")
    if os.path.isdir(ts_path):
        tombstones = [r["doc_id"] for r in spark.read.parquet(ts_path).select("doc_id").collect()]
    return SegmentSearcher(segments, tstats, cstats, boosts=boosts, tombstones=tombstones,
                           store_dir=out_dir)
