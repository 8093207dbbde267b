"""Vocabulary-scale microbench (round-4 VERDICT item 7): does the
tb-partitioned + term-sorted tstats layout keep COLD-term lookup latency flat
as the vocabulary grows to web scale?

Synthesizes a dictionary of N_TERMS (default 10^7) md5-shaped terms, writes it
both ways —

  flat   : plain unpartitioned parquet (the round-3 layout)
  pruned : partitionBy(tb) + sortWithinPartitions(term) + p1
           (plans.build_index.write_tstats, the round-4 layout)

— then measures a cold lookup through a pyarrow dataset filter (the path
SegmentSearcher._read_tstats_local took before it moved to resident footers,
operators/storefiles) for single terms and
4-term queries, plus the one-off cost of the round-3 eager open (materialize
the whole dictionary into a dict) for contrast. Writes BENCH/vocab_lookup.json.

    python tools/bench_vocab.py [n_terms]
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402

from ucuddle_search_engine_spark.functions.hashing import term_buckets  # noqa: E402
from ucuddle_search_engine_spark.plans.build_index import write_tstats  # noqa: E402
from ucuddle_search_engine_spark.session import get_spark  # noqa: E402

BASE = "/root/repo/.data/vocab_bench"


def term_of(i: int) -> str:
    import hashlib

    return "t" + hashlib.md5(str(i).encode()).hexdigest()[:12]


def lookup_pruned(path: str, terms: list[str]) -> int:
    """A tb-pruned cold lookup through a pyarrow dataset filter."""
    import pyarrow.dataset as pds

    ds = pds.dataset(path, partitioning="hive")
    buckets = term_buckets(terms)
    tt = ds.to_table(
        filter=pds.field("term").isin(terms) & pds.field("tb").isin(buckets),
        columns=["term", "field", "df"],
    )
    return tt.num_rows


def lookup_flat(path: str, terms: list[str]) -> int:
    import pyarrow.dataset as pds

    ds = pds.dataset(path)
    tt = ds.to_table(filter=pds.field("term").isin(terms), columns=["term", "field", "df"])
    return tt.num_rows


def timed_lookups(fn, path, queries) -> list[float]:
    out = []
    for terms in queries:
        t0 = time.time()
        n = fn(path, terms)
        assert n >= len(terms)  # every probed term exists (field 0 row)
        out.append(time.time() - t0)
    return out


def main() -> None:
    n_terms = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    spark = get_spark("vocab-bench", cores=8, shuffle_partitions=32)
    flat = os.path.join(BASE, "flat")
    pruned_dir = os.path.join(BASE, "pruned")

    dic = spark.range(n_terms).select(
        F.concat(F.lit("t"), F.substring(F.md5(F.col("id").cast("string")), 1, 12)).alias("term"),
        (F.pmod(F.col("id"), F.lit(2))).cast("int").alias("field"),
        (F.pmod(F.col("id"), F.lit(1000)) + 1).alias("df"),
    )
    t0 = time.time()
    dic.write.mode("overwrite").parquet(flat)
    t_flat_write = time.time() - t0
    t0 = time.time()
    # one row per (term, field): df passes through as the block count n
    write_tstats(spark.read.parquet(flat).withColumnRenamed("df", "n"), pruned_dir)
    t_pruned_write = time.time() - t0

    # probe sets: cold single terms + 4-term queries, all present in the dict
    singles = [[term_of(i)] for i in range(0, 4000, 400)]
    quads = [[term_of(i + j * 13) for j in range(4)] for i in range(10_000, 14_000, 400)]

    res: dict = {
        "n_terms": n_terms,
        "flat_write_s": round(t_flat_write, 2),
        "pruned_write_s": round(t_pruned_write, 2),
    }
    for name, qs in [("single", singles), ("quad", quads)]:
        lp = timed_lookups(lookup_pruned, pruned_dir, qs)
        lf = timed_lookups(lookup_flat, flat, qs)
        res[f"pruned_{name}_ms_median"] = round(statistics.median(lp) * 1000, 1)
        res[f"pruned_{name}_ms_max"] = round(max(lp) * 1000, 1)
        res[f"flat_{name}_ms_median"] = round(statistics.median(lf) * 1000, 1)
        res[f"flat_{name}_ms_max"] = round(max(lf) * 1000, 1)

    # round-3 eager open for contrast: materialize the full dictionary
    import pyarrow.dataset as pds

    t0 = time.time()
    tt = pds.dataset(flat).to_table()
    cache = {
        (t, int(f)): d
        for t, f, d in zip(tt["term"].to_pylist(), tt["field"].to_pylist(),
                           tt["df"].to_pylist())
    }
    res["eager_open_s"] = round(time.time() - t0, 2)
    res["eager_entries"] = len(cache)

    out = json.dumps(res)
    print(out)
    with open("/root/repo/BENCH/vocab_lookup.json", "w") as f:
        f.write(out + "\n")
    shutil.rmtree(BASE, ignore_errors=True)  # 2×~400 MB of synthetic dict


if __name__ == "__main__":
    main()
