"""Build a k-times replicated copy of an sf dir for MEASUREMENT ONLY.

The driver's round-6 escalation ran bench.py at its own generated sf1.0
(50k docs = 10x sf0.1); that directory does not survive between sessions and
the generator is not shipped, so for before/after timing at the escalated
scale we replicate sf0.1 k times with key shifts:

  - every id column is shifted by copy_index * (max_id + 1) so id spaces stay
    dense and disjoint (user_id shifts keep the %500 pagerank edge shape);
  - documents.text gets a per-copy prefix token so MinHash/LSH sees near-dup
    structure comparable to a real 10x corpus instead of 10 exact clones of
    every doc (exact clones would inflate bucket sizes ~10x and make the
    dedup numbers measure a different workload).

This is a timing fixture, not driver data: absolute numbers are comparable
across THIS round's before/after runs only.

Run:  python tools/make_scaled_sf.py [k] [src_dir] [dst_dir]
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from pyspark.sql import functions as F  # noqa: E402

from ucuddle_search_engine_spark.session import get_spark  # noqa: E402

# id columns to shift per table (column -> shift key space by its own max+1)
SHIFT = {
    "documents": ["doc_id"],
    "events": ["event_id", "user_id"],
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "embeddings": ["vec_id"],
    "nation": [],
    "region": [],
}


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    src = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    dst = sys.argv[3] if len(sys.argv) > 3 else fstr(ROOT / ".data/sf0.1x{k}")
    spark = get_spark("make_scaled_sf", cores=32, shuffle_partitions=32)
    os.makedirs(dst, exist_ok=True)
    for table, id_cols in SHIFT.items():
        out = os.path.join(dst, f"{table}.parquet")
        if os.path.exists(os.path.join(out, "_SUCCESS")):
            print(f"{table}: exists", flush=True)
            continue
        df = spark.read.parquet(os.path.join(src, f"{table}.parquet"))
        if table in ("nation", "region"):
            df.write.mode("overwrite").parquet(out)
            print(f"{table}: copied", flush=True)
            continue
        maxes = {c: df.agg(F.max(c)).first()[0] + 1 for c in id_cols}
        copies = []
        for i in range(k):
            ci = df
            for c, m in maxes.items():
                ci = ci.withColumn(c, (F.col(c) + F.lit(i * m)).cast(df.schema[c].dataType))
            if table == "documents" and i > 0:
                ci = ci.withColumn("text", F.concat(F.lit(f"copyv{i} "), F.col("text")))
            copies.append(ci)
        allc = copies[0]
        for ci in copies[1:]:
            allc = allc.unionByName(ci)
        # single file like the driver's layout (its tables are one file each);
        # parquet row groups still bound scan splits exactly as on driver data
        allc.coalesce(1).write.mode("overwrite").parquet(out)
        print(f"{table}: {k}x written", flush=True)
    print(f"done: {dst}")


if __name__ == "__main__":
    main()
