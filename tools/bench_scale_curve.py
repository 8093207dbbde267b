"""Scale-curve evidence: the same operators at 200k and 1M documents on the
same hardware — the local stand-in for "does cost grow with the DATA or with
the MATCHED work?". Written to BENCH/scale_curve.json:

- index build throughput (docs/sec) per corpus size (store cached per size)
- BM25 top-10 p50/p95 over each written store, distributed AND serving path
  (query cost should track matched postings, not corpus size, thanks to
  tb-directory + row-group pruning)
- MinHash-LSH dedup (xx64 fast path) wall time per corpus size
- text_stats (lang-id + quality + tokens + fingerprint) wall time per size

Run: python tools/bench_scale_curve.py   (uses .data caches; ~5 min cold)
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from pyspark import StorageLevel  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from ucuddle_search_engine_spark.functions.textstats import text_stats  # noqa: E402
from ucuddle_search_engine_spark.operators.dedup import lsh_candidate_pairs  # noqa: E402
from ucuddle_search_engine_spark.plans.build_index import (  # noqa: E402
    build_index_resumable,
    load_searcher,
)
from ucuddle_search_engine_spark.session import get_spark  # noqa: E402

SIZES = {
    200_000: str(ROOT / ".data/corpus_200000"),
    1_000_000: str(ROOT / ".data/corpus_1000000"),
    5_000_000: str(ROOT / ".data/corpus_5000000"),
}
STORES = {
    200_000: str(ROOT / ".data/store_200k"),
    1_000_000: str(ROOT / ".data/million_store"),
    5_000_000: str(ROOT / ".data/store_5m"),
}
QUERIES = [(["t0", "t1"], "or"), (["t10", "t40"], "and"), (["t50", "t120", "t300"], "or"),
           (["module", "t3"], "or"), (["t33333"], "or")]


def main() -> None:
    # 5M-doc legs flirt with an 8g heap's GC limits (observed GCLocker
    # retry aborts); the box has 128 GiB — give the bench JVM headroom
    import os

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")
    spark = get_spark("scale_curve", cores=32, shuffle_partitions=64)
    out: dict = {"cpus": 32, "sizes": {}}
    for n, corpus_path in SIZES.items():
        row: dict = {}
        corpus = spark.read.parquet(corpus_path)
        store = STORES[n]
        if not (Path(store) / "cstats.json").exists():
            t0 = time.time()
            # write_postings: every curve store ships the positional sidecar
            # (phrase/highlight classes measured at every size — round 5).
            # num_shards="auto": bounded docs-per-shard (500k) so head-query
            # TAAT cost stays ~constant per shard as the corpus grows — 5M
            # docs get 10 shards, not the 3-shard floor (round 6)
            stats = build_index_resumable(spark, corpus, store,
                                          n_units=8 if n >= 5_000_000 else 4,
                                          num_shards="auto",
                                          write_postings=True)
            row["build_s"] = round(time.time() - t0, 1)
            assert not stats["crashed"]
            (Path(store) / "build_stats.json").write_text(
                json.dumps({"wall_s": row["build_s"]})
            )
        else:
            prev = json.loads((Path(store) / "build_stats.json").read_text()) \
                if (Path(store) / "build_stats.json").exists() else None
            row["build_s"] = round(prev["wall_s"], 1) if prev else None
        if row["build_s"]:
            row["build_docs_per_sec"] = round(n / row["build_s"], 1)

        searcher = load_searcher(spark, store).prepare()
        for label, run in (
            ("spark", lambda t, m: searcher.search_terms(t, k=10, mode=m).collect()),
            ("serve", lambda t, m: searcher.search_local(t, k=10, mode=m)),
        ):
            lats = []
            for rep in range(3):
                for terms, mode in QUERIES:
                    t0 = time.time()
                    run(terms, mode)
                    dt = time.time() - t0
                    if rep:  # skip cold rep
                        lats.append(dt)
            lats.sort()
            row[f"q_{label}_p50_ms"] = round(lats[len(lats) // 2] * 1000, 1)
            row[f"q_{label}_p95_ms"] = round(lats[int(len(lats) * 0.95) - 1] * 1000, 1)

        docs = corpus.select(
            F.monotonically_increasing_id().alias("doc_id"), F.col("content").alias("text")
        ).persist(StorageLevel.MEMORY_AND_DISK)  # 5M contents overflow an 8g heap
        docs.count()
        t0 = time.time()
        row["minhash_pairs"] = lsh_candidate_pairs(docs, hash_kind="xx64").count()
        row["minhash_xx64_s"] = round(time.time() - t0, 1)
        t0 = time.time()
        text_stats(docs).agg(F.sum("n_tokens")).collect()
        row["text_stats_s"] = round(time.time() - t0, 1)
        docs.unpersist()
        out["sizes"][str(n)] = row

    s, b = out["sizes"]["200000"], out["sizes"]["1000000"]
    if s.get("build_docs_per_sec") and b.get("build_docs_per_sec"):
        out["build_throughput_ratio_1m_vs_200k"] = round(
            b["build_docs_per_sec"] / s["build_docs_per_sec"], 3
        )
    out["q_serve_p95_growth_5x_corpus"] = round(
        b["q_serve_p95_ms"] / s["q_serve_p95_ms"], 2
    )
    h = out["sizes"].get("5000000")
    if h:
        if h.get("build_docs_per_sec") and b.get("build_docs_per_sec"):
            out["build_throughput_ratio_5m_vs_1m"] = round(
                h["build_docs_per_sec"] / b["build_docs_per_sec"], 3
            )
        out["q_serve_p95_growth_25x_corpus"] = round(
            h["q_serve_p95_ms"] / s["q_serve_p95_ms"], 2
        )
    with open(ROOT / "BENCH/scale_curve.json", "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
