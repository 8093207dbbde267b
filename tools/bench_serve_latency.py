"""Serving-tier latency at 1M docs — BENCH/serve_latency.json (the round-4
protocol, now a reproducible tool): lazy SegmentSearcher.open_local (no
dictionary materialization), cold fill then median of N_WARM warm runs per
query class, quiet machine. Rank parity vs the distributed path is asserted
once per class before timing.

Round-5 target (VERDICT): head4 warm ≤ ~350 ms with rank parity — attacked by
the decoded-block cache's full-chain + scored-chain memo paths (wand.py):
a warm head-term query re-uses the chain's concatenated postings AND its
precomputed BM25 contributions instead of reassembling 10⁴ per-block entries
and redoing the per-posting arithmetic.

Run: python tools/bench_serve_latency.py
"""

from __future__ import annotations

import json
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from ucuddle_search_engine_spark.operators.wand import SegmentSearcher  # noqa: E402
from ucuddle_search_engine_spark.plans.build_index import load_searcher  # noqa: E402
from ucuddle_search_engine_spark.session import get_spark  # noqa: E402

STORE = str(ROOT / ".data/million_store")
N_DOCS = 1_000_000
N_WARM = 11

QUERIES = {
    "head2": (["t0", "t1"], "or"),
    "head4": (["t0", "t1", "t2", "t3"], "or"),
    "mid3": (["t50", "t120", "t300"], "or"),
    "and2": (["t10", "t40"], "and"),
    "mixed_and": (["t7", "t900", "t12000"], "and"),
    "tail1": (["t33333"], "or"),
}


def main() -> None:
    spark = get_spark("bench_serve_latency", cores=8, shuffle_partitions=8)
    dist = load_searcher(spark, STORE).prepare()
    lazy = SegmentSearcher.open_local(STORE)
    assert lazy._tstats_cache is None, "store must have the lazy tb layout"

    out: dict = {
        "n_docs": N_DOCS,
        "protocol": (
            f"lazy open_local (no dictionary materialization), cold fill then "
            f"median of {N_WARM} warm runs per query, quiet machine"
        ),
        "queries_ms": {},
    }
    for name, (terms, mode) in QUERIES.items():
        want = [(r["doc_id"], round(r["score"], 9)) for r in
                dist.search_terms(terms, k=10, mode=mode).collect()]
        t0 = time.time()
        got = lazy.search_local(terms, k=10, mode=mode)
        cold = time.time() - t0
        assert [(d, round(s, 9)) for d, s in got] == want, f"rank parity {name}"
        warm = []
        for _ in range(N_WARM):
            t0 = time.time()
            lazy.search_local(terms, k=10, mode=mode)
            warm.append(time.time() - t0)
        out["queries_ms"][name] = {
            "cold": round(cold * 1000, 1),
            "warm_median": round(statistics.median(warm) * 1000, 1),
            "warm_min": round(min(warm) * 1000, 1),
            "warm_max": round(max(warm) * 1000, 1),
        }
        print(name, out["queries_ms"][name], flush=True)
    out["decode_cache_postings"] = lazy._decode_cache._n if lazy._decode_cache else 0
    out["note"] = (
        "round-5 scorer work (full-chain + scored-chain memo in DecodeCache, "
        "run-gather slicing) vs the round-4 per-block cache; see BENCH/BASELINE.md"
    )
    with open(ROOT / "BENCH/serve_latency.json", "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
