"""1M-doc store query-latency benchmark (BENCH/million.json).

Builds (once, cached) the full layout-as-pushdown store — docs + tb-partitioned
segments + tstats — at .data/million_store via the resumable build, then
measures cold + warm top-k latency over a head/mid/tail query mix with a
prepared searcher (term stats collected once; every query is ONE Spark job
over a directory-pruned, row-group-pruned segment scan).

Run: python tools/bench_million.py
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from ucuddle_search_engine_spark.plans.build_index import build_index_resumable, load_searcher  # noqa: E402
from ucuddle_search_engine_spark.session import get_spark  # noqa: E402

CORPUS = str(ROOT / ".data/corpus_1000000")
STORE = str(ROOT / ".data/million_store")
N_DOCS = 1_000_000

QUERIES = [
    (["t0", "t1"], "or"),
    (["t0", "t1", "t2", "t3"], "or"),
    (["t50", "t120", "t300"], "or"),
    (["t0", "t500", "t4000"], "or"),
    (["t10", "t40"], "and"),
    (["t7", "t900", "t12000"], "and"),
    (["module", "t3"], "or"),
    (["t33333"], "or"),
]


def main() -> None:
    spark = get_spark("bench_million", cores=16, shuffle_partitions=32)
    out: dict = {"n_docs": N_DOCS}
    if not (Path(STORE) / "build_stats.json").exists():
        corpus = spark.read.parquet(CORPUS)
        t0 = time.time()
        # write_postings: the positional sidecar ships with the store, so
        # phrase + highlight serve at 1M too (round-5 directive)
        stats = build_index_resumable(spark, corpus, STORE, n_units=4, num_shards=3,
                                      write_postings=True)
        out["build_s"] = round(time.time() - t0, 1)
        out["docs_per_sec"] = round(N_DOCS / out["build_s"], 1)
        assert not stats["crashed"]
    else:
        prev = json.loads((Path(STORE) / "build_stats.json").read_text())
        out["build_s"] = round(prev["wall_s"], 1)
        out["docs_per_sec"] = round(N_DOCS / prev["wall_s"], 1)

    searcher = load_searcher(spark, STORE).prepare()
    lats = []
    cold = None
    for rep in range(3):
        for terms, mode in QUERIES:
            t0 = time.time()
            searcher.search_terms(terms, k=10, mode=mode).collect()
            dt = time.time() - t0
            if cold is None:
                cold = dt
            else:
                lats.append(dt)
    lats.sort()
    out["q_cold_ms"] = round(cold * 1000, 1)
    out["q_p50_ms"] = round(lats[len(lats) // 2] * 1000, 1)
    out["q_p95_ms"] = round(lats[int(len(lats) * 0.95) - 1] * 1000, 1)
    out["n_queries"] = len(lats) + 1

    # serving-tier path: same ranking, no Spark job (pyarrow read + numpy
    # scorers driver-side) — parity vs the distributed path is asserted here
    # on every query, latency reported separately
    llats = []
    lcold = None
    for rep in range(3):
        for terms, mode in QUERIES:
            t0 = time.time()
            got = searcher.search_local(terms, k=10, mode=mode)
            dt = time.time() - t0
            if lcold is None:
                lcold = dt
            else:
                llats.append(dt)
            if rep == 0:
                want = [(r["doc_id"], round(r["score"], 9)) for r in
                        searcher.search_terms(terms, k=10, mode=mode).collect()]
                assert [(d, round(s, 9)) for d, s in got] == want, (terms, mode)
    llats.sort()
    out["serve_cold_ms"] = round(lcold * 1000, 1)
    out["serve_p50_ms"] = round(llats[len(llats) // 2] * 1000, 1)
    out["serve_p95_ms"] = round(llats[int(len(llats) * 0.95) - 1] * 1000, 1)

    # round-4 lazy serving tier: open_local WITHOUT materializing the term
    # dictionary (tb-partitioned tstats + LRU memo) — the path a 10⁹-term
    # store must use. Cold = pruned dictionary read + scoring; warm = memo.
    from ucuddle_search_engine_spark.operators.wand import SegmentSearcher

    lazy = SegmentSearcher.open_local(STORE)
    if lazy._tstats_cache is None:  # store written with the round-4 layout
        zlats = []
        zcold = None
        for rep in range(3):
            for terms, mode in QUERIES:
                t0 = time.time()
                got = lazy.search_local(terms, k=10, mode=mode)
                dt = time.time() - t0
                if zcold is None:
                    zcold = dt
                else:
                    zlats.append(dt)
                if rep == 0:
                    want = [(d, round(s, 9)) for d, s in
                            searcher.search_local(terms, k=10, mode=mode)]
                    assert [(d, round(s, 9)) for d, s in got] == want, (terms, mode)
        zlats.sort()
        out["lazy_serve_cold_ms"] = round(zcold * 1000, 1)
        out["lazy_serve_p50_ms"] = round(zlats[len(zlats) // 2] * 1000, 1)
        out["lazy_serve_p95_ms"] = round(zlats[int(len(zlats) * 0.95) - 1] * 1000, 1)

    with open(ROOT / "BENCH/million.json", "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
