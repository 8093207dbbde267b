"""Serving-tier sustained throughput (QPS) under concurrent clients at 1M
docs — BENCH/throughput.json. Latency benchmarks (serve_latency, query_classes)
measure one query at a time; a user-facing search tier is graded on what it
sustains with many in flight. The reference's web tier is Flask in front of a
3-shard Elasticsearch (web-interaction/), which serves concurrent users by
construction; here the engine itself is the concurrent surface
(ThreadingHTTPServer → search_local), so QPS-vs-concurrency is an engine
property worth pinning.

Protocol: open_local on the 1M store, one untimed pass over the 24-query mix
to fill chain/scored-chain memos (warm serving is the steady state a
long-running box sits in), then for each concurrency level c
in {1, 2, 4, 8, 16, 32}: c threads each run the full mix ROUNDS times with a
start barrier; wall-clock QPS plus per-request p50/p95 are reported. Every
response is compared against the single-threaded reference — a race that
corrupts a ranking fails the bench, so this doubles as a stress test
(tests/test_concurrency.py pins the same property at pytest scale).

Run: python tools/bench_throughput.py [store_dir [out_json]]
(default: the 1M store → BENCH/throughput.json; pass .data/store_5m and an
out path to record the 5M curve without overwriting the 1M artifact)
"""

from __future__ import annotations

import json
import statistics
import sys
import threading
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from ucuddle_search_engine_spark.operators.wand import SegmentSearcher  # noqa: E402

STORE = "/root/repo/.data/million_store"
LEVELS = [1, 2, 4, 8, 16, 32]
ROUNDS = 4  # mix passes per thread per level

# the bench_million head/mid/tail mix, widened with distinct term sets so a
# level's request stream isn't one memo entry hit in a loop
QUERY_MIX = [
    (["t0", "t1"], "or"),
    (["t0", "t1", "t2", "t3"], "or"),
    (["t50", "t120", "t300"], "or"),
    (["t0", "t500", "t4000"], "or"),
    (["t10", "t40"], "and"),
    (["t7", "t900", "t12000"], "and"),
    (["module", "t3"], "or"),
    (["t33333"], "or"),
    (["t4", "t5"], "or"),
    (["t2", "t6", "t7"], "or"),
    (["t200", "t800"], "or"),
    (["t90", "t150", "t600"], "or"),
    (["t20", "t60"], "and"),
    (["t15", "t2000", "t30000"], "and"),
    (["t1", "t12345"], "or"),
    (["t44444"], "or"),
    (["t8", "t9", "t11"], "or"),
    (["t350", "t700", "t1400"], "or"),
    (["t25", "t75"], "and"),
    (["t3", "t333", "t3333"], "or"),
    (["t5000", "t6000"], "or"),
    (["t13", "t17", "t19000"], "and"),
    (["t55555"], "or"),
    (["t2", "t4", "t8", "t16"], "or"),
]


def main() -> None:
    store = sys.argv[1] if len(sys.argv) > 1 else STORE
    out_path = sys.argv[2] if len(sys.argv) > 2 else \
        "/root/repo/BENCH/throughput.json"
    local = SegmentSearcher.open_local(store)
    n_docs = next(iter(local._coll.values()))[0]

    def run(terms, mode):
        return [(d, round(s, 9)) for d, s in
                local.search_local(terms, k=10, mode=mode)]

    # reference + warm fill (untimed)
    want = {i: run(t, m) for i, (t, m) in enumerate(QUERY_MIX)}

    out: dict = {
        "n_docs": n_docs,
        "store": store,
        "num_shards": local.num_shards,
        "mix_size": len(QUERY_MIX),
        "rounds_per_thread": ROUNDS,
        "protocol": (
            "warm serving steady state; per level: c threads x full mix x "
            f"{ROUNDS} rounds behind a start barrier; every response "
            "parity-checked against the single-threaded reference"
        ),
        "levels": {},
    }
    for c in LEVELS:
        latencies: list[float] = []
        failures: list[tuple] = []
        lat_lock = threading.Lock()
        barrier = threading.Barrier(c + 1)

        def worker(tid: int) -> None:
            mine: list[float] = []
            barrier.wait()
            for r in range(ROUNDS):
                for j in range(len(QUERY_MIX)):
                    i = (tid + j) % len(QUERY_MIX)  # stagger across threads
                    terms, mode = QUERY_MIX[i]
                    t0 = time.time()
                    got = run(terms, mode)
                    mine.append(time.time() - t0)
                    if got != want[i]:
                        failures.append((tid, i))
            with lat_lock:
                latencies.extend(mine)

        threads = [threading.Thread(target=worker, args=(t,)) for t in range(c)]
        for t in threads:
            t.start()
        barrier.wait()
        t0 = time.time()
        for t in threads:
            t.join()
        wall = time.time() - t0
        assert not failures, f"rank parity violated under concurrency {c}: {failures[:5]}"
        n_req = c * ROUNDS * len(QUERY_MIX)
        lat_sorted = sorted(latencies)
        row = {
            "requests": n_req,
            "wall_s": round(wall, 2),
            "qps": round(n_req / wall, 1),
            "p50_ms": round(statistics.median(lat_sorted) * 1000, 1),
            "p95_ms": round(lat_sorted[int(0.95 * (len(lat_sorted) - 1))] * 1000, 1),
            # the admission queue is FIFO (threading.Condition wakes waiters
            # in arrival order), but closed-loop clients re-enter immediately
            # — p99/max expose any starvation the p95 hides
            "p99_ms": round(lat_sorted[int(0.99 * (len(lat_sorted) - 1))] * 1000, 1),
            "max_ms": round(lat_sorted[-1] * 1000, 1),
        }
        out["levels"][c] = row
        print(c, row, flush=True)

    base = out["levels"][1]["qps"]
    peak_c = max(out["levels"], key=lambda c: out["levels"][c]["qps"])
    out["qps_1"] = base
    out["qps_peak"] = out["levels"][peak_c]["qps"]
    out["peak_concurrency"] = peak_c
    out["peak_speedup"] = round(out["qps_peak"] / base, 2)
    with open(out_path, "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
