"""Admission-width × per-query-pool-width sweep on the 5M store (VERDICT r6
directive 4). The width-2 admission optimum was measured on the 1M 3-shard
store; the 5M store has 10 shards and ~5× the per-query head work, so the
joint optimum may differ. One process, one WARM searcher (memos survive
across combos — steady-state serving is what the directive grades); between
combos the admission gate and the scoring pool are rebuilt from the combo's
values. Writes BENCH/serving_sweep_5m.json.

Run: python tools/sweep_serving_5m.py [store]
"""

from __future__ import annotations

import json
import statistics
import sys
import threading
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
sys.path.insert(0, str(Path(__file__).resolve().parent))

import os  # noqa: E402

from ucuddle_search_engine_spark.functions import mem  # noqa: E402
from ucuddle_search_engine_spark.operators.wand import SegmentSearcher  # noqa: E402
from bench_throughput import QUERY_MIX  # noqa: E402  (the 24-query 5M mix)

STORE = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.data/store_5m"
LEVELS = [8, 32]
ROUNDS = 1
ADMISSIONS = [2, 4, 8]
POOLS = [32, 16, 8]


def measure(local, c: int) -> dict:
    want = {i: [(d, round(s, 9)) for d, s in local.search_local(t, k=10, mode=m)]
            for i, (t, m) in enumerate(QUERY_MIX)}
    latencies: list[float] = []
    failures: list = []
    lock = threading.Lock()
    barrier = threading.Barrier(c + 1)

    def worker(tid: int) -> None:
        mine = []
        barrier.wait()
        for _ in range(ROUNDS):
            for j in range(len(QUERY_MIX)):
                i = (tid + j) % len(QUERY_MIX)
                terms, mode = QUERY_MIX[i]
                t0 = time.time()
                got = [(d, round(s, 9)) for d, s in local.search_local(terms, k=10, mode=mode)]
                mine.append(time.time() - t0)
                if got != want[i]:
                    failures.append((tid, i))
        with lock:
            latencies.extend(mine)

    threads = [threading.Thread(target=worker, args=(t,)) for t in range(c)]
    for t in threads:
        t.start()
    barrier.wait()
    t0 = time.time()
    for t in threads:
        t.join()
    wall = time.time() - t0
    assert not failures, f"rank parity violated: {failures[:3]}"
    n = c * ROUNDS * len(QUERY_MIX)
    ls = sorted(latencies)
    return {"qps": round(n / wall, 1),
            "p50_ms": round(statistics.median(ls) * 1000, 1),
            "p95_ms": round(ls[int(0.95 * (len(ls) - 1))] * 1000, 1),
            "max_ms": round(ls[-1] * 1000, 1)}


def main() -> None:
    local = SegmentSearcher.open_local(STORE)
    # untimed warm pass
    for t, m in QUERY_MIX:
        local.search_local(t, k=10, mode=m)
    out: dict = {"store": STORE, "levels": LEVELS, "rounds": ROUNDS, "combos": {}}
    for adm in ADMISSIONS:
        for pool in POOLS:
            # rebuild the gate + pool for this combo (sweep-only surgery; the
            # serving tier sets these once at startup from env)
            mem._ADMIT_SEM = mem._FairGate(adm)
            os.environ["UCUDDLE_QUERY_POOL_WIDTH"] = str(pool)
            old = local._pool
            local._pool = None
            if old is not None:
                old.shutdown(wait=True)
            key = f"adm{adm}_pool{pool}"
            row = {str(c): measure(local, c) for c in LEVELS}
            out["combos"][key] = row
            print(key, json.dumps(row), flush=True)
    with open("/root/repo/BENCH/serving_sweep_5m.json", "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
