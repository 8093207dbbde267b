"""Admission-width sweep on the 5M store: for each gate width, QPS and
per-request latency at each client concurrency level. Each query runs on its
client thread, so the admission width (UCUDDLE_MAX_INFLIGHT_QUERIES in the
serving tier) is the only parallelism knob. One process, one WARM searcher
(memos survive across widths — steady-state serving is what this measures);
between widths the admission gate is rebuilt. Every response is
parity-checked against a single-threaded reference. Writes
BENCH/serving_sweep_5m.json.

Run: python tools/sweep_serving_5m.py [store]
"""

from __future__ import annotations

import json
import statistics
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(Path(__file__).resolve().parent))

from ucuddle_search_engine_spark.functions import mem  # noqa: E402
from ucuddle_search_engine_spark.operators.wand import SegmentSearcher  # noqa: E402
from bench_throughput import QUERY_MIX  # noqa: E402  (the 24-query 5M mix)

STORE = sys.argv[1] if len(sys.argv) > 1 else str(ROOT / ".data/store_5m")
LEVELS = [8, 32]
ROUNDS = 1
ADMISSIONS = [1, 2, 4, 8]


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
        # rebuild the gate for this width (sweep-only surgery; the serving
        # tier builds it once, at first use, from env)
        mem._ADMIT_SEM = mem._FairGate(adm)
        key = f"adm{adm}"
        row = {str(c): measure(local, c) for c in LEVELS}
        out["combos"][key] = row
        print(key, json.dumps(row), flush=True)
    with open(ROOT / "BENCH/serving_sweep_5m.json", "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
