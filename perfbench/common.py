"""Helpers shared by the workloads: percentiles, process stats, the work
directory and the source hash that keys cached build artifacts."""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
BENCH = Path(__file__).resolve().parent
WORK = ROOT / ".bench_work"
PACKAGE = ROOT / "ucuddle_search_engine_spark"
SERVE_SCRIPT = ROOT / "scripts" / "serve.py"
CLK = os.sysconf("SC_CLK_TCK")
T0 = time.perf_counter()  # process start, for progress logs


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def pct(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100); NaN on no samples."""
    xs = sorted(xs)
    if not xs:
        return math.nan
    return xs[max(0, math.ceil(q / 100.0 * len(xs)) - 1)]


def source_hash(extra: Path, params: str) -> str:
    """sha256 over the package's and scripts/serve.py's sources, the `extra`
    file and `params`: the key of an artifact cached across runs."""
    h = hashlib.sha256(params.encode())
    for p in sorted(PACKAGE.rglob("*.py")) + [SERVE_SCRIPT, extra]:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def cpu_steal() -> tuple[int, int]:
    """(steal, all) CPU jiffies since boot, from /proc/stat. Timings on a
    virtual machine drift with the share the hypervisor steals."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def dir_bytes(path) -> int:
    return sum(f.stat().st_size for f in Path(path).rglob("*") if f.is_file())


class ProcStats:
    """Linux /proc readings of one process: CPU seconds, threads, VmHWM."""

    def __init__(self, pid: int):
        self.pid = pid

    def cpu_s(self) -> float:
        with open(f"/proc/{self.pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / CLK  # utime + stime

    def status(self) -> dict[str, int]:
        out = {}
        with open(f"/proc/{self.pid}/status") as f:
            for line in f:
                k, _, v = line.partition(":")
                if k in ("VmHWM", "VmRSS", "Threads"):
                    out[k] = int(v.split()[0])
        return out
