"""Benchmark entry point (see BENCHMARK.json and perfbench/README.md).

    python3 perfbench/run.py --workload serve|index_pipeline \
        --seed N --seconds S --trace 0|1

Prints progress on stderr and, as the last line of stdout, one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. A per-layer metric whose
layer the workload does not exercise reads 0.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from common import PACKAGE, ROOT, SERVE_SCRIPT, WORK, cpu_steal, log  # noqa: E402

WORKLOADS = ("serve", "index_pipeline")

E2E = {"setup_s": "s", "cpu_ms_per_query": "ms", "rss_peak_mb": "MB"}


def per_layer_units() -> dict[str, str]:
    from gen import ALL_CLASSES, WAND_CLASSES
    from pipeline import PHASES, STORE_SUBDIRS
    from serving import RATES

    u = {"serve.http_overhead_ms": "ms"}
    for c in ALL_CLASSES:
        u[f"serve.search_self_p50_ms.{c}"] = "ms"
        u[f"serve.search_self_p95_ms.{c}"] = "ms"
    u.update({"serve.result_cache_hit_ratio": "ratio", "serve.fail_ratio": "ratio",
              "serve.slo_qps": "1/s", "serve.unloaded_samples": "count",
              "analyze.analyze_py_p50_ms": "ms",
              "mem.admission_wait_p50_ms": "ms", "mem.admission_wait_p95_ms": "ms",
              "mem.inflight_max": "count"})
    for r in RATES:
        u[f"serve.ladder_p95_ms.r{r}"] = "ms"
    for c in WAND_CLASSES:
        u[f"wand.search_local_p50_ms.{c}"] = "ms"
        u[f"wand.search_local_p95_ms.{c}"] = "ms"
    u.update({"wand.get_scored_many_ms": "ms", "wand.get_scored_many_chains": "count",
              "phrase.search_local_p50_ms": "ms", "phrase.search_local_p95_ms": "ms",
              "proc.cpu_ms_per_query": "ms", "proc.threads_max": "count",
              "loadgen.lag_p95_ms": "ms", "loadgen.backlog_max": "count",
              "client.p50_ms": "ms", "client.p95_ms": "ms", "traced.setup_s": "s",
              "traced.rss_peak_mb": "MB", "traced.cpu_ms_per_query": "ms",
              "trace.overhead_p50_ms": "ms", "trace.overhead_p95_ms": "ms",
              "spark.session.wall_s": "s"})
    for ph in PHASES[1:]:
        u.update({f"spark.{ph}.wall_s": "s", f"spark.{ph}.jobs": "count",
                  f"spark.{ph}.stages": "count", f"spark.{ph}.tasks": "count",
                  f"spark.{ph}.exec_cpu_s": "s", f"spark.{ph}.overhead_s": "s",
                  f"spark.{ph}.shuffle_write_mb": "MB"})
    for sub in STORE_SUBDIRS:
        u[f"spark.build.write_s.{sub}"] = "s"
    for sub in STORE_SUBDIRS:
        u[f"store.bytes.{sub}"] = "bytes"
    u.update({"spark.pagerank.jobs_per_iter": "count", "spark.dist_term.jobs_per_query": "count",
              "build_docs_per_s": "1/s", "add_docs_s": "s", "pagerank_s": "s", "dedup_s": "s",
              "store_bytes_per_input_byte": "ratio", "dist_term_p50_ms": "ms",
              "dist_phrase_p50_ms": "ms", "dist_phrase.deleted_hits": "count"})
    return u


def _num(v) -> float:
    v = float(v)
    return 0.0 if math.isnan(v) or math.isinf(v) else v


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    missing = [p for p in (PACKAGE, SERVE_SCRIPT) if not p.exists()]
    if missing:
        print(f"perfbench: program sources missing: {', '.join(map(str, missing))}",
              file=sys.stderr)
        return 2
    WORK.mkdir(exist_ok=True)
    (WORK / "tmp").mkdir(exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = str(WORK / "tmp")
    sys.path.insert(0, str(ROOT))
    traced = bool(args.trace)
    steal0, all0 = cpu_steal()
    if args.workload == "index_pipeline":
        import pipeline

        res = pipeline.run(args.seed, args.seconds, traced)
    else:
        import serving

        res = serving.run(args.seed, args.seconds, traced)
    steal1, all1 = cpu_steal()
    log(f"CPU steal during the run: {100 * (steal1 - steal0) / max(1, all1 - all0):.1f}%")
    if traced:
        units = per_layer_units()
        layers = res["layers"]
        metrics = {k: {"value": _num(layers.get(k, 0.0)), "unit": u} for k, u in units.items()}
    else:
        metrics = {k: {"value": float(res["e2e"][k]), "unit": u} for k, u in E2E.items()}
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
