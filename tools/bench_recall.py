"""Measured recall of the approximate scale paths vs their exact baselines at
sf0.1 (2000 vectors) — evidence the approximations are usable, not just fast:

- banded hyperplane LSH near-dup pairs (operators/dedup, bucketed=True)
  vs exact all-pairs cosine at several thresholds
- IVF top-10 (pre-trained centroids, operators/ivf_params) vs brute force,
  recall@10 across query vectors at n_probe ∈ {1, 2, 4}

Writes BENCH/recall.json. Run: python tools/bench_recall.py
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from ucuddle_search_engine_spark.operators.ann import IVFIndex, cosine_topk_bruteforce  # noqa: E402
from ucuddle_search_engine_spark.operators.dedup import embedding_neardup_pairs  # noqa: E402
from ucuddle_search_engine_spark.operators.ivf_params import IVF_CENTROIDS  # noqa: E402
from ucuddle_search_engine_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"


def main() -> None:
    spark = get_spark("recall", cores=16, shuffle_partitions=16)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()
    n = emb.count()
    out: dict = {"sf": 0.1, "n_vectors": n}

    # --- LSH near-dup recall at several cosine thresholds -------------------
    lsh = {}
    for tau in (0.30, 0.35, 0.40):
        exact = {(r["doc_a"], r["doc_b"])
                 for r in embedding_neardup_pairs(emb, tau).collect()}
        approx = {(r["doc_a"], r["doc_b"])
                  for r in embedding_neardup_pairs(emb, tau, bucketed=True).collect()}
        assert approx <= exact  # verify step guarantees no false positives
        lsh[f"tau_{tau}"] = {
            "true_pairs": len(exact),
            "found": len(approx),
            "recall": round(len(approx) / len(exact), 4) if exact else 1.0,
        }
    out["lsh_neardup"] = lsh

    # --- IVF recall@10 over query vectors at several probe widths -----------
    qids = [int(r["vec_id"]) for r in
            emb.select("vec_id").orderBy("vec_id").limit(20).collect()]
    qvecs = {int(r["vec_id"]): [float(x) for x in r["embedding"]]
             for r in emb.filter(F.col("vec_id").isin(qids)).collect()}
    truth = {
        q: [r["vec_id"] for r in cosine_topk_bruteforce(emb, qvecs[q], k=10).collect()]
        for q in qids
    }
    ivf = {}
    for n_probe in (1, 2, 4):
        idx = IVFIndex(emb, n_probe=n_probe, centroids=np.asarray(IVF_CENTROIDS))
        hits = 0
        for q in qids:
            got = [r["vec_id"] for r in idx.topk(qvecs[q], k=10).collect()]
            hits += len(set(got) & set(truth[q]))
        ivf[f"n_probe_{n_probe}"] = {
            "recall_at_10": round(hits / (10 * len(qids)), 4),
            "scan_fraction": round(n_probe / len(IVF_CENTROIDS), 4),
        }
    out["ivf_topk"] = ivf

    # --- DEFAULT operating point: IVFIndex(emb) — auto centroids (4·√n) +
    # auto probe growth. This is what a user gets with no tuning; the r5
    # verdict's directive is that the default must never silently return
    # ~30% recall. Scan fraction measured in VECTORS (cell sizes differ).
    auto_idx = IVFIndex(emb)
    sizes = {r["_cell"]: r["c"] for r in
             auto_idx.assigned.groupBy("_cell").agg(F.count("*").alias("c")).collect()}
    hits = scanned = 0
    for q in qids:
        qv = np.asarray(qvecs[q], dtype=np.float64)
        cells = auto_idx._probe_cells(qv / np.linalg.norm(qv))
        scanned += sum(sizes.get(c, 0) for c in cells)
        got = [r["vec_id"] for r in auto_idx.topk(qvecs[q], k=10).collect()]
        hits += len(set(got) & set(truth[q]))
    out["ivf_topk_auto_default"] = {
        "n_centroids": int(len(auto_idx.centroids)),
        "recall_at_10": round(hits / (10 * len(qids)), 4),
        "scan_fraction_vectors": round(scanned / (n * len(qids)), 4),
    }

    out["note_unstructured"] = (
        "the sf0.1 synthetic embeddings are near-isotropic (max pairwise cos "
        "≈0.5, no duplicate or cluster structure), so these are WORST-CASE "
        "operating points; the planted_* sections measure the intended regime"
    )

    # --- planted near-dups: the regime the docstring specs (τ ≥ 0.8) --------
    rng = np.random.RandomState(7)
    base = np.array([r["embedding"] for r in
                     emb.orderBy("vec_id").limit(500).collect()], dtype=np.float64)
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    # per-coord σ=0.03 → noise norm ≈ 0.03·√64 = 0.24 → cos ≈ 0.97
    noisy = base + 0.03 * rng.standard_normal(base.shape)
    rows = [(i, v.tolist()) for i, v in enumerate(base)] + [
        (10_000 + i, v.tolist()) for i, v in enumerate(noisy)
    ]
    planted = spark.createDataFrame(rows, "vec_id long, embedding array<double>").cache()
    for tau in (0.8,):
        exact = {(r["doc_a"], r["doc_b"])
                 for r in embedding_neardup_pairs(planted, tau).collect()}
        approx = {(r["doc_a"], r["doc_b"])
                  for r in embedding_neardup_pairs(planted, tau, bucketed=True).collect()}
        assert approx <= exact
        out["planted_lsh_neardup"] = {
            "tau": tau, "true_pairs": len(exact), "found": len(approx),
            "recall": round(len(approx) / len(exact), 4) if exact else 1.0,
        }

    # --- planted clusters: IVF's intended regime (data WITH structure) ------
    k_clusters = 8
    cents = rng.standard_normal((k_clusters, base.shape[1]))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    members = cents[np.arange(2000) % k_clusters] + 0.25 * rng.standard_normal((2000, base.shape[1]))
    crows = [(i, v.tolist()) for i, v in enumerate(members)]
    clustered = spark.createDataFrame(crows, "vec_id long, embedding array<double>").cache()
    # train on the data itself (the normal IVF flow — no pre-baked params here)
    cidx = {p: IVFIndex(clustered, n_centroids=8, n_probe=p) for p in (1, 2)}
    cqids = list(range(0, 200, 10))
    cq = {i: members[i].tolist() for i in cqids}
    ctruth = {i: [r["vec_id"] for r in cosine_topk_bruteforce(clustered, cq[i], k=10).collect()]
              for i in cqids}
    planted_ivf = {}
    for p, idx in cidx.items():
        hits = sum(
            len({r["vec_id"] for r in idx.topk(cq[i], k=10).collect()} & set(ctruth[i]))
            for i in cqids
        )
        planted_ivf[f"n_probe_{p}"] = {
            "recall_at_10": round(hits / (10 * len(cqids)), 4),
            "scan_fraction": round(p / 8, 4),
        }
    out["planted_ivf_topk"] = planted_ivf

    with open(ROOT / "BENCH/recall.json", "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
