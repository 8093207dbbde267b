"""Per-QUERY-CLASS latency at the 1M-doc (and 5M-doc) stores —
BENCH/query_classes.json. Round-5 directive: the scale posture must be
measured for EVERY class a real user hits, not just OR top-k:

- or2_head / or4_head   hottest disjunctions (t0..t3 are in ~every doc)
- or3_mid / tail1       mid- and tail-frequency terms
- and2 / and_mixed      conjunctions (block-interval pruning path)
- paged                 ES from+size pagination (offset=40)
- phrase2               quoted phrase over the positional sidecar
                        (Spark path — phrase_search_written)
- fuzzy_prefix1         serving-tier fuzzy with prefix_length=1
                        (first-char-bucket vocabulary expansion)
- routed_ru             full read path: detect language → per-lang store
                        (RoutedSearchApp over a routed family built from the
                        same corpus with every 5th doc transliterated ru)

Protocol: cold fill, then median of N_WARM warm runs + [min, max] per class,
serving path (no Spark job) except phrase2. Rank parity of the serving path
vs the distributed path is asserted once per plain class.

Run: python tools/bench_query_classes.py [n_docs ...]   (default: 1000000)
"""

from __future__ import annotations

import json
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "scripts"))

from pyspark.sql import functions as F  # noqa: E402

from ucuddle_search_engine_spark.operators.wand import SegmentSearcher  # noqa: E402
from ucuddle_search_engine_spark.plans.build_index import (  # noqa: E402
    load_analyzer,
    load_searcher,
    phrase_search_written,
)
from ucuddle_search_engine_spark.session import get_spark  # noqa: E402

STORES = {
    200_000: "/root/repo/.data/store_200k",
    1_000_000: "/root/repo/.data/million_store",
    5_000_000: "/root/repo/.data/store_5m",
}
CORPORA = {
    200_000: "/root/repo/.data/corpus_200000",
    1_000_000: "/root/repo/.data/corpus_1000000",
    5_000_000: "/root/repo/.data/corpus_5000000",
}
ROUTED = {1_000_000: "/root/repo/.data/routed_1m"}
N_WARM = 7

# deterministic ru transliteration (same letter map the driver queries use)
TRANSLIT_SRC = "abcdefghijklmnopqrstuvwxyz"
TRANSLIT_DST = "абвгдежзийклмнопрстуфхцчшщ"
RU_STOP_PREFIX = "и что он как с ты же мне "


def build_routed_if_missing(spark, n_docs: int) -> str | None:
    """Routed per-language family over the same corpus: every 5th doc is
    transliterated ru with a ru-stopword prefix (the doc-side language label
    is the crawl-side detection the reference stores per doc), rest en."""
    root = ROUTED.get(n_docs)
    if root is None:
        return None
    if (Path(root) / "routing.json").exists():
        return root
    from ucuddle_search_engine_spark.plans.routed import build_routed_stores

    corpus = spark.read.parquet(CORPORA[n_docs])
    is_ru = F.pmod(F.xxhash64(F.concat_ws("/", "repo", "path")), F.lit(5)) == 0
    mixed = corpus.withColumn(
        "content",
        F.when(is_ru, F.concat(F.lit(RU_STOP_PREFIX),
                               F.translate(F.lower("content"), TRANSLIT_SRC, TRANSLIT_DST)))
        .otherwise(F.col("content")),
    ).withColumn("lang", F.when(is_ru, F.lit("ru")).otherwise(F.lit("en")))
    build_routed_stores(spark, mixed, root, n_units=2, num_shards=3, fallback_lang="ru")
    return root


def timed(fn, n_warm: int = N_WARM):
    t0 = time.time()
    fn()
    cold = time.time() - t0
    warm = []
    for _ in range(n_warm):
        t0 = time.time()
        fn()
        warm.append(time.time() - t0)
    return {
        "cold_ms": round(cold * 1000, 1),
        "warm_median_ms": round(statistics.median(warm) * 1000, 1),
        "warm_min_ms": round(min(warm) * 1000, 1),
        "warm_max_ms": round(max(warm) * 1000, 1),
    }


def bench_store(spark, n_docs: int) -> dict:
    store = STORES[n_docs]
    searcher = SegmentSearcher.open_local(store)
    dist = load_searcher(spark, store).prepare()

    plain = {
        "or2_head": (["t0", "t1"], "or", 0),
        "or4_head": (["t0", "t1", "t2", "t3"], "or", 0),
        "or3_mid": (["t50", "t120", "t300"], "or", 0),
        "tail1": (["t33333"], "or", 0),
        "and2": (["t10", "t40"], "and", 0),
        "and_mixed": (["t7", "t900", "t12000"], "and", 0),
        "paged": (["t0", "t1"], "or", 40),
    }
    out: dict = {}
    for name, (terms, mode, offset) in plain.items():
        # rank parity vs the distributed path, asserted before timing
        want = [(r["doc_id"], round(r["score"], 9)) for r in
                dist.search_terms(terms, k=10, mode=mode).collect()] if offset == 0 else None
        got = searcher.search_local(terms, k=10, mode=mode, offset=offset)
        if want is not None:
            assert [(d, round(s, 9)) for d, s in got] == want, name
        out[name] = timed(lambda: searcher.search_local(terms, k=10, mode=mode, offset=offset))

    # phrase over the positional sidecar (Spark path — one job per query);
    # these stores are identity-analyzed (load_analyzer → None), so the
    # phrase terms need no re-analysis
    assert load_analyzer(store) is None
    # head-head phrase = the honest worst case (both terms in ~every doc,
    # tens of positions each); mid-mid is the typical real shape. Both the
    # distributed path (one Spark job/query) and the Spark-free serving path
    # (phrase_search_local) are timed; parity asserted once per phrase.
    from ucuddle_search_engine_spark.operators.phrase import (
        PhraseKeysCache,
        phrase_search_local,
    )

    pk_cache = PhraseKeysCache()  # what SearchApp holds per store view
    for pname, phrase in (("phrase2_head", ["t0", "t1"]), ("phrase2_mid", ["t50", "t120"])):
        want = [(r["doc_id"], round(r["score"], 9)) for r in
                phrase_search_written(spark, store, phrase, k=10).collect()]
        got = [(d, round(s, 9)) for d, s in phrase_search_local(store, phrase, k=10)]
        assert got == want, pname
        out[pname] = timed(
            lambda p=phrase: phrase_search_written(spark, store, p, k=10).collect(), n_warm=3
        )
        out[pname + "_serve"] = timed(
            lambda p=phrase: phrase_search_local(store, p, k=10, cache=pk_cache), n_warm=3
        )

    # serving-tier fuzzy, prefix_length=1 (first-char bucket expansion)
    from serve import SearchApp

    app = SearchApp(store)
    out["fuzzy_prefix1"] = timed(
        lambda: app._search_uncached(app._view, "t123x t45", 10, "or", False, True, 1, 0),
        n_warm=3,
    )
    return out


def bench_routed(spark, n_docs: int) -> dict | None:
    root = build_routed_if_missing(spark, n_docs)
    if root is None:
        return None
    from serve import RoutedSearchApp

    app = RoutedSearchApp(root)
    q_ru = "как " + "t0 t1".translate(str.maketrans(TRANSLIT_SRC, TRANSLIT_DST))
    hits = app.search(q_ru, k=10)
    assert hits and all(h["lang"] == "ru" for h in hits), "ru routing must hit"

    def run():
        # bypass the response cache: the class times detection + per-lang
        # store ranking, not a dict hit
        a = app.apps["ru"]
        a._search_uncached(a._view, q_ru, 10, "or", False, False, 0, 0)

    return timed(run)


def _merge_runs(runs: list[dict]) -> dict:
    """Elementwise median across independent runs of one store size, plus
    the cross-run [min, max] of each class's warm_median_ms. This box takes
    intermittent multi-hundred-ms compaction/steal stalls (kcompactd has
    hours of CPU time) that blow a DIFFERENT class each run — a single
    cold+7-warm pass cannot average them out, but the per-class median over
    fresh-process runs does, and the spread shows exactly which classes the
    noise hit."""
    out: dict = {}
    for key in runs[0]:
        vals = [r[key] for r in runs if key in r]
        if isinstance(vals[0], dict):
            out[key] = {s: round(statistics.median(v[s] for v in vals), 1)
                        for s in vals[0]}
            wm = [v["warm_median_ms"] for v in vals]
            out[key]["runs_warm_median_spread"] = [min(wm), max(wm)]
        else:
            out[key] = round(statistics.median(vals), 1)
    return out


def main() -> None:
    import os
    import subprocess
    import tempfile

    args = sys.argv[1:]
    n_runs = 1
    out_path = None
    if "--runs" in args:
        i = args.index("--runs")
        n_runs = int(args[i + 1])
        args = args[:i] + args[i + 2:]
    if "--out" in args:
        i = args.index("--out")
        out_path = args[i + 1]
        args = args[:i] + args[i + 2:]
    sizes = [int(a) for a in args] or [1_000_000]

    if n_runs > 1:
        # fresh process per run: cache state is ordering-dependent
        # within a process, so each repeat must start from the same state
        per_run: list[dict] = []
        for r in range(n_runs):
            with tempfile.NamedTemporaryFile(suffix=".json", delete=False) as tf:
                tmp = tf.name
            subprocess.run(
                [sys.executable, __file__, *[str(s) for s in sizes], "--out", tmp],
                check=True,
            )
            per_run.append(json.loads(Path(tmp).read_text()))
            os.unlink(tmp)
            print(f"run {r + 1}/{n_runs} done", flush=True)
        merged = {str(n): _merge_runs([p[str(n)] for p in per_run]) for n in sizes}
        path = "/root/repo/BENCH/query_classes.json"
        prev = json.loads(Path(path).read_text()) if Path(path).exists() else {}
        prev.setdefault("sizes", {}).update(merged)
        prev["n_warm"] = N_WARM
        prev["n_runs"] = n_runs
        with open(path, "w") as f:
            json.dump(prev, f, indent=2)
        print(json.dumps(prev))
        return

    # the 5M-doc distributed phrase join OOMs an 8g heap (one observed task
    # failure); this box has 128 GiB — give the bench JVM real headroom
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")
    spark = get_spark("bench_query_classes", cores=32, shuffle_partitions=32)
    out: dict = {"n_warm": N_WARM, "sizes": {}}
    for n in sizes:
        row = bench_store(spark, n)
        routed = bench_routed(spark, n)
        if routed is not None:
            row["routed_ru"] = routed
        out["sizes"][str(n)] = row
        print(json.dumps({str(n): row}), flush=True)
    if out_path is not None:
        with open(out_path, "w") as f:
            json.dump(out["sizes"], f)
        return
    path = "/root/repo/BENCH/query_classes.json"
    prev = {}
    if Path(path).exists():
        prev = json.loads(Path(path).read_text())
    prev.setdefault("sizes", {}).update(out["sizes"])
    prev["n_warm"] = N_WARM
    with open(path, "w") as f:
        json.dump(prev, f, indent=2)
    print(json.dumps(prev))


if __name__ == "__main__":
    main()
