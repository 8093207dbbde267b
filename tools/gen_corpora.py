"""(Re)generate the deterministic scale-bench corpora under .data/ —
the fixtures bench_scale_curve.py / bench_million.py / bench_query_classes.py
read. Deterministic per doc index (synth.py Philox keying), so a regenerated
corpus is bit-identical to any earlier round's. Run:

    python tools/gen_corpora.py [max_docs]
"""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from ucuddle_search_engine_spark.session import get_spark  # noqa: E402
from ucuddle_search_engine_spark.synth import synth_corpus  # noqa: E402

SIZES = {
    200_000: str(ROOT / ".data/corpus_200000"),
    1_000_000: str(ROOT / ".data/corpus_1000000"),
    5_000_000: str(ROOT / ".data/corpus_5000000"),
}


def main() -> None:
    import os
    import time

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")
    cap = int(sys.argv[1]) if len(sys.argv) > 1 else max(SIZES)
    spark = get_spark("gen_corpora", cores=32, shuffle_partitions=64)
    for n, path in SIZES.items():
        if n > cap:
            continue
        if (Path(path) / "_SUCCESS").exists():
            print(f"{path}: exists, skipping", flush=True)
            continue
        t0 = time.time()
        synth_corpus(spark, n).write.mode("overwrite").parquet(path)
        print(f"{path}: generated in {round(time.time() - t0, 1)}s", flush=True)


if __name__ == "__main__":
    main()
