"""Capture .explain('formatted') for round-7-touched queries into
plans/r07/<name>_<tag>.txt. Run:

    SPARK_GRAFT_SF_DIR=.data/sf0.1x10 python tools/capture_plans_r07.py after
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from ucuddle_search_engine_spark.operators.pagerank import pagerank  # noqa: E402
from ucuddle_search_engine_spark.session import get_spark  # noqa: E402
from ucuddle_search_engine_spark.sources.testdata import load_table  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", str(ROOT / ".data/sf0.1x10"))
OUT = ROOT / "plans" / "r07"


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "after"
    spark = get_spark("capture_plans_r07", cores="32", shuffle_partitions=32)
    OUT.mkdir(parents=True, exist_ok=True)

    df = entrymod.queries()["window_latest_event"](spark, SF_DIR)
    (OUT / f"window_latest_event_{tag}.txt").write_text(formatted(df))

    events = load_table(spark, SF_DIR, "events")
    edges = (
        events.select(
            (F.col("user_id") % 500).alias("src_doc_id"),
            (F.col("event_id") % 500).alias("dst_doc_id"),
        )
        .filter(F.col("src_doc_id") != F.col("dst_doc_id"))
        .dropDuplicates()
    )
    ids = spark.range(500).select(F.col("id").alias("doc_id"))
    pr = pagerank(edges, ids, iterations=5)
    (OUT / f"pagerank_5iter_{tag}.txt").write_text(formatted(pr))
    print("captured", tag)


if __name__ == "__main__":
    main()
