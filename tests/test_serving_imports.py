"""The serving process is Spark-free: importing scripts/serve.py and
answering one query of every class loads no pyspark, py4j, pandas or
pyarrow.dataset module.

The check runs in a fresh interpreter (this test process has pyspark loaded
already) over a private store copy that carries the positional sidecar and
one tombstoned doc, so the tombstone read, both phrase engines, the fuzzy
vocabulary reads and the highlight sidecar read all run.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = Path(__file__).resolve().parents[1]
DEAD = 3

SCRIPT = r"""
import importlib.util, json, sys

store, dead = sys.argv[1], int(sys.argv[2])
spec = importlib.util.spec_from_file_location("serve", sys.argv[3])
serve = importlib.util.module_from_spec(spec)
spec.loader.exec_module(serve)
from ucuddle_search_engine_spark.operators import phrase
from ucuddle_search_engine_spark.operators.routing import detect_lang

app = serve.SearchApp(store).warm()
assert app.searcher.tombstones == [dead], app.searcher.tombstones
queries = {
    "or": {"q": "t0 t1 t5"},
    "and": {"q": "t2 t7", "mode": "and"},
    "paged": {"q": "t3 t9 t11", "offset": 5},
    "phrase_rank": {"q": '"t0 t1"'},
    "fuzzy_prefix1": {"q": "t1x", "fuzzy": True, "prefix_length": 1},
    "fuzzy_prefix0": {"q": "t2x", "fuzzy": True, "prefix_length": 0},
    "highlight": {"q": "t4 t8", "highlight": True},
    "repeat": {"q": "t0 t1 t5"},
}
hits = {name: app.search(**kw) for name, kw in queries.items()}
# the key engine: a store the rank engine refuses is served by it
phrase._RANK_INVALID.add((store, 0))
hits["phrase_key"] = app.search('"t1 t2"')
lang = detect_lang("погода у львові")
forbidden = [m for m in sys.modules
             if m.split(".")[0] in ("pyspark", "py4j", "pandas") or m == "pyarrow.dataset"]
print(json.dumps({"hits": {k: [h["doc_id"] for h in v] for k, v in hits.items()},
                  "lang": lang, "forbidden": sorted(forbidden)}))
"""


def test_serving_process_loads_no_spark_pandas_or_dataset(built_store):
    store = built_store(400, 4, n_units=2, write_postings=True)
    os.makedirs(os.path.join(store, "tombstones"))
    pq.write_table(pa.table({"doc_id": pa.array([DEAD], pa.int64())}),
                   os.path.join(store, "tombstones", "part-0.parquet"))
    run = subprocess.run(
        [sys.executable, "-c", SCRIPT, store, str(DEAD), str(ROOT / "scripts" / "serve.py")],
        capture_output=True, text=True, timeout=300,
        env=dict(os.environ, PYTHONPATH=str(ROOT)), cwd=str(ROOT))
    assert run.returncode == 0, run.stderr[-3000:]
    got = json.loads(run.stdout.strip().splitlines()[-1])
    assert got["forbidden"] == [], got["forbidden"]
    for name, ids in got["hits"].items():
        assert ids, name  # every query class was answered
        assert DEAD not in ids, name
    assert got["lang"] == "uk"
