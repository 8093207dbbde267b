"""Physical store layout: term-major small-row-group segments/postings
(layout-as-pushdown for the serving tier's chain reads) and the in-place
upgrade path for stores written before it (the ES force-merge/reindex
analogue — elastic-interaction/elastic_settings.go:35-92 is the reference's
version of "rewrite the stored layout without touching content")."""

from __future__ import annotations

import glob
import os

import pytest

from ucuddle_search_engine_spark.operators.wand import SegmentSearcher
from ucuddle_search_engine_spark.plans.build_index import upgrade_segments_layout

QUERIES = ((["t0", "t1"], "or"), (["t0", "t1", "t2", "t3"], "or"),
           (["t5", "t40"], "and"), (["t123"], "or"))


def _ranked(store, terms, mode):
    s = SegmentSearcher.open_local(store)
    return [(d, round(sc, 9)) for d, sc in s.search_local(terms, k=10, mode=mode)]


@pytest.fixture(scope="module")
def store(built_store):
    return built_store(300, 4, n_units=2, write_postings=True)


def test_segments_written_term_major(store):
    """Build-time segments files are sorted term-major (term, field, shard,
    block_no) so row-group min/max stats give each term a skippable run —
    the shard-major order spread every term across the whole file and made
    stats pruning a no-op."""
    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(store, "segments", "unit=*", "tb=*",
                                          "*.parquet")))
    assert files
    checked = 0
    for f in files[:8]:
        t = pq.read_table(f, columns=["term", "field", "shard", "block_no"])
        rows = list(zip(t["term"].to_pylist(), t["field"].to_pylist(),
                        t["shard"].to_pylist(), t["block_no"].to_pylist()))
        assert rows == sorted(rows), f
        checked += 1
    assert checked


def test_upgrade_segments_layout_preserves_ranking(spark, store, tmp_path_factory):
    """upgrade_segments_layout rewrites every unit in place (force=True on a
    tiny store — the size heuristic is for real stores) without changing a
    single ranked answer, term or phrase; content is physical-order-free."""
    from ucuddle_search_engine_spark.operators.phrase import phrase_search_local

    want = {(tuple(t), m): _ranked(store, t, m) for t, m in QUERIES}
    want_phrase = [(d, round(s, 9)) for d, s in
                   phrase_search_local(store, ["t0", "t1"], k=10)]

    n = upgrade_segments_layout(spark, store, force=True)
    assert n == 4  # 2 units × (segments + postings)

    for (t, m), w in want.items():
        assert _ranked(store, list(t), m) == w, (t, m)
    got_phrase = [(d, round(s, 9)) for d, s in
                  phrase_search_local(store, ["t0", "t1"], k=10)]
    assert got_phrase == want_phrase

    # still term-major after the rewrite
    test_segments_written_term_major(store)

    # idempotence: without force, the already-small row groups are skipped
    assert upgrade_segments_layout(spark, store) == 0


def test_interrupted_swap_window_heals(spark, store, tmp_path_factory):
    """A crash inside the two-rename publish window (live dir missing,
    upgraded copy parked at .upgrade) is healed by re-running the upgrade:
    _finish_interrupted_swap publishes the complete copy, rankings are
    unchanged. Also covers the rollback arm: live dir missing with only
    .pre_upgrade present restores the original."""
    import shutil

    from ucuddle_search_engine_spark.plans.build_index import (
        _finish_interrupted_swap,
        upgrade_tstats,
    )

    out = os.path.join(str(tmp_path_factory.mktemp("idx_swap")), "store")
    shutil.copytree(store, out)
    want = _ranked(out, ["t0", "t1"], "or")
    path = os.path.join(out, "tstats")

    # simulate the window: original parked, an upgraded (here: identical)
    # copy fully written at .upgrade, live path missing
    shutil.copytree(path, path + ".upgrade")
    os.rename(path, path + ".pre_upgrade")
    assert not os.path.exists(path)
    upgrade_tstats(spark, out)  # entry point heals before inspecting
    assert os.path.isdir(path) and not os.path.exists(path + ".upgrade")
    assert _ranked(out, ["t0", "t1"], "or") == want

    # rollback arm: only the parked original exists
    os.rename(path, path + ".pre_upgrade")
    _finish_interrupted_swap(path)
    assert os.path.isdir(path) and not os.path.exists(path + ".pre_upgrade")
    assert _ranked(out, ["t0", "t1"], "or") == want
