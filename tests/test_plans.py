"""Physical-plan assertions: the layout/pushdown/broadcast claims in the
module docstrings are checked here against .explain output, so a regression
that silently de-optimizes a plan fails CI, not a 100 TB run.

(The reference delegates these properties to ES; in Spark they are ours to
keep: SURVEY.md §4.)"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ucuddle_search_engine_spark.operators.bm25 import InvertedIndex
from ucuddle_search_engine_spark.operators.postings import build_docs, build_postings_fast, collection_stats, doclens_from_docs
from ucuddle_search_engine_spark.operators.segments import build_segments
from ucuddle_search_engine_spark.synth import synth_corpus


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


@pytest.fixture(scope="module")
def seg_store(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("segstore"))
    corpus = synth_corpus(spark, 300, partitions=4)
    docs = build_docs(corpus, num_shards=3, scale_ids="hash").persist()
    cstats = collection_stats(doclens_from_docs(docs))
    segs = build_segments(build_postings_fast(docs), None, cstats, num_shards=3)
    segs.sortWithinPartitions("shard", "term", "field", "block_no").write.mode("overwrite").parquet(out)
    return out


def test_segment_scan_pushes_term_filter(spark, seg_store):
    """A term lookup must reach the parquet scan as a pushed filter (layout-as-
    pushdown, SURVEY.md §4.1 row 1)."""
    seg = spark.read.parquet(seg_store)
    plan = _plan(seg.filter(F.col("term").isin("t0", "t1") & (F.col("field") == 0)))
    assert "PushedFilters" in plan
    assert "In(term" in plan and "EqualTo(field,0)" in plan


def test_segment_scan_prunes_columns(spark, seg_store):
    seg = spark.read.parquet(seg_store)
    plan = _plan(seg.filter(F.col("term") == "t0").select("term", "doc_bytes"))
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "doc_bytes" in read_schema
    assert "tf_bytes" not in read_schema  # unused columns never leave parquet


def test_dim_join_broadcasts(spark):
    """J3-class small-dim joins must be broadcast, not sort-merge."""
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    customer = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    plan = _plan(orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_exact_bm25_plan_shape(spark, documents):
    """Stats joins broadcast; top-k is TakeOrderedAndProject (no global sort)."""
    idx = InvertedIndex.from_documents_table(documents)
    plan = _plan(idx.search_terms(["spark", "table"], k=10))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_build_has_single_wide_exchange(spark):
    """The fast build's only wide shuffle is the (shard, term, …) grouping —
    count Exchange operators that aren't broadcast."""
    corpus = synth_corpus(spark, 200, partitions=4)
    docs = build_docs(corpus, num_shards=3, scale_ids="sort")  # sort id path excluded below
    cstats = collection_stats(doclens_from_docs(docs))
    segs = build_segments(build_postings_fast(docs.drop("_nope") if False else docs), None, cstats, num_shards=3)
    plan = _plan(segs)
    wide = [ln for ln in plan.splitlines() if ln.strip().startswith("+- Exchange hashpartitioning")
            or ln.strip().startswith(": +- Exchange hashpartitioning")
            or ("Exchange hashpartitioning" in ln and "Broadcast" not in ln)]
    # one hash exchange for the groupBy(shard, term, field, chunk); the id
    # assignment's range exchange is upstream of docs and not counted here
    assert len(wide) <= 2, plan[:2000]


def test_written_store_partition_pruning(spark, tmp_path_factory):
    """A written index prunes at the DIRECTORY level via the md5 term-bucket
    partition column — the query plan must show PartitionFilters on tb."""
    from ucuddle_search_engine_spark.plans.build_index import build_index_resumable, load_searcher

    out = str(tmp_path_factory.mktemp("idx_tb"))
    corpus = synth_corpus(spark, 300, partitions=4)
    build_index_resumable(spark, corpus, out, n_units=2, num_shards=3)
    s = load_searcher(spark, out)
    q = s.search_terms(["t5", "t40"], k=5, mode="or")
    plan = _plan(q)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln and "tb#" in ln]
    assert pf, plan[:1500]
    assert "IN (" in pf[0] or "IN(" in pf[0]


@pytest.fixture(scope="module")
def written_store(built_store):
    return built_store(300, 4, n_units=2, num_shards=3, write_postings=True)


def test_postings_sidecar_lookup_prunes(spark, written_store):
    """Highlight/phrase sidecar reads carry the same tb directory pruning as
    segments/tstats — a positions lookup never footer-scans the sidecar."""
    from ucuddle_search_engine_spark.plans.build_index import read_postings_sidecar

    plan = _plan(read_postings_sidecar(spark, written_store, ["t5", "t40"]))
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln and "tb#" in ln]
    assert pf, plan[:1500]
    assert "In(term" in plan, plan[:1500]


def test_tstats_lookup_prunes(spark, written_store):
    """A cold-term dictionary lookup must be DIRECTORY-pruned (tb partition
    filter) with the term filter pushed to the scan — at a 10⁹-term
    vocabulary it reads |q| of 64 directories, never the dictionary."""
    from ucuddle_search_engine_spark.plans.build_index import load_searcher

    s = load_searcher(spark, written_store)  # no prepare(): lazy dictionary
    plan = _plan(s.tstats_lookup_df(["t5", "t40"], [0, 1]))
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln and "tb#" in ln]
    assert pf, plan[:1500]
    assert "In(term" in plan, plan[:1500]  # pushed row-group filter
    # and the lookup actually resolves (same stats the eager path would give)
    got = dict(
        ((t, f), d) for t, f, d in s._read_tstats_spark(["t5", "t40"], [0, 1])
    )
    assert got and all(d > 0 for d in got.values())


def test_fuzzy_prefix_band_pushes_to_scan(spark, written_store):
    """prefix_length>=1 fuzzy: the stored p1 first-char column filters the
    dictionary scan (pushed In(p1,…)) before any levenshtein runs."""
    from ucuddle_search_engine_spark.operators.fuzzy import prefix_banded_dictionary
    from ucuddle_search_engine_spark.plans.build_index import load_searcher

    s = load_searcher(spark, written_store)
    plan = _plan(prefix_banded_dictionary(s.tstats, ["modul", "t00"], prefix_length=1))
    assert "In(p1" in plan, plan[:1500]


def test_fuzzy_expansion_plan(spark, documents):
    """The dictionary expansion must broadcast the tiny query-term side and
    keep levenshtein JVM-side — no Python UDF, no sort-merge join."""
    from ucuddle_search_engine_spark.operators.fuzzy import expand_terms

    dictionary = spark.createDataFrame(
        [(f"t{i}", i + 1) for i in range(500)], "term string, df long"
    )
    plan = _plan(expand_terms(dictionary, ["windoq", "strem"]))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan  # broadcast q-side
    assert "levenshtein" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bucketed_neardup_plan(spark):
    """Banded-LSH near-dup: candidates come from a hash join on the bucket
    key, vectors join back by id — never a nested-loop all-pairs."""
    from ucuddle_search_engine_spark.operators.dedup import embedding_neardup_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _plan(embedding_neardup_pairs(emb, 0.9, bucketed=True))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "bucket" in plan


def test_lang_routed_search_plan(spark, documents):
    """Routing adds no Python to the hot path: the per-lang index's search is
    the same broadcast-stats + TakeOrderedAndProject shape."""
    from ucuddle_search_engine_spark.operators.routing import LangRoutedIndex

    router = LangRoutedIndex(documents)
    plan = _plan(router.search("the windows and streams for customers", k=5))
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan


def test_bigram_pmi_plan_no_self_join(spark):
    """Adjacent-pair extraction is a per-row zip_with, so the token stream is
    never self-joined (the old posexplode + pos+1 join shuffled it twice);
    the only joins left are the two unigram-count lookups plus the broadcast
    1-row totals, and no driver action splits the plan."""
    import __spark_entry__ as entry

    df = entry.q_bigram_pmi(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "zip_with" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan  # totals
    # exactly 2 equi-joins (w1, w2 unigram lookups) — a self-join on
    # (doc_id, pos) would add a third (formatted explain lists each node once
    # as a "(n) NodeName" detail header)
    import re

    n_equi = len(re.findall(r"^\(\d+\) (?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)",
                            plan, re.M))
    assert n_equi <= 2, plan
    assert "posexplode" not in plan


def test_simhash_plan_no_bit_fanout(spark, documents):
    """SimHash packs 60 bits via conditional-sum aggregates over the un-fanned
    (doc_id, term, tf, h) rows — no ×60 crossJoin multiplying the exchange
    input (the 100 TB regression this guards against)."""
    from ucuddle_search_engine_spark.operators.dedup import simhash

    plan = _plan(simhash(documents))
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "Join" not in plan  # zero joins of any kind
