"""Doc-id assignment: the scale path (range-partition + prefix-sum offsets,
no global single-task sort) must produce exactly the dense rank the sort
oracle produces, for any partitioning of the input."""

from __future__ import annotations

from ucuddle_search_engine_spark.operators.ids import (
    assign_doc_ids_hash,
    assign_doc_ids_prefix,
    assign_doc_ids_sort,
)
from ucuddle_search_engine_spark.synth import synth_corpus


def _mapping(df):
    return {(r["repo"], r["path"]): r["doc_id"] for r in df.select("repo", "path", "doc_id").collect()}


def test_prefix_equals_sort(spark):
    corpus = synth_corpus(spark, 500, partitions=7).cache()
    a = _mapping(assign_doc_ids_sort(corpus, ["repo", "path"]))
    b = _mapping(assign_doc_ids_prefix(corpus, ["repo", "path"], num_partitions=5))
    c = _mapping(assign_doc_ids_prefix(corpus, ["repo", "path"], num_partitions=13))
    assert a == b == c
    assert sorted(a.values()) == list(range(500))


def test_prefix_ids_stable_across_actions(spark):
    """r7 regression guard: the prefix path's bucket ids must come from the
    DATA, not from a per-action partition layout. Materialize the SAME output
    DataFrame several times (separate actions → separate physical plans) and
    require a dense, duplicate-free id space each time with an unchanged
    id ↔ key mapping — the old spark_partition_id()-based scheme could emit
    duplicate/skipped ids when repartitionByRange re-sampled differently
    between the counts job and the assignment job."""
    corpus = synth_corpus(spark, 700, partitions=9)  # NOT cached: every action replans
    out = assign_doc_ids_prefix(corpus, ["repo", "path"], num_partitions=6)
    maps = [_mapping(out) for _ in range(3)]
    assert maps[0] == maps[1] == maps[2]
    assert sorted(maps[0].values()) == list(range(700))
    # and it still equals the sort oracle
    assert maps[0] == _mapping(assign_doc_ids_sort(corpus, ["repo", "path"]))


def test_hash_ids_dense_unique_stable(spark):
    """Hash-bucket ids: dense 0..N-1, and identical for any partitioning or
    parallelism — the property a 10^12-file build needs from its id space."""
    corpus = synth_corpus(spark, 500, partitions=7).cache()
    a = _mapping(assign_doc_ids_hash(corpus, ["repo", "path"], num_buckets=64, num_partitions=3))
    b = _mapping(assign_doc_ids_hash(corpus.repartition(11), ["repo", "path"], num_buckets=64, num_partitions=9))
    assert a == b
    assert sorted(a.values()) == list(range(500))


def test_prefix_thousands_of_buckets_equals_sort(spark):
    """2048 range buckets: the per-row bucket lookup is a binary search over
    one literal boundary array, not a chain of 2047 comparisons (which
    overflows the 64 KB JIT method limit), and the ids still equal the sort
    oracle."""
    corpus = synth_corpus(spark, 2500, partitions=5).cache()
    a = _mapping(assign_doc_ids_sort(corpus, ["repo", "path"]))
    b = _mapping(assign_doc_ids_prefix(corpus, ["repo", "path"], num_partitions=2048))
    assert a == b
    assert sorted(b.values()) == list(range(2500))
