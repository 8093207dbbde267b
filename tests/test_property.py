"""Property-based tests (hypothesis) for the codec and bound invariants —
the parts of the engine where a single wrong byte or a one-ULP-low bound
silently corrupts results at scale. Complements the example-based suites."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from ucuddle_search_engine_spark.functions.varbyte import (
    decode_doc_ids,
    decode_doc_ids_concat,
    encode_doc_ids,
    vb_decode,
    vb_decode_concat,
    vb_encode,
)

uint_lists = st.lists(st.integers(min_value=0, max_value=2**62 - 1), max_size=200)


@settings(max_examples=150, deadline=None)
@given(uint_lists)
def test_varbyte_roundtrip(vals):
    arr = np.asarray(vals, dtype=np.uint64)
    assert np.array_equal(vb_decode(vb_encode(arr)), arr)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.sets(st.integers(min_value=0, max_value=2**61), max_size=60), max_size=20))
def test_docid_blocks_concat_roundtrip(blocks):
    """Concat decode over arbitrary block partitions == per-block decode,
    including empty blocks and singleton values (delta restart per block)."""
    encoded = [encode_doc_ids(np.asarray(sorted(b), dtype=np.uint64)) for b in blocks]
    got, counts = decode_doc_ids_concat(encoded)
    per_block = [decode_doc_ids(e) for e in encoded]
    assert list(counts) == [len(p) for p in per_block]
    want = np.concatenate(per_block) if per_block else np.zeros(0, np.uint64)
    assert np.array_equal(got, want)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 10**6), st.integers(0, 100), st.floats(0.01, 10.0)),
        min_size=1, max_size=64,
    ),
    st.integers(0, 10**6),
    st.integers(0, 200),
)
def test_blocklist_range_bound_never_underestimates(blocks, lo, width):
    """range_max_ub / range_max_ub_vec must be >= the true max ub over
    intersecting blocks for ANY block layout — sorted, shuffled, or
    overlapping (the conservative fallback)."""
    from ucuddle_search_engine_spark.functions.varbyte import vb_encode as _ve
    from ucuddle_search_engine_spark.operators.wand import _BlockList

    hi = lo + width
    # block i is block_no i: one posting at its range start
    L = _BlockList(
        np.ones(len(blocks), np.int64),
        np.asarray([ub for _, _, ub in blocks], np.float64),
        np.asarray([start for start, _, _ in blocks], np.int64),
        np.asarray([start + w for start, w, _ in blocks], np.int64),
        [encode_doc_ids(np.asarray([start], np.uint64)) for start, _, _ in blocks],
        [_ve(np.asarray([1], np.uint64))] * len(blocks),
        [_ve(np.asarray([10], np.uint64))] * len(blocks),
        weight_idf=1.0, avgdl=10.0)
    true_max = max(
        (ub for (start, w, ub) in blocks if start + w >= lo and start <= hi),
        default=0.0,
    )
    eps = 1e-9 * max(1.0, true_max)
    assert L.range_max_ub(lo, hi) >= true_max - eps
    vec = L.range_max_ub_vec(np.asarray([lo], np.int64), np.asarray([hi], np.int64))
    assert vec[0] >= true_max - eps
