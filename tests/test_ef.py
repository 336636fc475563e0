"""Elias-Fano offsets index: exactness against the int64 fold on random
monotone sequences, the access paths partition planning uses, and the
footprint claim on a synthetic large-n offsets stream."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from hadoopwebgraph_spark.bvgraph.ef import EliasFanoOffsets


@settings(max_examples=80, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=3000), min_size=1, max_size=400),
    st.integers(min_value=0, max_value=2**31),
)
def test_ef_matches_dense(deltas, goal):
    vals = np.cumsum(np.asarray(deltas, dtype=np.int64))
    ef = EliasFanoOffsets(vals)
    n = len(vals)
    for i in (0, n // 2, n - 1):
        assert ef[i] == vals[i]
    a, b = n // 3, 2 * n // 3 + 1
    assert np.array_equal(ef[a:b], vals[a:b])
    assert np.array_equal(ef[0:n], vals)
    assert ef.searchsorted(goal) == int(np.searchsorted(vals, goal, side="left"))


def test_ef_rejects_non_monotone():
    with pytest.raises(ValueError):
        EliasFanoOffsets(np.array([3, 2, 5], dtype=np.int64))


def test_ef_footprint_large_n():
    """Synthetic 5M-node offsets stream at ~25 bits/node average: the
    retained index must be under a quarter of the int64 fold (observed
    ~0.17x; the reference's true bit-packed EF would be ~0.15x)."""
    rng = np.random.default_rng(42)
    vals = np.cumsum(rng.integers(5, 45, size=5_000_001)).astype(np.int64)
    ef = EliasFanoOffsets(vals)
    assert ef.nbytes() < 0.25 * vals.nbytes
    idx = rng.integers(0, len(vals), size=500)
    assert all(ef[int(i)] == vals[int(i)] for i in idx)
    mid = len(vals) // 2
    assert np.array_equal(ef[mid : mid + 10_000], vals[mid : mid + 10_000])


def test_planner_uses_ef(spark):
    """Partition planning must produce identical splits through the
    compressed index (plan cache holds EF, not the int64 array)."""
    from hadoopwebgraph_spark.bvgraph.datasource import (
        BVGraphReader,
        _plan_state,
    )
    from hadoopwebgraph_spark.queries.graph import SMALL_BASENAME

    _, offsets = _plan_state(SMALL_BASENAME)
    assert isinstance(offsets, EliasFanoOffsets)
    reader = BVGraphReader({"basename": SMALL_BASENAME, "numsplits": "13"})
    parts = reader.partitions()
    assert parts[0].from_node == 0 and parts[-1].up_to == 2000
    # contiguous, non-overlapping node ranges
    for a, b in zip(parts, parts[1:]):
        assert a.up_to == b.from_node
