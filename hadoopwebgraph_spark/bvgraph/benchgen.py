"""Seeded web-graph generator behind the benchmark (``graphbench``).

``gen_xl_adjacency(n, avg_deg, seed)`` builds, vectorized with NumPy, a
deterministic adjacency with the locality/power-law shape of the
committed fixtures, so the interval, reference and residual coding paths
of the codec all get exercised. Nothing is written to disk here; the
caller encodes the result.
"""

from __future__ import annotations


def gen_xl_adjacency(n: int, avg_deg: int, seed: int):
    """Vectorized power-law + locality adjacency. Returns (values int32,
    list_offsets int64[n+1]) in CSR form, successors strictly increasing
    per list."""
    import numpy as np

    rng = np.random.default_rng(seed)
    # clipped pareto degrees, mean ~avg_deg
    deg = np.minimum(
        (rng.pareto(1.35, n) * (avg_deg / 3.8)).astype(np.int64) + 2, 400
    )
    m = int(deg.sum())
    src = np.repeat(np.arange(n, dtype=np.int64), deg)
    # 60% local edges (src +- 50), 40% uniform — gives interval/reference
    # coding something to compress, like the committed fixtures
    local = rng.random(m) < 0.6
    dst = np.where(
        local,
        np.clip(src + rng.integers(-50, 51, m), 0, n - 1),
        rng.integers(0, n, m),
    )
    # dedupe (src, dst) pairs and sort successors per list in one pass
    key = src * n + dst
    key = np.unique(key)  # sorted -> lists come out sorted too
    u_src = (key // n).astype(np.int64)
    u_dst = (key % n).astype(np.int32)
    counts = np.bincount(u_src, minlength=n)
    list_offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(counts, out=list_offsets[1:])
    return u_dst, list_offsets
