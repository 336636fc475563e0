"""Output checks against the generator's CSR. Pure NumPy, no Spark: the
runner calls them outside the timed regions and while no spans are
recorded, and counts every ``False`` as a failed operation."""

from __future__ import annotations

import numpy as np


def scan_truth(list_offsets) -> tuple[int, int, dict[int, int]]:
    """(sum of degrees, sum of src * degree, degree histogram)."""
    deg = np.diff(list_offsets)
    hist = np.bincount(deg)
    return (
        int(deg.sum()),
        int((np.arange(len(deg), dtype=np.int64) * deg).sum()),
        {d: int(c) for d, c in enumerate(hist) if c},
    )


def check_num_edges(fx, arcs: int, weighted: int) -> bool:
    want_arcs, want_weighted, _ = scan_truth(fx.list_offsets)
    return arcs == want_arcs and weighted == want_weighted


def check_histogram(fx, hist: dict[int, int]) -> bool:
    return hist == scan_truth(fx.list_offsets)[2]


def check_rows(fx, wanted_ids, rows) -> bool:
    """``rows`` [(src, adj)] must hold each wanted id exactly once, each
    with its CSR successor list."""
    wanted = sorted(set(int(i) for i in wanted_ids))
    if sorted(int(s) for s, _ in rows) != wanted:
        return False
    return all(list(adj) == fx.adj(int(s)) for s, adj in rows)


def check_written_graph(fx, basename: str) -> bool:
    """Decode a written triple and compare it to the CSR exactly: node and
    arc counts from ``.properties``, every successor list, and the
    ``.offsets`` bit positions against those the decode reached."""
    from hadoopwebgraph_spark.bvgraph import codec, native
    from hadoopwebgraph_spark.bvgraph.bitio import pad
    from hadoopwebgraph_spark.bvgraph.properties import parse_properties

    with open(basename + ".properties") as f:
        p = parse_properties(f.read())
    if p.nodes != fx.nodes or p.arcs != fx.arcs:
        return False
    with open(basename + ".graph", "rb") as f:
        graph = f.read()
    res = native.decode_range(pad(graph), p, 0, p.nodes, want_bitpos=True)
    if res is None:
        lists = codec.decode_all(graph, p)
        flat = [v for lst in lists for v in lst]
        lens = np.fromiter((len(x) for x in lists), dtype=np.int64, count=len(lists))
        values = np.asarray(flat, dtype=np.int32)
        list_offsets = np.concatenate([[0], np.cumsum(lens)])
        bitpos = None
    else:
        values, list_offsets, bitpos = res
    if not (
        np.array_equal(values, fx.values)
        and np.array_equal(list_offsets, fx.list_offsets)
    ):
        return False
    if bitpos is not None:
        with open(basename + ".offsets", "rb") as f:
            offsets = codec.load_offsets(f.read(), p)
        if not np.array_equal(offsets, np.concatenate([[0], bitpos])):
            return False
    return True


def check_pagerank(fx, nodes, ranks, rel_tol: float = 1e-9) -> bool:
    """Ranks must match the NumPy power iteration within ``rel_tol`` and
    sum to n."""
    nodes = np.asarray(nodes, dtype=np.int64)
    ranks = np.asarray(ranks, dtype=np.float64)
    if len(nodes) != fx.nodes or not np.array_equal(
        np.sort(nodes), np.arange(fx.nodes)
    ):
        return False
    got = np.empty(fx.nodes)
    got[nodes] = ranks
    want = fx.pagerank
    if not np.all(np.abs(got - want) <= rel_tol * np.abs(want)):
        return False
    return abs(got.sum() - fx.nodes) <= rel_tol * fx.nodes
