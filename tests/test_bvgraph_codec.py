"""BVGraph codec unit tests — the decode-kernel property suite from
SURVEY.md §5.2.3: code round-trips, graph round-trips across parameter
grids, mid-graph window seeding, and format invariants."""

from __future__ import annotations

import random

import pytest

from hadoopwebgraph_spark.bvgraph.bitio import (
    BitReader,
    BitWriter,
    int2nat,
    nat2int,
)
from hadoopwebgraph_spark.bvgraph.codec import (
    NodeIterator,
    decode_all,
    encode_graph,
    load_offsets,
    write_offsets,
)
from hadoopwebgraph_spark.bvgraph.properties import (
    BVGraphProperties,
    format_properties,
    parse_properties,
)


def test_code_roundtrips():
    values = list(range(0, 1000)) + [2**10, 2**16 - 1, 2**20, 2**30, 2**31 - 1]
    w = BitWriter()
    for v in values:
        w.write_unary(v % 70)
        w.write_gamma(v)
        w.write_delta(v)
        for k in (1, 2, 3, 5):
            w.write_zeta(v, k)
        w.write_nibble(v)
    r = BitReader(w.to_bytes())
    for v in values:
        assert r.read_unary() == v % 70
        assert r.read_gamma() == v
        assert r.read_delta() == v
        for k in (1, 2, 3, 5):
            assert r.read_zeta(k) == v
        assert r.read_nibble() == v


def test_zigzag():
    for x in range(-100, 100):
        assert nat2int(int2nat(x)) == x


def _random_graph(n: int, seed: int, locality: float = 0.7, max_deg: int = 40):
    rng = random.Random(seed)
    adj = []
    for x in range(n):
        d = min(int(rng.paretovariate(1.3)), max_deg)
        s = set()
        for _ in range(d):
            if rng.random() < locality:
                v = min(n - 1, max(0, x + rng.randint(-15, 15)))
            else:
                v = rng.randrange(n)
            s.add(v)
        adj.append(sorted(s))
    return adj


PARAM_GRID = [
    dict(window_size=7, max_ref_count=3, min_interval_length=4, zeta_k=3),
    dict(window_size=0, max_ref_count=0, min_interval_length=4, zeta_k=3),
    dict(window_size=3, max_ref_count=1, min_interval_length=2, zeta_k=2),
    dict(window_size=7, max_ref_count=3, min_interval_length=4, zeta_k=3,
         compressionflags="OUTDEGREES_DELTA|RESIDUALS_NIBBLE|REFERENCES_GAMMA"),
]


@pytest.mark.parametrize("kw", PARAM_GRID)
def test_graph_roundtrip(kw):
    adj = _random_graph(300, seed=42)
    g, o, p = encode_graph(adj, **kw)
    assert decode_all(g, p) == adj
    # offsets agree with a full re-derivation (the A9 sink)
    assert write_offsets(g, p) == o


def test_empty_and_edge_lists():
    adj = [[], [0], [], [0, 1, 2, 3, 4, 5], [3], [], [0, 5], []]
    g, o, p = encode_graph(adj)
    assert decode_all(g, p) == adj


def test_self_loops_and_full_rows():
    n = 50
    adj = [sorted({x, 0, n - 1}) for x in range(n)]
    adj[7] = list(range(n))  # full row -> long interval
    g, o, p = encode_graph(adj)
    assert decode_all(g, p) == adj


def test_mid_graph_window_seeding():
    """decode(split@k) == decode(full)[k:] for tricky split starts —
    the window-seeding path (HdfsBVGraph.java:221-229 semantics)."""
    adj = _random_graph(200, seed=7)
    g, ob, p = encode_graph(adj)
    offsets = load_offsets(ob, p)
    full = decode_all(g, p)
    for k in (0, 1, p.window_size, p.window_size + 1, 100, 199):
        part = [lst for _, lst in NodeIterator(g, p, from_node=k, offsets=offsets)]
        assert part == full[k:], f"mismatch starting at {k}"


def test_invariants():
    adj = _random_graph(150, seed=3)
    g, ob, p = encode_graph(adj)
    assert p.nodes == 150
    assert p.arcs == sum(len(a) for a in adj)
    out = decode_all(g, p)
    assert sum(len(a) for a in out) == p.arcs
    for lst in out:
        assert lst == sorted(set(lst))
    offsets = load_offsets(ob, p)
    assert len(offsets) == p.nodes + 1
    assert offsets[-1] <= len(g) * 8


def test_properties_roundtrip():
    p = BVGraphProperties(nodes=10, arcs=20, compressionflags="RESIDUALS_ZETA")
    q = parse_properties(format_properties(p))
    assert q.nodes == 10 and q.arcs == 20
    assert q.codes == p.codes


def test_bad_properties_rejected():
    with pytest.raises(ValueError):
        parse_properties("graphclass=x.y.SomethingElse\nversion=0\nnodes=1\narcs=0\n")
    with pytest.raises(ValueError):
        parse_properties(
            "graphclass=it.unimi.dsi.webgraph.BVGraph\nversion=99\nnodes=1\narcs=0\n"
        )


def test_encode_graph_rebuilds_committed_fixture():
    """``encode_graph`` (one kernel-encoded segment) reproduces the
    committed small fixture bit for bit from its generator."""
    import importlib.util
    import os

    from hadoopwebgraph_spark.queries.graph import SMALL_BASENAME

    gen_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts",
        "gen_graph_fixture.py",
    )
    spec = importlib.util.spec_from_file_location("gen_graph_fixture", gen_path)
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    g, o, _ = encode_graph(gen.gen_adjacency(2000, 42))
    with open(SMALL_BASENAME + ".graph", "rb") as f:
        assert g == f.read()
    with open(SMALL_BASENAME + ".offsets", "rb") as f:
        assert o == f.read()
