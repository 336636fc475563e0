"""Property-based codec tests (hypothesis): arbitrary adjacency structures
must round-trip through encode/decode under arbitrary format parameters —
the strongest guard on the decode kernel's reference-chain / interval /
residual edge cases."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from hadoopwebgraph_spark.bvgraph.bitio import BitReader, BitWriter
from hadoopwebgraph_spark.bvgraph.codec import (
    NodeIterator,
    decode_all,
    encode_graph,
    load_offsets,
)


@st.composite
def adjacency(draw):
    n = draw(st.integers(min_value=0, max_value=60))
    adj = []
    for _ in range(n):
        succ = draw(
            st.lists(st.integers(min_value=0, max_value=max(0, n - 1)), max_size=25)
        )
        adj.append(sorted(set(succ)) if n else [])
    return adj


@st.composite
def params(draw):
    return dict(
        window_size=draw(st.integers(min_value=0, max_value=8)),
        max_ref_count=draw(st.integers(min_value=0, max_value=4)),
        min_interval_length=draw(st.sampled_from([0, 2, 3, 4, 7])),
        zeta_k=draw(st.integers(min_value=1, max_value=5)),
    )


@settings(max_examples=60, deadline=None)
@given(adjacency(), params())
def test_roundtrip_any_graph_any_params(adj, kw):
    if kw["min_interval_length"] == 0:
        kw["min_interval_length"] = 1  # 0 == NO_INTERVALS sentinel; keep >=1
    g, ob, p = encode_graph(adj, **kw)
    assert decode_all(g, p) == adj
    if adj:
        offsets = load_offsets(ob, p)
        mid = len(adj) // 2
        part = [lst for _, lst in NodeIterator(g, p, from_node=mid, offsets=offsets)]
        assert part == adj[mid:]


_FLAG_STRINGS = st.sampled_from(
    [
        "",
        "RESIDUALS_GAMMA",
        "RESIDUALS_DELTA|OUTDEGREES_DELTA",
        "BLOCKS_DELTA|BLOCK_COUNT_DELTA|REFERENCES_GAMMA",
        "RESIDUALS_NIBBLE|OFFSETS_DELTA",
        "OUTDEGREES_ZETA|RESIDUALS_ZETA",
    ]
)


@settings(max_examples=60, deadline=None)
@given(adjacency(), params(), _FLAG_STRINGS)
def test_native_kernel_matches_python(adj, kw, flags):
    """The C kernel and the Python decoder are pinned to identical output
    on arbitrary graphs, format params, and per-field code choices —
    full-range, mid-range with window seeding, and per-node bit positions."""
    import numpy as np
    import pytest

    from hadoopwebgraph_spark.bvgraph import native
    from hadoopwebgraph_spark.bvgraph.bitio import pad

    if native.get_lib() is None:
        pytest.skip("no C compiler available")
    if kw["min_interval_length"] == 0:
        kw["min_interval_length"] = 1
    g, ob, p = encode_graph(adj, compressionflags=flags, **kw)
    assert decode_all(g, p) == adj  # python spec holds under these codes

    padded = pad(g)
    res = native.decode_range(padded, p, 0, p.nodes, want_bitpos=True)
    assert res is not None
    vals, offs, bitpos = res
    got = [vals[offs[i] : offs[i + 1]].tolist() for i in range(p.nodes)]
    assert got == adj

    if adj:
        offsets = load_offsets(ob, p)
        # bit cursor after each node == the offsets stream's positions
        assert np.array_equal(bitpos, offsets[1:])
        mid = len(adj) // 2
        res2 = native.decode_range(
            padded,
            p,
            mid,
            p.nodes,
            seed_offsets=offsets[: mid + 1],
            seed_base=0,
            start_bit=int(offsets[mid]),
        )
        assert res2 is not None
        v2, o2, _ = res2
        got2 = [v2[o2[i] : o2[i + 1]].tolist() for i in range(p.nodes - mid)]
        assert got2 == adj[mid:]


@settings(max_examples=60, deadline=None)
@given(adjacency(), params(), _FLAG_STRINGS, st.integers(min_value=0, max_value=5000))
def test_native_encoder_matches_python(adj, kw, flags, first_src):
    """The C segment encoder must be BIT-IDENTICAL to the Python spec
    (same reference-candidate order and strict-less tie-break) across
    arbitrary graphs, params, code flags, and segment start offsets; so
    must the C offsets-stream coder behind ``encode_offsets``."""
    import numpy as np
    import pytest

    from unittest import mock

    from hadoopwebgraph_spark.bvgraph import native
    from hadoopwebgraph_spark.bvgraph.codec import encode_offsets, encode_segment_py
    from hadoopwebgraph_spark.bvgraph.properties import BVGraphProperties

    if native.get_lib() is None:
        pytest.skip("no C compiler available")
    if kw["min_interval_length"] == 0:
        kw["min_interval_length"] = 1
    p = BVGraphProperties(
        nodes=len(adj), arcs=sum(map(len, adj)), compressionflags=flags, **kw
    )
    nb_py, buf_py, off_py = encode_segment_py(adj, first_src, p)
    n = len(adj)
    lo = np.zeros(n + 1, dtype=np.int64)
    if n:
        np.cumsum([len(a) for a in adj], out=lo[1:])
    vals = np.fromiter((v for a in adj for v in a), np.int32, count=int(lo[-1]))
    res = native.encode_segment(vals, lo, first_src, p)
    assert res is not None
    nb_c, buf_c, off_c = res
    assert (nb_c, buf_c, off_c.tolist()) == (nb_py, buf_py, off_py)
    # the offsets-stream coder: kernel == Python spec, bit for bit
    native_off = encode_offsets(off_py, p)
    with mock.patch.object(native, "get_lib", lambda: None):
        assert encode_offsets(off_py, p) == native_off


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**31 - 1), max_size=50))
def test_code_roundtrip_any_values(values):
    w = BitWriter()
    for v in values:
        w.write_gamma(v)
        w.write_delta(v)
        w.write_zeta(v, 3)
        w.write_nibble(v)
    r = BitReader(w.to_bytes())
    for v in values:
        assert r.read_gamma() == v
        assert r.read_delta() == v
        assert r.read_zeta(3) == v
        assert r.read_nibble() == v


def _bits(raw: bytes, nbits: int) -> str:
    return "".join(f"{b:08b}" for b in raw)[:nbits]


@settings(max_examples=300, deadline=None)
@given(
    st.tuples(st.binary(min_size=1, max_size=2), st.integers(0, 7)),
    st.lists(
        st.tuples(st.binary(max_size=40), st.integers(0, 7)), max_size=8
    ),
)
def test_compose_offsets_matches_bitstring(entry, chunks):
    """sink.compose_offsets (the driver's vectorized chunk re-phasing)
    must agree with a naive bit-string model: the ``entry0`` bits, then
    each chunk's first ``nbits`` bits, zero-padded to whole bytes. Chunks
    run from 0 to 320 bits, so every phase, chunks under 16 bits and
    garbage pad bits are covered."""
    import io

    from hadoopwebgraph_spark.bvgraph.sink import compose_offsets
    from hadoopwebgraph_spark.bvgraph.storage import MemoryStore

    entry0, n0bits = entry[0], 8 * len(entry[0]) - entry[1]
    store, keyed = MemoryStore(), []
    for i, (raw, drop) in enumerate(chunks):
        store.put(f"c{i}", raw)
        keyed.append((f"c{i}", max(0, 8 * len(raw) - drop)))
    out = io.BytesIO()
    compose_offsets(keyed, store, out, entry0, n0bits)

    bits = _bits(entry0, n0bits) + "".join(
        _bits(store.get(key), nbits) for key, nbits in keyed
    )
    bits += "0" * (-len(bits) % 8)
    assert out.getvalue() == bytes(
        int(bits[i : i + 8], 2) for i in range(0, len(bits), 8)
    )


# ---- round-5 media codec properties ----


def test_lzw_roundtrip_property():
    """Any byte string survives GIF LZW compress->decompress, across
    min code sizes (hypothesis mirrors the bvgraph codec strategy)."""
    from hypothesis import given, settings, strategies as st

    from hadoopwebgraph_spark.functions.codecs import (
        _lzw_compress,
        _lzw_decompress,
    )

    @settings(max_examples=80, deadline=None)
    @given(st.binary(min_size=0, max_size=4000))
    def check(data):
        assert _lzw_decompress(_lzw_compress(data)) == data

    check()


def test_lzw_small_alphabet_min_code_sizes():
    from hypothesis import given, settings, strategies as st

    from hadoopwebgraph_spark.functions.codecs import (
        _lzw_compress,
        _lzw_decompress,
    )

    @settings(max_examples=40, deadline=None)
    @given(
        st.integers(min_value=2, max_value=7),
        st.lists(st.integers(min_value=0, max_value=3), max_size=2000),
    )
    def check(mcs, vals):
        data = bytes(vals)
        assert _lzw_decompress(_lzw_compress(data, mcs), mcs) == data

    check()


def test_ulaw_companding_properties():
    """Monotonicity and bounded error of the G.711 pair on arbitrary
    int16 samples; expand∘compress is idempotent (a quantizer)."""
    import numpy as np
    from hypothesis import given, settings, strategies as st

    from hadoopwebgraph_spark.functions.codecs import ulaw_compress, ulaw_expand

    @settings(max_examples=60, deadline=None)
    @given(st.lists(st.integers(min_value=-32768, max_value=32767), min_size=1, max_size=500))
    def check(vals):
        x = np.array(vals, dtype=np.int16)
        q = ulaw_expand(ulaw_compress(x))
        # quantizer: applying the pair twice changes nothing
        assert (ulaw_expand(ulaw_compress(q)) == q).all()
        # error bounded by the largest segment step (top segment: 256*4)
        assert int(np.max(np.abs(q.astype(np.int32) - np.clip(x, -32635, 32635).astype(np.int32)))) <= 1024
        # sign preserved (zero may go either way)
        nz = np.abs(x.astype(np.int32)) > 132
        assert (np.sign(q.astype(np.int32))[nz] == np.sign(x.astype(np.int32))[nz]).all()

    check()
