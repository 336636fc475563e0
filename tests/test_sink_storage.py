"""Sink storage seam: the compose plan must produce byte-identical
output through the local-FS path (FileComposer splicing part files) and
the object-storage path (MultipartComposer resolving part keys against a
blob store) — the cluster-topology decision must not change the bytes."""

from __future__ import annotations

import os
import random

import pytest

from hadoopwebgraph_spark.bvgraph.codec import (
    decode_all,
    encode_graph,
    encode_offsets,
    encode_segment_csr,
    to_csr,
    write_offsets,
)
from hadoopwebgraph_spark.bvgraph.properties import BVGraphProperties
from hadoopwebgraph_spark.bvgraph.sink import (
    _rephase,
    _segment_bases,
    compose_graph,
    compose_offsets,
)
from hadoopwebgraph_spark.bvgraph.storage import (
    FileComposer,
    LocalFSStore,
    MemoryStore,
    MultipartComposer,
)


@pytest.mark.parametrize("store_cls", [LocalFSStore, MemoryStore])
def test_segment_store_roundtrip(tmp_path, store_cls):
    store = (
        store_cls(str(tmp_path / "blobs")) if store_cls is LocalFSStore
        else store_cls()
    )
    store.put("a", b"hello")
    store.put("b", b"\x00\xff" * 10)
    assert store.get("a") == b"hello"
    assert store.size("b") == 20
    with store.open_read("a") as f:
        assert f.read() == b"hello"
    store.put("a", b"overwritten")
    assert store.get("a") == b"overwritten"
    store.cleanup()
    with pytest.raises(Exception):
        store.get("a")


def _build_segments(stores, n_nodes=300, n_segs=3):
    """Run the sink's encode + re-phase steps locally (same calls the two
    Spark jobs make) and populate every store with the artifacts."""
    rng = random.Random(7)
    adj = [
        sorted(rng.sample(range(n_nodes), rng.randrange(0, 8)))
        for _ in range(n_nodes)
    ]
    per = n_nodes // n_segs
    p0 = BVGraphProperties(nodes=n_nodes, arcs=0)
    meta = []
    for idx in range(n_segs):
        seg_adj = adj[idx * per : (idx + 1) * per]
        ps = BVGraphProperties(nodes=len(seg_adj), arcs=0)
        nbits, buf, offsets = encode_segment_csr(*to_csr(seg_adj), idx * per, ps)
        onbits, obuf = encode_offsets(offsets[1:], p0)
        for st in stores:
            st.put(f"seg-{idx:05d}.raw", buf)
            st.put(f"seg-{idx:05d}.offs.raw", obuf)
        meta.append((idx, idx * per, len(seg_adj), 0, nbits, onbits))
    n0bits, entry0 = encode_offsets([0], p0)
    seg_results, oseg_results = [], []
    for idx, base, nbits, obase, onbits in _segment_bases(meta, n_nodes, n0bits):
        for st in stores:  # parts must land in every store under test
            g = _rephase(st, f"seg-{idx:05d}", base, nbits)
            o = _rephase(st, f"seg-{idx:05d}.offs", obase, onbits)
        seg_results.append(g)
        oseg_results.append(o)
    return adj, p0, seg_results, entry0, n0bits, oseg_results


def test_compose_multipart_matches_file(tmp_path):
    fs_store = LocalFSStore(str(tmp_path / "spill"))
    blob_store = MemoryStore()
    adj, p0, seg_results, entry0, n0bits, oseg = _build_segments(
        [fs_store, blob_store]
    )

    fc = FileComposer(str(tmp_path / "out.graph"), fs_store)
    compose_graph(seg_results, fc)
    fc.close()
    fo = FileComposer(str(tmp_path / "out.offsets"), fs_store)
    compose_offsets(oseg, entry0, n0bits, fo)
    fo.close()

    mg = MultipartComposer(blob_store)
    compose_graph(seg_results, mg)
    mo = MultipartComposer(blob_store)
    compose_offsets(oseg, entry0, n0bits, mo)

    with open(tmp_path / "out.graph", "rb") as f:
        g_file = f.read()
    with open(tmp_path / "out.offsets", "rb") as f:
        o_file = f.read()
    assert mg.result() == g_file
    assert mo.result() == o_file
    # the multipart plan actually references parts by key — interiors
    # never stream through the driver as literal bytes
    assert sum(1 for kind, _ in mg.ops if kind == "part") == len(seg_results)
    # and the composed stream is a correct BVGraph: decodes to the input
    assert decode_all(g_file, p0) == adj
    # the offsets stream is exactly the composed graph's bit positions, and
    # window isolation never beats the one-segment encode's compression
    assert o_file == write_offsets(g_file, p0)
    assert len(g_file) >= len(encode_graph(adj)[0])


def test_compose_micro_segment_inline(tmp_path):
    """Degenerate micro-segments (< 16 bits) take the inline-literal path
    in both composers and still agree byte-for-byte."""
    store = MemoryStore()
    p0 = BVGraphProperties(nodes=1, arcs=0)
    # one node, empty adjacency -> a few bits only
    nbits, buf, offsets = encode_segment_csr(*to_csr([[]]), 0, p0)
    onbits, obuf = encode_offsets(offsets[1:], p0)
    store.put("seg-00000.raw", buf)
    store.put("seg-00000.offs.raw", obuf)
    seg_results = [_rephase(store, "seg-00000", 0, nbits)]
    assert seg_results[0][2] is not None  # micro-segment takes the inline path

    fc = FileComposer(str(tmp_path / "m.graph"), store)
    compose_graph(seg_results, fc)
    fc.close()
    mg = MultipartComposer(store)
    compose_graph(seg_results, mg)
    with open(tmp_path / "m.graph", "rb") as f:
        g_file = f.read()
    assert mg.result() == g_file

    n0bits, entry0 = encode_offsets([0], p0)
    oseg = [_rephase(store, "seg-00000.offs", n0bits, onbits)]
    assert oseg[0][2] is not None  # micro-chunk takes the inline path
    fo = FileComposer(str(tmp_path / "m.offsets"), store)
    compose_offsets(oseg, entry0, n0bits, fo)
    fo.close()
    mo = MultipartComposer(store)
    compose_offsets(oseg, entry0, n0bits, mo)
    with open(tmp_path / "m.offsets", "rb") as f:
        o_file = f.read()
    assert mo.result() == o_file
    assert (g_file, o_file) == encode_graph([[]])[:2]


def test_write_bvgraph_rejects_wrong_node_count(spark, tmp_path):
    """An ``n_nodes`` larger than the rows' dense src range is the
    caller's error: ValueError before any output file exists, also
    under ``python -O``."""
    from hadoopwebgraph_spark.bvgraph.datasource import read_bvgraph
    from hadoopwebgraph_spark.bvgraph.sink import write_bvgraph
    from hadoopwebgraph_spark.queries.graph import SMALL_BASENAME

    df = read_bvgraph(spark, SMALL_BASENAME, num_splits=4)
    base = str(tmp_path / "wrong")
    with pytest.raises(ValueError, match="src not dense"):
        write_bvgraph(df, base, n_nodes=2001)
    for ext in (".graph", ".offsets", ".properties"):
        assert not os.path.exists(base + ext)
