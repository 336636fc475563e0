"""Sink storage seam: the driver's compose must produce the same bytes
whichever ``SegmentStore`` holds the spilled chunks, and those bytes must
be a correct BVGraph — the cluster-topology decision must not change the
output."""

from __future__ import annotations

import io
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
    _segment_chunks,
    compose_graph,
    compose_offsets,
)
from hadoopwebgraph_spark.bvgraph.storage import LocalFSStore, MemoryStore


@pytest.mark.parametrize("store_cls", [LocalFSStore, MemoryStore])
def test_segment_store_roundtrip(tmp_path, store_cls):
    store = (
        store_cls(str(tmp_path / "blobs")) if store_cls is LocalFSStore
        else store_cls()
    )
    store.put("a", b"hello")
    store.put("b", b"\x00\xff" * 10)
    assert store.get("a") == b"hello"
    assert store.get("b") == b"\x00\xff" * 10
    store.put("a", b"overwritten")
    assert store.get("a") == b"overwritten"
    store.cleanup()
    with pytest.raises(Exception):
        store.get("a")


def _spill_segments(adj, n_segs, stores):
    """Run the sink's encode-task steps locally (the same calls its Spark
    job makes), spill the chunks into every store, and return the
    driver's ordered ``(key, nbits)`` chunk lists plus the node-0
    offsets entry."""
    n = len(adj)
    per = -(-n // n_segs)
    p0 = BVGraphProperties(nodes=n, arcs=0)
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
    graph_chunks, offsets_chunks = _segment_chunks(meta, n)
    n0bits, entry0 = encode_offsets([0], p0)
    return p0, graph_chunks, offsets_chunks, entry0, n0bits


def _compose_streams(store, graph_chunks, offsets_chunks, entry0, n0bits):
    g, o = io.BytesIO(), io.BytesIO()
    compose_graph(graph_chunks, store, g)
    compose_offsets(offsets_chunks, store, o, entry0, n0bits)
    return g.getvalue(), o.getvalue()



def test_fs_for_path_routes_schemes(monkeypatch):
    """One resolver for every path: plain paths stay local, and Spark's
    ``s3a://`` scheme reaches pyarrow's S3 filesystem. The explicit
    region (and the disabled instance-metadata lookup) keep the
    resolution offline."""
    from pyarrow import fs as pafs

    from hadoopwebgraph_spark.bvgraph.io import fs_for_path

    fs, path = fs_for_path("/data/g")
    assert isinstance(fs, pafs.LocalFileSystem) and path == "/data/g"
    monkeypatch.setenv("AWS_EC2_METADATA_DISABLED", "true")
    fs, path = fs_for_path("s3a://bucket/g?region=us-east-1")
    assert isinstance(fs, pafs.S3FileSystem) and path == "bucket/g"
    assert fs.region == "us-east-1"


def test_io_plain_paths_use_one_filesystem_path(tmp_path):
    """Plain paths and ``file://`` URIs give the same bytes and stats, and
    a missing file raises ``FileNotFoundError`` naming the path."""
    from hadoopwebgraph_spark.bvgraph.io import (
        file_stat,
        read_bytes,
        read_bytes_range,
        write_bytes,
    )

    plain = str(tmp_path / "blob.bin")
    write_bytes(plain, bytes(range(256)))
    for path in (plain, "file://" + plain):
        assert read_bytes(path) == bytes(range(256))
        assert read_bytes_range(path, 10, 5) == bytes(range(10, 15))
        assert read_bytes_range(path, 250, 0) == b""
        assert file_stat(path)[0] == 256
    missing = str(tmp_path / "missing.offsets")
    with pytest.raises(FileNotFoundError, match="missing.offsets"):
        file_stat(missing)


def test_compose_multipart_matches_file(tmp_path):
    """Three segments composed from a local-FS store and from a blob
    store give the same bytes, and those bytes are a correct BVGraph."""
    rng = random.Random(7)
    adj = [sorted(rng.sample(range(300), rng.randrange(0, 8))) for _ in range(300)]
    fs_store = LocalFSStore(str(tmp_path / "spill"))
    blob_store = MemoryStore()
    p0, *plan = _spill_segments(adj, 3, [fs_store, blob_store])

    g_file, o_file = _compose_streams(fs_store, *plan)
    assert _compose_streams(blob_store, *plan) == (g_file, o_file)
    # the composed stream decodes to the input
    assert decode_all(g_file, p0) == adj
    # the offsets stream is exactly the composed graph's bit positions, and
    # window isolation never beats the one-segment encode's compression
    assert o_file == write_offsets(g_file, p0)
    assert len(g_file) >= len(encode_graph(adj)[0])


def test_compose_micro_segment_inline():
    """A one-node graph: its graph chunk and its offsets chunk are under
    16 bits, yet the compose equals the one-segment encode."""
    store = MemoryStore()
    _, graph_chunks, offsets_chunks, entry0, n0bits = _spill_segments([[]], 1, [store])
    assert graph_chunks[0][1] < 16 and offsets_chunks[0][1] < 16
    assert _compose_streams(store, graph_chunks, offsets_chunks, entry0, n0bits) == (
        encode_graph([[]])[:2]
    )


def test_write_bvgraph_rejects_wrong_node_count(spark, tmp_path):
    """An ``n_nodes`` larger than the rows' dense src range is the
    caller's error: ValueError before any output file exists, also
    under ``python -O`` — and the spilled chunks are removed."""
    from hadoopwebgraph_spark.bvgraph.datasource import read_bvgraph
    from hadoopwebgraph_spark.bvgraph.sink import write_bvgraph
    from hadoopwebgraph_spark.queries.graph import SMALL_BASENAME

    df = read_bvgraph(spark, SMALL_BASENAME, num_splits=4)
    base = str(tmp_path / "wrong")
    with pytest.raises(ValueError, match="src not dense"):
        write_bvgraph(df, base, n_nodes=2001)
    for ext in (".graph", ".offsets", ".properties", ".spill"):
        assert not os.path.exists(base + ext)
