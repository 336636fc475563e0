"""BVGraph sink: write an adjacency DataFrame back to the
``basename.{graph,offsets,properties}`` triple — the engine's superset of
the reference's only sink (writeOffsets, HdfsBVGraph.java:394-408; the
reference can regenerate offsets but cannot author a graph).

The BVGraph format is a single sequential gap-coded bit stream, so the
final assembly is inherently order-dependent: partitions are encoded
INDEPENDENTLY in parallel as window-isolated segments (the first
``window_size`` nodes of each segment encode with refs limited to the
segment). Window isolation at segment boundaries costs a little
compression but keeps the encode embarrassingly parallel — the same
trade the reference's *read* side makes by seeding windows at split
starts (HdfsBVGraph.java:221-229).

A write is one Spark job followed by one sequential pass on the driver:

1. **Encode** (per partition, ``mapInArrow``): rows stay columnar from
   the scan to the encoder — each task gathers its range group(s) with
   Arrow ``take``, hands the list column's CSR buffers (flat values +
   offsets) straight to ``codec.encode_segment_csr``, and spills two
   chunks to the segment store: the raw graph bits, and the
   ``codec.encode_offsets`` coding of the segment's node bit positions.
   The offsets chunk is base-independent (its codes are successive
   differences), so it is final as encoded. Only (first_src, nodes,
   arcs, nbits, onbits) per segment return to the driver.
2. **Compose** (driver, like the reference's ``writeOffsets``): for each
   stream, the driver reads the chunks back in src order and appends
   each one at the stream's current bit phase — one vectorized uint8
   shift per chunk, the partial last byte carried into the next chunk.
   The ``.offsets`` stream starts with the node-0 entry as its first
   pending bits.

WHERE the spilled chunks live is pluggable (``storage.SegmentStore``):
``LocalFSStore`` needs a filesystem shared by tasks and driver (local
mode, NFS, mounted object storage); ``PyArrowFSStore`` serves
``s3://``/``gs://``/``hdfs://`` outputs. Every stream byte passes through
the driver once on the way out.
"""

from __future__ import annotations

from itertools import chain

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .codec import encode_offsets, encode_segment_csr
from .io import open_output, write_bytes
from .properties import BVGraphProperties, format_properties
from .storage import SegmentStore, store_for


def _segment_chunks(meta, n: int):
    """Validate that the segments' src ranges chain to exactly 0..n-1 and
    return the spilled chunks in stream order as two ``(key, nbits)``
    lists: the graph chunks and the offsets chunks."""
    graph, offsets = [], []
    expected_next = 0
    for idx, first_src, nodes, _arcs, nbits, onbits in meta:
        if first_src != expected_next:
            raise ValueError(
                f"non-contiguous src ranges: expected {expected_next}, got {first_src}"
            )
        expected_next = first_src + nodes
        graph.append((f"seg-{idx:05d}.raw", nbits))
        offsets.append((f"seg-{idx:05d}.offs.raw", onbits))
    if expected_next != n:
        raise ValueError(
            f"src not dense 0..{n - 1}: the rows cover 0..{expected_next - 1}"
        )
    return graph, offsets


def write_bvgraph(
    df: DataFrame,
    basename: str,
    store: SegmentStore | None = None,
    n_nodes: int | None = None,
    aligned: bool = False,
    **props_kw,
) -> BVGraphProperties:
    """Write DataFrame[src INT, adj ARRAY<INT>] (src dense 0..n-1, adj
    strictly ascending — the encoder raises otherwise) to a BVGraph
    triple at ``basename``.

    Commit protocol: ``.graph`` and ``.offsets`` are composed first and
    ``.properties`` is written LAST — readers require the properties
    file, so it doubles as the commit marker: a crash mid-compose
    leaves a triple no reader will load, and a retry truncates and
    overwrites cleanly.

    One encode job, then a sequential compose (module docstring): the
    job encodes window-isolated segments and their offsets-stream chunks
    into ``store``; the driver appends the chunks in src order at each
    stream's bit phase. The spilled chunks are removed on every exit
    path, failed writes included.

    Topology contract: ``store`` defaults to ``storage.store_for(basename)``
    — a plain path or ``file://`` basename spills to a ``LocalFSStore``
    next to the output and therefore REQUIRES a filesystem every task and
    the driver share (local mode, NFS, FUSE-mounted object storage); an
    ``s3://`` / ``gs://`` / ``hdfs://`` basename routes spill artifacts
    and the final triple through ``pyarrow.fs``, so no shared POSIX mount
    is assumed on a real cluster. Pass ``store`` explicitly to override.

    ``n_nodes``: pass the (dense) node count when the caller already
    knows it — e.g. from the source graph's ``.properties`` — to skip
    the ``df.count()`` job, which for a graph-source input is a full
    second decode of the graph just to size the segments. If the rows'
    src values do not chain to exactly 0..n_nodes-1, ``ValueError`` is
    raised before any output file is written.

    ``aligned``: the graph→graph copy fast path. When the input is
    ALREADY partitioned into ascending contiguous src ranges — true for
    any DataFrame straight off the BVGraph source, whose split planner
    hands each partition one node range — the re-segmentation shuffle
    is pure waste: each input partition IS a valid encode segment. With
    ``aligned=True`` the sink uses ``spark_partition_id()`` as the
    segment id and encodes in place (the encode job is shuffle-free, a
    mapInArrow over the scan), which at 100 TB removes the single
    biggest data movement of a copy/transcode job. Misuse is safe, not
    silent: each task checks that its rows form one consecutive src run,
    and the driver checks that the per-partition ranges chain to exactly
    0..n-1 — a hash-partitioned input fails loudly before any file is
    composed.
    """
    n = int(n_nodes) if n_nodes is not None else df.count()
    spark = df.sparkSession

    if store is None:
        store = store_for(basename)

    props_template = dict(props_kw)

    if aligned:
        # input partitions are the segments: no shuffle, pid = partition
        ranged = df.select(
            F.col("src").cast("long").alias("src"),
            "adj",
            F.spark_partition_id().alias("pid"),
        )
    else:
        # Contiguous ranges: src is dense 0..n-1, so the range boundaries
        # are known exactly — group by pid = src // rows_per instead of
        # repartitionByRange, whose SAMPLED boundaries made segmentation
        # (and thus the compressed bytes) nondeterministic across runs,
        # and which costs an extra sampling job. Hash-partitioning on pid
        # keeps each range group whole within one task; which task gets
        # which group doesn't matter (segments are keyed by pid, ordered
        # by the driver).
        n_parts = min(
            max(1, spark.sparkContext.defaultParallelism), max(1, n // 64)
        )
        rows_per = -(-n // n_parts) if n else 1  # ceil(n / n_parts)
        ranged = df.select(
            F.col("src").cast("long").alias("src"),
            "adj",
            F.expr(f"CAST(src DIV {rows_per} AS INT)").alias("pid"),
        ).repartition(n_parts, "pid")

    def encode_batches(batches):
        import pyarrow as pa

        batches = [b for b in batches if b.num_rows]
        if not batches:
            return
        tbl = pa.Table.from_batches(batches)
        src = tbl.column("src").to_numpy()
        pids = tbl.column("pid").to_numpy()
        adj_col = tbl.column("adj").combine_chunks()
        meta = {
            k: [] for k in ("pid", "first_src", "nodes", "arcs", "nbits", "onbits")
        }
        for pid in np.unique(pids):
            idxs = np.nonzero(pids == pid)[0]
            order = idxs[np.argsort(src[idxs])]
            # columnar gather; the list column's buffers ARE the CSR the
            # C kernel takes — no per-row Python materialization
            sub = adj_col.take(pa.array(order, type=pa.int64()))
            lens = pa.compute.list_value_length(sub).to_numpy().astype(np.int64)
            list_offsets = np.zeros(len(lens) + 1, dtype=np.int64)
            np.cumsum(lens, out=list_offsets[1:])
            values = np.asarray(
                sub.flatten().to_numpy(zero_copy_only=False), dtype=np.int32
            )
            first_src = int(src[order[0]])
            # one consecutive run per segment — a violated aligned=True
            # assumption (hash-partitioned input) dies here, per task,
            # before any byte reaches the store
            seg_src = src[order]
            if not np.array_equal(
                seg_src, np.arange(first_src, first_src + len(seg_src))
            ):
                raise ValueError(
                    f"segment {int(pid)} src range not one consecutive "
                    f"run: [{first_src}..{int(seg_src[-1])}] over "
                    f"{len(seg_src)} rows"
                )
            p = BVGraphProperties(nodes=len(lens), arcs=0, **props_template)
            # refs stay inside this segment: window isolation
            nbits, buf, offsets = encode_segment_csr(
                values, list_offsets, first_src, p
            )
            store.put(f"seg-{int(pid):05d}.raw", buf)
            # offset_code and zeta_k come from props_template, never from
            # `nodes`, so this per-task `p` codes exactly like the driver's
            onbits, obuf = encode_offsets(offsets[1:], p)
            store.put(f"seg-{int(pid):05d}.offs.raw", obuf)
            meta["pid"].append(int(pid))
            meta["first_src"].append(first_src)
            meta["nodes"].append(len(lens))
            meta["arcs"].append(int(list_offsets[-1]))
            meta["nbits"].append(nbits)
            meta["onbits"].append(onbits)
        yield pa.RecordBatch.from_pydict(
            meta,
            schema=pa.schema(
                [
                    ("pid", pa.int32()),
                    ("first_src", pa.int64()),
                    ("nodes", pa.int64()),
                    ("arcs", pa.int64()),
                    ("nbits", pa.int64()),
                    ("onbits", pa.int64()),
                ]
            ),
        )

    # The encode job (Arrow-batched end-to-end). Only a few longs per
    # segment come back to the driver.
    try:
        meta_rows = ranged.mapInArrow(
            encode_batches,
            "pid int, first_src long, nodes long, arcs long, nbits long, onbits long",
        ).collect()
        meta = sorted(
            (r.pid, r.first_src, r.nodes, r.arcs, r.nbits, r.onbits)
            for r in meta_rows
        )
        graph_chunks, offsets_chunks = _segment_chunks(meta, n)

        p0 = BVGraphProperties(nodes=max(n, 1), arcs=0, **props_template)
        n0bits, entry0 = encode_offsets([0], p0)
        with open_output(basename + ".graph") as out:
            compose_graph(graph_chunks, store, out)
        with open_output(basename + ".offsets") as out:
            compose_offsets(offsets_chunks, store, out, entry0, n0bits)

        arcs_total = sum(m[3] for m in meta)
        p = BVGraphProperties(nodes=n, arcs=arcs_total, **props_template)
        write_bytes(basename + ".properties", format_properties(p).encode("utf-8"))
        return p
    finally:
        store.cleanup()


def _shift(raw: bytes, nbits: int, cur: int, fill: int):
    """Append the first ``nbits`` bits of ``raw`` (MSB first) to ``fill``
    pending bits ``cur``. Returns (the complete output bytes, the new
    pending bits, their count) — one vectorized uint8 pass: a uint8
    ``<<`` drops the bits that move into the previous byte."""
    total = fill + nbits
    if fill == 0:
        whole = memoryview(raw)[: total // 8]
        last = raw[total // 8] if total % 8 else 0
    else:
        r = np.frombuffer(raw, dtype=np.uint8)
        out = np.empty(len(r) + 1, dtype=np.uint8)
        out[0] = cur << (8 - fill)
        np.left_shift(r, 8 - fill, out=out[1:])
        out[:-1] |= r >> fill
        whole = out[: total // 8]
        last = int(out[total // 8]) if total % 8 else 0
    return whole, last >> (8 - total % 8), total % 8


def _compose(chunks, out) -> None:
    """Write ``(raw, nbits)`` chunks to ``out`` as one bit stream, the
    last byte padded with zero bits."""
    cur, fill = 0, 0
    for raw, nbits in chunks:
        whole, cur, fill = _shift(raw, nbits, cur, fill)
        out.write(whole)
    if fill:
        out.write(bytes([cur << (8 - fill)]))


def compose_graph(chunks, store: SegmentStore, out) -> None:
    """Compose ``.graph`` into the stream ``out`` from the ordered
    ``(key, nbits)`` graph chunks spilled to ``store``."""
    _compose(((store.get(key), nbits) for key, nbits in chunks), out)


def compose_offsets(
    chunks, store: SegmentStore, out, entry0: bytes, n0bits: int
) -> None:
    """Compose ``.offsets`` into ``out``: the node-0 entry (``n0bits`` bits
    of ``entry0``), then the ordered ``(key, nbits)`` offsets chunks."""
    _compose(
        chain([(entry0, n0bits)], ((store.get(key), nbits) for key, nbits in chunks)),
        out,
    )


def copy_bvgraph(
    spark,
    src_basename: str,
    dst_basename: str,
    num_splits: int | None = None,
    **props_kw,
) -> BVGraphProperties:
    """Graph→graph copy/transcode: read ``src_basename`` through the
    BVGraph source and write it back aligned — the source's byte-balanced
    splits become the sink's encode segments directly, so the whole job
    is scan → encode → compose with ZERO shuffle (the common production
    recompress/re-window/relocate job). Node count comes from the source
    ``.properties`` (no sizing decode). ``props_kw`` (window_size,
    zeta_k, codes...) lets the copy change compression parameters."""
    from .datasource import graph_properties, read_bvgraph

    if num_splits is None:
        num_splits = spark.sparkContext.defaultParallelism
    df = read_bvgraph(spark, src_basename, num_splits=num_splits)
    return write_bvgraph(
        df,
        dst_basename,
        n_nodes=graph_properties(src_basename).nodes,
        aligned=True,
        **props_kw,
    )

