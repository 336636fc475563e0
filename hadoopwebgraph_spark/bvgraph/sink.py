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

Scale design — executor-parallel write, two jobs:

1. **Encode** (per partition, ``mapInArrow``): rows stay columnar from
   the scan to the encoder — each task gathers its range group(s) with
   Arrow ``take``, hands the list column's CSR buffers (flat values +
   offsets) straight to ``codec.encode_segment_csr``, and spills two
   chunks to the segment store: the raw graph bits, and the
   ``codec.encode_offsets`` coding of the segment's node bit positions.
   The offsets chunk is base-independent (its codes are successive
   differences), so it is final as encoded. Only (first_src, nbits, arcs,
   onbits) — a few longs per segment — return to the driver, which
   prefix-sums nbits/onbits into each chunk's absolute bit base in both
   streams.
2. **Re-phase** (per segment): knowing each chunk's base phase (base %
   8), one task per segment shifts its graph chunk and its offsets chunk
   with one vectorized NumPy pass each into the byte-aligned *interior*
   of their final byte ranges and stores them as part blobs, returning
   just the head/tail partial-byte bits.

The driver then *composes* each stream: per chunk it writes ONE boundary
byte (merging the previous tail with the next head) and splices the
interior part — no per-byte Python work, and driver-side Python object
traffic is O(n_segments), independent of graph size. WHERE the
intermediate artifacts live and HOW the final stream is assembled are
pluggable (``storage.SegmentStore`` / the composer objects): the default
``LocalFSStore`` + ``FileComposer`` needs a filesystem shared by tasks
and driver (local mode, NFS, mounted object storage); on plain object
storage the same plan runs with a blob-store ``SegmentStore`` and
``MultipartComposer`` — interiors are byte-aligned by construction, so
the final object is a server-side multipart concatenation. Chunks
shorter than two bytes (never produced by the >=64-node range planner,
except the offsets stream's one-entry head) are appended inline as
literal bits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .codec import BVGraphFiles, encode_graph, encode_offsets, encode_segment_csr
from .io import write_bytes
from .properties import BVGraphProperties, format_properties
from .storage import FileComposer, SegmentStore, store_for


def _rephase_interior(raw: bytes, nbits: int, k: int):
    """Shift a segment's raw bits (packed from bit 0, pad-low) to start at
    bit phase ``k`` of the output stream. Returns (head, interior_bytes,
    tail, tail_fill): ``head`` = the first (8-k)%8 bits (completing the
    boundary byte), ``interior_bytes`` = all complete output bytes, and
    ``tail``/``tail_fill`` = the trailing partial byte's bits. One
    vectorized NumPy pass, no per-byte Python loop."""
    import numpy as np

    r = np.frombuffer(raw, dtype=np.uint8)
    end = k + nbits  # relative bit extent in the output
    tail_fill = end % 8
    if k == 0:
        head = 0
        interior = raw[: nbits // 8]
    else:
        head = int(r[0]) >> k
        n_int = end // 8 - 1
        if n_int > 0:
            pad = np.concatenate([r, np.zeros(1, dtype=np.uint8)])
            x = pad.astype(np.uint16)
            out = ((x[:n_int] << (8 - k)) | (x[1 : n_int + 1] >> k)) & 0xFF
            interior = out.astype(np.uint8).tobytes()
        else:
            interior = b""
    if tail_fill:
        m = len(raw)
        v = ((int(r[m - 2]) << 8) if m >= 2 else 0) | int(r[m - 1])
        raw_fill = nbits % 8
        v >>= (8 - raw_fill) if raw_fill else 0  # drop pad-low bits
        tail = v & ((1 << tail_fill) - 1)
    else:
        tail = 0
    return head, interior, tail, tail_fill


def _rephase(store: SegmentStore, stem: str, base: int, nbits: int):
    """Re-phase the spilled chunk ``<stem>.raw`` (``nbits`` long) to its
    absolute bit ``base``: store the byte-aligned interior as
    ``<stem>.part`` and return the compose record
    ``(stem, head, raw_inline, nbits, tail, tail_fill)``. A chunk under 16
    bits has no interior; its record carries the raw bytes inline."""
    raw = store.get(stem + ".raw")
    if nbits < 16:
        return (stem, 0, raw, nbits, 0, 0)
    head, interior, tail, tail_fill = _rephase_interior(raw, nbits, base % 8)
    store.put(stem + ".part", interior)
    return (stem, head, None, nbits, tail, tail_fill)


def _segment_bases(meta, n: int, n0bits: int):
    """Validate that the segments' src ranges chain to exactly 0..n-1 and
    prefix-sum each segment's bit base in both streams (the offsets
    stream starts after its ``n0bits``-long node-0 entry). Returns the
    re-phase tasks ``(idx, base, nbits, obase, onbits)``."""
    tasks = []
    expected_next, base, obase = 0, 0, n0bits
    for idx, first_src, nodes, _arcs, nbits, onbits in meta:
        if first_src != expected_next:
            raise ValueError(
                f"non-contiguous src ranges: expected {expected_next}, got {first_src}"
            )
        expected_next = first_src + nodes
        tasks.append((idx, base, nbits, obase, onbits))
        base += nbits
        obase += onbits
    if expected_next != n:
        raise ValueError(
            f"src not dense 0..{n - 1}: the rows cover 0..{expected_next - 1}"
        )
    return tasks


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

    Executor-parallel encode AND write (module docstring): job 1 encodes
    window-isolated segments and their offsets-stream chunks into
    ``store``; job 2 re-phases both chunks of each segment to their
    absolute bit bases and stores their byte-aligned interiors; the
    driver composes boundary bytes and splices parts in order.

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
    segment id and encodes in place (job 1 becomes shuffle-free, a
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
        import numpy as np
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

    # Job 1: encode (Arrow-batched end-to-end). Only a few longs per
    # segment come back to the driver.
    meta_rows = ranged.mapInArrow(
        encode_batches,
        "pid int, first_src long, nodes long, arcs long, nbits long, onbits long",
    ).collect()
    meta = sorted(
        (r.pid, r.first_src, r.nodes, r.arcs, r.nbits, r.onbits) for r in meta_rows
    )

    p0 = BVGraphProperties(nodes=max(n, 1), arcs=0, **props_template)
    n0bits, entry0 = encode_offsets([0], p0)
    tasks = _segment_bases(meta, n, n0bits)
    arcs_total = sum(m[3] for m in meta)

    def rephase_segment(task):
        idx, base, nbits, obase, onbits = task
        return (
            _rephase(store, f"seg-{idx:05d}", base, nbits),
            _rephase(store, f"seg-{idx:05d}.offs", obase, onbits),
        )

    # Job 2: re-phase + part write for both streams, one task per segment
    # (collect keeps the tasks' segment order)
    merged = (
        spark.sparkContext.parallelize(tasks, max(len(tasks), 1))
        .map(rephase_segment)
        .collect()
    )

    graph_composer = FileComposer(basename + ".graph", store)
    compose_graph([g for g, _ in merged], graph_composer)
    graph_composer.close()

    offs_composer = FileComposer(basename + ".offsets", store)
    compose_offsets([o for _, o in merged], entry0, n0bits, offs_composer)
    offs_composer.close()

    store.cleanup()
    p = BVGraphProperties(nodes=n, arcs=arcs_total, **props_template)
    write_bytes(basename + ".properties", format_properties(p).encode("utf-8"))
    return p


def _compose(records, composer) -> None:
    """Compose one stream from re-phased chunk records
    ``(stem, head, raw_inline, nbits, tail, tail_fill)`` (see ``_rephase``):
    per chunk ONE boundary byte through ``composer.write``, then a splice
    of its byte-aligned interior via ``composer.part`` — so Python-side
    byte traffic is O(n_chunks) with a FileComposer, and zero part bytes
    with a MultipartComposer (the object-storage compose resolves part
    keys server-side). Inline records append their literal bits."""
    cur, fill = 0, 0  # the low `fill` bits of `cur`: pending output bits
    for stem, head, raw_inline, nbits, tail, tail_fill in records:
        if raw_inline is not None:
            val = int.from_bytes(raw_inline, "big") >> (8 * len(raw_inline) - nbits)
            nb = nbits
        else:
            val, nb = head, (8 - fill) % 8  # completes the boundary byte
        cur, fill = (cur << nb) | val, fill + nb
        if fill >= 8:
            composer.write((cur >> (fill % 8)).to_bytes(fill // 8, "big"))
            fill %= 8
            cur &= (1 << fill) - 1
        if raw_inline is None:
            composer.part(stem + ".part")
            cur, fill = tail, tail_fill
    if fill:
        composer.write(bytes([(cur << (8 - fill)) & 0xFF]))


def compose_graph(seg_results, composer) -> None:
    """Compose ``.graph`` from the segments' re-phased graph chunks."""
    _compose(seg_results, composer)


def compose_offsets(oseg_results, entry0: bytes, n0bits: int, composer) -> None:
    """Compose ``.offsets``: the node-0 entry (``n0bits`` bits of
    ``entry0``), then the segments' re-phased offsets chunks."""
    _compose([(None, 0, entry0, n0bits, 0, 0), *oseg_results], composer)


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
    from .datasource import read_bvgraph
    from .io import read_bytes
    from .properties import parse_properties

    src_props = parse_properties(
        read_bytes(src_basename + ".properties").decode("utf-8")
    )
    if num_splits is None:
        num_splits = spark.sparkContext.defaultParallelism
    df = read_bvgraph(spark, src_basename, num_splits=num_splits)
    return write_bvgraph(
        df,
        dst_basename,
        n_nodes=src_props.nodes,
        aligned=True,
        **props_kw,
    )


def write_bvgraph_single(adjacency: list[list[int]], basename: str, **props_kw):
    """Driver-local convenience: encode with full cross-boundary reference
    selection (best compression, single-threaded)."""
    g, o, p = encode_graph(adjacency, **props_kw)
    BVGraphFiles(basename).write(g, o, p)
    return p
