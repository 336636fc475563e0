"""Spark 4 Python DataSource for BVGraph: ``spark.read.format("bvgraph")``.

The Spark DataSource re-expression of the reference's Hadoop InputFormat
(WebGraphInputFormat.java:16-19): one row per node, schema
``src INT, adj ARRAY<INT>``, with options ``basename`` and ``numSplits``
(default 100, WebGraphInputFormat.java:19,134-156).

Plan-time (driver), mirroring getSplits (WebGraphInputFormat.java:83-127)
with one deliberate improvement: partitions are **byte-balanced** using the
offsets index instead of equal node counts, so decode work per task is
even under skewed outdegrees (SURVEY.md §4.3.4). Each InputPartition
carries ``(from, upTo, start_bit)`` plus the tiny offsets slice needed to
seed the decode window mid-graph — executors never reload the offsets
file (fixing the per-task reload flaw noted in SURVEY.md §3.1).

Executor-side ``read`` issues ONE ranged byte request covering exactly
its partition's extent ``[offsets[seed_base]>>3, ceil(offsets[up_to]/8))``
(bit positions rebased to the buffer), decodes the node range with
``codec.decode_range`` (C kernel, or the Python spec without it) into
CSR arrays, and yields Arrow record batches of ``BATCH_ROWS`` rows sliced
from them (columnar end-to-end; the reference is row-at-a-time). Total
bytes moved per scan ≈ file size regardless of partition count — no read
amplification.

Options: ``basename`` (required), ``numSplits``, ``targetBytes``,
``fromNode``, ``toNode``.

Filter pruning: ``src`` range predicates prune partitions at plan time.
We conservatively report every filter as unsupported so Spark re-applies
them post-scan (exactly-once semantics preserved); pruning only drops
partitions that provably contain no matching node.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

from .codec import decode_range, load_offsets
from .io import file_stat, read_bytes, read_bytes_range, read_text
from .properties import BVGraphProperties, parse_properties

DEFAULT_SPLITS = 100  # WebGraphInputFormat.java:19
BATCH_ROWS = 8192  # rows per Arrow record batch handed to Spark

# Driver-side plan cache: parsing .properties and folding the delta-coded
# .offsets stream is O(n) — do it once per (basename, file identity), not
# once per action (the reference reloads offsets per TASK, its worst flaw;
# SURVEY.md §3.1 step 4).
_PLAN_CACHE: dict[tuple, tuple] = {}


def _plan_state(basename: str):
    """(props_text, props, offsets index) for a basename, cached on the
    offsets file's (size, mtime) identity. The retained index is
    Elias-Fano-compressed (~10-12 bits/entry vs 64 for the int64 fold,
    mirroring the reference's EliasFanoMonotoneLongBigList,
    HdfsBVGraph.java:371-387) — the int64 array exists only transiently
    during the fold, so a 134M-node graph holds ~200 MB in the plan cache
    instead of 1 GB."""
    key = (basename, *file_stat(basename + ".offsets"))
    hit = _PLAN_CACHE.get(key)
    if hit is None:
        from .ef import EliasFanoOffsets

        props_text = read_text(basename + ".properties")
        p = parse_properties(props_text)
        offsets = EliasFanoOffsets(
            load_offsets(read_bytes(basename + ".offsets"), p)
        )
        if len(_PLAN_CACHE) > 8:  # bound driver memory across basenames
            _PLAN_CACHE.clear()
        hit = _PLAN_CACHE[key] = (props_text, p, offsets)
    return hit

SCHEMA = StructType(
    [
        StructField("src", IntegerType(), nullable=False),
        StructField("adj", ArrayType(IntegerType(), containsNull=False), nullable=False),
    ]
)


@dataclass
class BVGraphPartition(InputPartition):
    graph_path: str
    props_text: str
    from_node: int
    up_to: int
    # offsets for nodes [seed_base, from_node] inclusive — covers window
    # seeding plus reference-chain recursion during seeding
    seed_base: int = 0
    seed_offsets: list[int] = field(default_factory=list)
    # byte extent of this task's single ranged read:
    # [offsets[seed_base] >> 3, ceil(offsets[up_to] / 8))
    start_byte: int = 0
    end_byte: int = 0


class BVGraphReader(DataSourceReader):
    def __init__(self, options: dict):
        basename = options.get("basename")
        if not basename:
            raise ValueError("bvgraph source requires .option('basename', ...)")
        self.basename = basename
        self.num_splits = int(options.get("numsplits", DEFAULT_SPLITS))
        if self.num_splits < 1:
            raise ValueError(f"numSplits must be >= 1, got {self.num_splits}")
        # .option("targetBytes", 256 << 20): size partitions by compressed
        # byte extent instead of a fixed split count — the maxPartitionBytes
        # analog for this source; overrides numSplits when set
        self.target_bytes: int | None = (
            int(options["targetbytes"]) if "targetbytes" in options else None
        )
        if self.target_bytes is not None and self.target_bytes < 1:
            raise ValueError(f"targetBytes must be >= 1, got {self.target_bytes}")
        # manual pruning knobs (also driven by pushFilters)
        self.from_node = int(options.get("fromnode", 0))
        self.to_node_excl: int | None = (
            int(options["tonode"]) if "tonode" in options else None
        )
        # exact src membership set from In/EqualTo pushdown (None = any)
        self.in_values: list[int] | None = None

    # -- filter pushdown (partition pruning only; Spark re-applies filters) --
    def pushFilters(self, filters):  # noqa: N802 (Spark API name)
        for f in filters:
            lo, hi = _src_bounds(f)
            if lo is not None:
                self.from_node = max(self.from_node, lo)
            if hi is not None:
                self.to_node_excl = (
                    hi if self.to_node_excl is None else min(self.to_node_excl, hi)
                )
            # src IN (...) / src = k: keep the exact membership set too, so
            # partitions BETWEEN sparse points are dropped, not just the
            # ones outside [min, max]
            vals = _src_members(f)
            if vals is not None:
                self.in_values = (
                    sorted(vals)
                    if self.in_values is None
                    else sorted(set(self.in_values) & set(vals))
                )
        # report everything unsupported -> Spark evaluates filters post-scan
        return filters

    def partitions(self):
        props_text, p, offsets = _plan_state(self.basename)

        n = p.nodes
        lo = max(0, self.from_node)
        hi = n if self.to_node_excl is None else min(n, self.to_node_excl)
        if n == 0 or lo >= hi:
            # the API requires >=1 partition; emit one empty range
            return [
                BVGraphPartition(
                    graph_path=self.basename + ".graph",
                    props_text=props_text,
                    from_node=0,
                    up_to=0,
                )
            ]

        graph_path = self.basename + ".graph"
        total_bits = int(offsets[hi]) - int(offsets[lo])
        if self.target_bytes is not None:
            wanted = max(1, math.ceil((total_bits / 8) / self.target_bytes))
        else:
            wanted = self.num_splits
        num_splits = min(wanted, hi - lo)
        target = math.ceil(total_bits / num_splits) if total_bits else 1

        # backreach for window seeding: seeds need nodes down to
        # from - window, and their reference chains recurse at most
        # max_ref_count levels, each stepping back <= window nodes.
        backreach = p.window_size * (p.max_ref_count + 2)

        parts: list[BVGraphPartition] = []
        start = lo
        while start < hi:
            if len(parts) == num_splits - 1:
                end = hi
            else:
                # byte-balanced boundary: first node whose offset passes target
                goal = int(offsets[start]) + target
                end = int(offsets.searchsorted(goal, side="left"))
                end = max(start + 1, min(end, hi))
            seed_base = max(0, start - backreach)
            parts.append(
                BVGraphPartition(
                    graph_path=graph_path,
                    props_text=props_text,
                    from_node=start,
                    up_to=end,
                    seed_base=seed_base,
                    seed_offsets=[int(x) for x in offsets[seed_base : start + 1]],
                    start_byte=int(offsets[seed_base]) >> 3,
                    end_byte=(int(offsets[end]) + 7) >> 3,
                )
            )
            start = end
        if self.in_values is not None:
            import bisect

            vals = self.in_values

            def covers(q: BVGraphPartition) -> bool:
                i = bisect.bisect_left(vals, q.from_node)
                return i < len(vals) and vals[i] < q.up_to

            parts = [q for q in parts if covers(q)]
            if not parts:  # API requires >= 1 partition
                parts = [
                    BVGraphPartition(
                        graph_path=graph_path,
                        props_text=props_text,
                        from_node=0,
                        up_to=0,
                    )
                ]
        return parts

    def read(self, partition: BVGraphPartition):
        import numpy as np
        import pyarrow as pa

        if partition.up_to <= partition.from_node:
            return
        p = parse_properties(partition.props_text)
        # ONE ranged request for exactly this task's byte extent — never the
        # whole file (≙ the reference's per-split seekable stream,
        # WebGraphInputFormat.java:108, HdfsRepositionableStream.java:17-29).
        graph_bytes = read_bytes_range(
            partition.graph_path,
            partition.start_byte,
            partition.end_byte - partition.start_byte,
        )
        # shipped bit positions are absolute; rebase them to the ranged
        # buffer, which starts at start_byte*8
        seeds = (
            np.asarray(partition.seed_offsets, dtype=np.int64)
            - (partition.start_byte << 3)
            if partition.from_node > 0
            else None
        )
        values, list_offsets, _ = decode_range(
            graph_bytes,
            p,
            partition.from_node,
            partition.up_to,
            seed_offsets=seeds,
            seed_base=partition.seed_base,
        )
        srcs = np.arange(partition.from_node, partition.up_to, dtype=np.int32)
        for s in range(0, len(srcs), BATCH_ROWS):
            e = min(s + BATCH_ROWS, len(srcs))
            lo, hi = int(list_offsets[s]), int(list_offsets[e])
            adj = pa.ListArray.from_arrays(
                pa.array((list_offsets[s : e + 1] - lo).astype(np.int32)),
                pa.array(values[lo:hi]),
            )
            yield pa.RecordBatch.from_arrays(
                [pa.array(srcs[s:e]), adj], names=["src", "adj"]
            )


def _src_members(f: Filter) -> list[int] | None:
    """Exact src membership a filter implies, or None (any value)."""
    if getattr(f, "attribute", None) != ("src",):
        return None
    if isinstance(f, EqualTo) and isinstance(f.value, int):
        return [f.value]
    if isinstance(f, In):
        vals = [v for v in f.value if isinstance(v, int)]
        if vals and len(vals) == len(f.value):
            return vals
    return None


def _src_bounds(f: Filter) -> tuple[int | None, int | None]:
    """(lo_inclusive, hi_exclusive) bounds a filter implies on src."""
    col = getattr(f, "attribute", None)
    if col != ("src",):
        return None, None
    if isinstance(f, In):
        vals = [v for v in f.value if isinstance(v, int)]
        if vals and len(vals) == len(f.value):
            return min(vals), max(vals) + 1
        return None, None
    v = getattr(f, "value", None)
    if not isinstance(v, int):
        return None, None
    if isinstance(f, EqualTo):
        return v, v + 1
    if isinstance(f, GreaterThan):
        return v + 1, None
    if isinstance(f, GreaterThanOrEqual):
        return v, None
    if isinstance(f, LessThan):
        return None, v
    if isinstance(f, LessThanOrEqual):
        return None, v + 1
    return None, None


class BVGraphDataSource(DataSource):
    """``spark.read.format("bvgraph").option("basename", path)`` ->
    ``DataFrame[src INT, adj ARRAY<INT>]``."""

    @classmethod
    def name(cls) -> str:
        return "bvgraph"

    def schema(self):
        return SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return BVGraphReader(self.options)


def register(spark) -> None:
    try:
        # required for pushFilters; runtime-settable
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:
        pass
    spark.dataSource.register(BVGraphDataSource)


def read_bvgraph(spark, basename: str, num_splits: int = DEFAULT_SPLITS):
    """Convenience loader mirroring the reference conf surface
    (setBasename / setNumberOfSplits, WebGraphInputFormat.java:134-156)."""
    register(spark)
    return (
        spark.read.format("bvgraph")
        .option("basename", basename)
        .option("numSplits", num_splits)
        .load()
    )
