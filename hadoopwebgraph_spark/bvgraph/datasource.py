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

Options: ``basename`` (required) and ``numSplits`` — the reference's
``setBasename`` / ``setNumberOfSplits``.

Filter pruning: ``src`` predicates (``=``, ``IN``, ``<``, ``<=``, ``>``,
``>=``) arrive through ``pushFilters`` and prune partitions at plan time.
We conservatively report every filter as unsupported so Spark re-applies
them post-scan (exactly-once semantics preserved); pruning only drops
partitions that provably contain no matching node.

This module is the one reader of a graph's ``.properties``: other code
asks ``graph_properties(basename)``, which reads that small file alone.
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

# Driver-side plan cache: folding the delta-coded .offsets stream is
# O(n) — do it once per (basename, file identity), not once per action
# (the reference reloads offsets per TASK, its worst flaw; SURVEY.md
# §3.1 step 4).
_PLAN_CACHE: dict[tuple, tuple] = {}


def _plan_state(basename: str):
    """(props, offsets index) for a basename, cached on the
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

        p = graph_properties(basename)
        offsets = EliasFanoOffsets(
            load_offsets(read_bytes(basename + ".offsets"), p)
        )
        if len(_PLAN_CACHE) > 8:  # bound driver memory across basenames
            _PLAN_CACHE.clear()
        hit = _PLAN_CACHE[key] = (p, offsets)
    return hit


def graph_properties(basename: str) -> BVGraphProperties:
    """The graph's parsed ``.properties`` (node and arc counts, codes) —
    the one parse of the file, for the planner and for code outside the
    source. Reads only ``.properties``, never the ``.offsets`` stream."""
    return parse_properties(read_text(basename + ".properties"))


SCHEMA = StructType(
    [
        StructField("src", IntegerType(), nullable=False),
        StructField("adj", ArrayType(IntegerType(), containsNull=False), nullable=False),
    ]
)


@dataclass
class BVGraphPartition(InputPartition):
    graph_path: str
    props: BVGraphProperties
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
        # src pruning, narrowed only by pushFilters: the node range
        # [from_node, to_node_excl) (None = all n nodes) and the exact
        # membership set from IN / = (None = any)
        self.from_node = 0
        self.to_node_excl: int | None = None
        self.in_values: list[int] | None = None

    # -- filter pushdown (partition pruning only; Spark re-applies filters) --
    def pushFilters(self, filters):  # noqa: N802 (Spark API name)
        for f in filters:
            lo, hi, members = _src_range(f)
            if lo is not None:
                self.from_node = max(self.from_node, lo)
            if hi is not None:
                self.to_node_excl = (
                    hi if self.to_node_excl is None else min(self.to_node_excl, hi)
                )
            # keep the exact members too, so partitions BETWEEN sparse
            # points are dropped, not just the ones outside [min, max]
            if members is not None:
                self.in_values = sorted(
                    members if self.in_values is None else members & set(self.in_values)
                )
        # report everything unsupported -> Spark evaluates filters post-scan
        return filters

    def partitions(self):
        p, offsets = _plan_state(self.basename)
        graph_path = self.basename + ".graph"
        lo = max(0, self.from_node)
        hi = p.nodes if self.to_node_excl is None else min(p.nodes, self.to_node_excl)
        parts = self._split(graph_path, p, offsets, lo, hi) if lo < hi else []
        if self.in_values is not None:
            import bisect

            vals = self.in_values

            def covers(q: BVGraphPartition) -> bool:
                i = bisect.bisect_left(vals, q.from_node)
                return i < len(vals) and vals[i] < q.up_to

            parts = [q for q in parts if covers(q)]
        # the API requires >= 1 partition; an empty plan reads one empty range
        return parts or [BVGraphPartition(graph_path, p, from_node=0, up_to=0)]

    def _split(self, graph_path, p, offsets, lo, hi) -> list[BVGraphPartition]:
        """Byte-balanced partitions covering nodes [lo, hi)."""
        total_bits = int(offsets[hi]) - int(offsets[lo])
        num_splits = min(self.num_splits, hi - lo)
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
                    props=p,
                    from_node=start,
                    up_to=end,
                    seed_base=seed_base,
                    seed_offsets=[int(x) for x in offsets[seed_base : start + 1]],
                    start_byte=int(offsets[seed_base]) >> 3,
                    end_byte=(int(offsets[end]) + 7) >> 3,
                )
            )
            start = end
        return parts

    def read(self, partition: BVGraphPartition):
        import numpy as np
        import pyarrow as pa

        if partition.up_to <= partition.from_node:
            return
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
            partition.props,
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


def _src_range(f: Filter) -> tuple[int | None, int | None, set[int] | None]:
    """(lo inclusive, hi exclusive, exact members) a filter implies on
    src; None where it implies no bound or no membership set."""
    if getattr(f, "attribute", None) != ("src",):
        return None, None, None
    vals = f.value if isinstance(f, In) else (getattr(f, "value", None),)
    if not vals or not all(isinstance(v, int) for v in vals):
        return None, None, None
    if isinstance(f, (In, EqualTo)):
        return min(vals), max(vals) + 1, set(vals)
    (v,) = vals
    if isinstance(f, GreaterThan):
        return v + 1, None, None
    if isinstance(f, GreaterThanOrEqual):
        return v, None, None
    if isinstance(f, LessThan):
        return None, v, None
    if isinstance(f, LessThanOrEqual):
        return None, v + 1, None
    return None, None, None


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
    # Without it Spark never calls pushFilters, and every src lookup would
    # quietly scan all partitions; so a conf that cannot be set is an error.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
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
