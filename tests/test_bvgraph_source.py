"""BVGraph DataSource integration tests (SURVEY.md §5.2.4): partition
invariance, filter pruning, and parity with the committed parquet twin —
all on a VANILLA SparkSession path where practical."""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    LessThan,
    LessThanOrEqual,
)

from hadoopwebgraph_spark.bvgraph.datasource import (
    BVGraphReader,
    read_bvgraph,
    register,
)
from hadoopwebgraph_spark.queries.graph import SMALL_BASENAME, SMALL_PARQUET


@pytest.fixture(scope="module")
def twin():
    t = pq.read_table(SMALL_PARQUET)
    return {int(s): a for s, a in zip(t["src"].to_pylist(), t["adj"].to_pylist())}


@pytest.mark.parametrize("num_splits", [1, 7, 100])
def test_partition_invariance(spark, twin, num_splits):
    df = read_bvgraph(spark, SMALL_BASENAME, num_splits=num_splits)
    rows = {r.src: list(r.adj) for r in df.collect()}
    assert rows == twin


def test_in_filter_prunes_between_points(spark, twin):
    """src IN (sparse points) must drop the partitions BETWEEN the
    points, not just the ones outside [min, max]."""
    reader = BVGraphReader({"basename": SMALL_BASENAME, "numsplits": "50"})
    full = len(reader.partitions())
    reader2 = BVGraphReader({"basename": SMALL_BASENAME, "numsplits": "50"})
    reader2.pushFilters([In(("src",), (5, 1900))])
    pruned = reader2.partitions()
    assert len(pruned) <= 3 < full
    for q in pruned:
        assert q.from_node <= 5 < q.up_to or q.from_node <= 1900 < q.up_to
    # end-to-end result equality through the source
    df = read_bvgraph(spark, SMALL_BASENAME, num_splits=50)
    out = {r.src: list(r.adj) for r in df.filter(df.src.isin(5, 1900)).collect()}
    assert out == {k: twin[k] for k in (5, 1900)}


def _read_in_process(reader):
    """Run the source's executor side in this process: every planned
    partition's rows, each src exactly once."""
    rows = {}
    for part in reader.partitions():
        for batch in reader.read(part):
            for s, a in zip(batch["src"].to_pylist(), batch["adj"].to_pylist()):
                assert s not in rows and part.from_node <= s < part.up_to
                rows[s] = a
    return rows


def _truncated_copy(tmp_path) -> str:
    import shutil

    base = str(tmp_path / "trunc")
    for ext in (".offsets", ".properties"):
        shutil.copy(SMALL_BASENAME + ext, base + ext)
    with open(SMALL_BASENAME + ".graph", "rb") as f:
        blob = f.read()
    with open(base + ".graph", "wb") as f:
        f.write(blob[: len(blob) // 3])
    return base


def test_corrupt_graph_fails_loudly(spark, monkeypatch, tmp_path):
    """A truncated .graph must raise (kernel and Python spec), never hang
    on the zero padding or silently return short results."""
    from hadoopwebgraph_spark.bvgraph import native

    base = _truncated_copy(tmp_path)
    df = (
        spark.read.format("bvgraph")
        .option("basename", base)
        .option("numSplits", 4)
        .load()
    )
    with pytest.raises(Exception, match="corrupt or truncated"):
        df.collect()
    monkeypatch.setattr(native, "get_lib", lambda: None)
    reader = BVGraphReader({"basename": base, "numsplits": "4"})
    with pytest.raises(ValueError, match="corrupt or truncated"):
        _read_in_process(reader)


def test_truncated_offsets_raise_not_garbage(tmp_path, monkeypatch):
    """A truncated .offsets stream must surface as the same error on both
    paths, not as garbage offsets: the kernel's decode_offsets raises on
    rc<0 and load_offsets propagates it; the spec raises at the end of
    the buffer."""
    import pytest as _pytest

    from hadoopwebgraph_spark.bvgraph import native
    from hadoopwebgraph_spark.bvgraph.codec import load_offsets
    from hadoopwebgraph_spark.bvgraph.properties import parse_properties

    with open(SMALL_BASENAME + ".offsets", "rb") as f:
        blob = f.read()
    with open(SMALL_BASENAME + ".properties") as f:
        p = parse_properties(f.read())
    truncated = blob[: len(blob) // 4]
    if native.get_lib() is not None:
        with _pytest.raises(ValueError, match="corrupt or truncated"):
            load_offsets(truncated, p)
    monkeypatch.setattr(native, "get_lib", lambda: None)
    with _pytest.raises(ValueError, match="corrupt or truncated"):
        load_offsets(truncated, p)


def test_truncated_unary_field_fails_fast():
    """A stream truncated inside a unary-coded field must error out-of-band
    (read_unary returns -1), not decode as an in-band 2^30 value that
    drives a multi-GiB allocation; the kernel's error raises."""
    from hadoopwebgraph_spark.bvgraph import native

    lib = native.get_lib()
    if lib is None:
        import pytest as _pytest

        _pytest.skip("C kernel unavailable")
    from hadoopwebgraph_spark.bvgraph.properties import BVGraphProperties

    p = BVGraphProperties(nodes=1, arcs=0)
    # all-zero bytes: every unary read runs to the limit without a 1 bit
    with pytest.raises(ValueError, match="corrupt or truncated"):
        native.decode_range(b"\x00" * 4 + b"\x00" * 16, p, 0, 1)


def test_python_fallback_path_matches_native(monkeypatch, twin):
    """With the C kernel unavailable, the source's read decodes with the
    Python spec; every partition, mid-graph seeded starts included, must
    equal the parquet twin."""
    from hadoopwebgraph_spark.bvgraph import native

    monkeypatch.setattr(native, "get_lib", lambda: None)
    for num_splits in (1, 7, 50):
        reader = BVGraphReader(
            {"basename": SMALL_BASENAME, "numsplits": str(num_splits)}
        )
        assert _read_in_process(reader) == twin, num_splits


def test_actual_splits_le_requested(spark):
    df = read_bvgraph(spark, SMALL_BASENAME, num_splits=100000)
    # can't exceed node count (mirrors actualSplits <= requested,
    # WebGraphInputFormat.java:100-122)
    assert df.rdd.getNumPartitions() <= 2000
    assert df.count() == 2000


def test_filter_pruning_plan_and_result(spark, twin):
    df = read_bvgraph(spark, SMALL_BASENAME, num_splits=50)
    out = df.filter((df.src >= 100) & (df.src <= 120)).collect()
    assert {r.src: list(r.adj) for r in out} == {
        k: v for k, v in twin.items() if 100 <= k <= 120
    }
    # pruning actually reduces planned partitions
    reader = BVGraphReader({"basename": SMALL_BASENAME, "numsplits": "50"})
    full = len(reader.partitions())
    reader2 = BVGraphReader({"basename": SMALL_BASENAME, "numsplits": "50"})
    reader2.pushFilters(
        [GreaterThanOrEqual(("src",), 100), LessThanOrEqual(("src",), 120)]
    )
    pruned = reader2.partitions()
    assert len(pruned) < full
    assert pruned[0].from_node == 100 and pruned[-1].up_to == 121


def test_src_range_where_scan(spark, twin):
    df = read_bvgraph(spark, SMALL_BASENAME, num_splits=10)
    rows = {r.src: list(r.adj) for r in df.where("src >= 500 AND src < 600").collect()}
    assert rows == {k: v for k, v in twin.items() if 500 <= k < 600}


_SRC = ("src",)
_FULL_8 = [
    (0, 248), (248, 491), (491, 710), (710, 952),
    (952, 1231), (1231, 1472), (1472, 1704), (1704, 2000),
]


# (where clause, the filters Spark pushes for it, the (from_node, up_to)
# plan at numSplits=8): range filters re-plan 8 byte-balanced splits
# inside their range; IN / = keep only the splits holding a member
@pytest.mark.parametrize(
    "cond, filters, planned",
    [
        ("src = 700", [EqualTo(_SRC, 700)], [(700, 701)]),
        (
            "src IN (5, 42, 1900)",
            [In(_SRC, (5, 42, 1900))],
            [(5, 245), (1647, 1901)],
        ),
        (
            "src > 1500",
            [GreaterThan(_SRC, 1500)],
            [
                (1501, 1559), (1559, 1617), (1617, 1676), (1676, 1729),
                (1729, 1799), (1799, 1870), (1870, 1937), (1937, 2000),
            ],
        ),
        (
            "src >= 500",
            [GreaterThanOrEqual(_SRC, 500)],
            [
                (500, 662), (662, 836), (836, 1044), (1044, 1250),
                (1250, 1426), (1426, 1599), (1599, 1797), (1797, 2000),
            ],
        ),
        (
            "src < 600",
            [LessThan(_SRC, 600)],
            [
                (0, 72), (72, 164), (164, 235), (235, 310),
                (310, 381), (381, 450), (450, 532), (532, 600),
            ],
        ),
        (
            "src <= 120",
            [LessThanOrEqual(_SRC, 120)],
            [
                (0, 20), (20, 35), (35, 51), (51, 65),
                (65, 78), (78, 98), (98, 114), (114, 121),
            ],
        ),
        (
            "src >= 100 AND src < 1500 AND src IN (50, 120, 1300, 1800)",
            [
                GreaterThanOrEqual(_SRC, 100),
                LessThan(_SRC, 1500),
                In(_SRC, (50, 120, 1300, 1800)),
            ],
            [(100, 280), (1169, 1346)],
        ),
        # a non-int literal prunes nothing (Spark itself folds this
        # predicate on an INT column to false and scans no partition)
        ("src = 5.5", [EqualTo(_SRC, 5.5)], _FULL_8),
    ],
    ids=["eq", "in", "gt", "ge", "lt", "le", "range_and_in", "non_int"],
)
def test_src_pushdown(spark, twin, cond, filters, planned):
    """Each src predicate kind returns exactly the twin's rows through
    Spark, and pushFilters plans exactly the pruned partition set."""
    import duckdb

    df = read_bvgraph(spark, SMALL_BASENAME, num_splits=8).where(cond)
    keep = duckdb.sql(
        f"SELECT src FROM read_parquet('{SMALL_PARQUET}') WHERE {cond}"
    ).fetchall()
    rows = {r.src: list(r.adj) for r in df.collect()}
    assert rows == {k: twin[k] for (k,) in keep}
    reader = BVGraphReader({"basename": SMALL_BASENAME, "numsplits": "8"})
    reader.pushFilters(filters)
    assert [(q.from_node, q.up_to) for q in reader.partitions()] == planned
    scanned = df.rdd.getNumPartitions()
    assert scanned == (0 if cond == "src = 5.5" else len(planned))


def test_byte_balanced_partitions():
    reader = BVGraphReader({"basename": SMALL_BASENAME, "numsplits": "8"})
    parts = reader.partitions()
    assert sum(p.up_to - p.from_node for p in parts) == 2000
    assert [p.from_node for p in parts[1:]] == [p.up_to for p in parts[:-1]]
    # byte extents should be roughly even (within 3x of each other)
    import numpy as np

    from hadoopwebgraph_spark.bvgraph.codec import load_offsets
    from hadoopwebgraph_spark.bvgraph.properties import parse_properties

    with open(SMALL_BASENAME + ".properties") as f:
        p = parse_properties(f.read())
    with open(SMALL_BASENAME + ".offsets", "rb") as f:
        offsets = load_offsets(f.read(), p)
    extents = [int(offsets[q.up_to] - offsets[q.from_node]) for q in parts]
    assert max(extents) < 3 * min(extents)


def test_bad_options(spark):
    with pytest.raises(Exception):
        spark.read.format("bvgraph").load().collect()  # missing basename
    with pytest.raises(Exception):
        read_bvgraph(spark, SMALL_BASENAME, num_splits=0).collect()


def test_register_fails_when_filter_pushdown_cannot_be_enabled():
    """Without the pushdown conf every src lookup would scan all
    partitions, so a conf that refuses it must not be swallowed."""

    class _Conf:
        def set(self, key, value):
            raise RuntimeError(f"cannot set {key}")

    class _Registry:
        registered = []

        def register(self, cls):
            self.registered.append(cls)

    class _Spark:
        conf = _Conf()
        dataSource = _Registry()

    with pytest.raises(RuntimeError, match="filterPushdown"):
        register(_Spark())
    assert _Registry.registered == []


def test_bench_fixture_partition_invariance(spark):
    """100k-node fixture: byte-balanced boundaries land mid-window
    everywhere; checksums must be split-invariant."""
    from pyspark.sql import functions as F

    from hadoopwebgraph_spark.queries.graph import BENCH_BASENAME

    def checksum(num_splits):
        df = read_bvgraph(spark, BENCH_BASENAME, num_splits=num_splits)
        row = df.select(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.size("adj")).alias("m"),
            F.sum(F.col("src") * F.size("adj")).alias("w"),
            F.sum(F.expr("aggregate(adj, 0L, (a, x) -> a + x)")).alias("s"),
        ).collect()[0]
        return (row.n, row.m, row.w, row.s)

    base = checksum(1)
    assert base[0] == 100000
    for k in (13, 64):
        assert checksum(k) == base


def test_ranged_reads_only_partition_extent(monkeypatch):
    """Each task must request exactly its partition's byte extent — the sum
    over tasks stays ~file size for any split count (no amplification)."""
    import os

    from hadoopwebgraph_spark.bvgraph import datasource as ds
    from hadoopwebgraph_spark.bvgraph.properties import parse_properties

    file_size = os.path.getsize(SMALL_BASENAME + ".graph")
    reader = BVGraphReader({"basename": SMALL_BASENAME, "numsplits": "16"})
    parts = reader.partitions()
    assert len(parts) == 16

    requests: list[tuple[int, int]] = []
    real_range = ds.read_bytes_range

    def spy(path, start, length):
        requests.append((start, length))
        return real_range(path, start, length)

    monkeypatch.setattr(ds, "read_bytes_range", spy)
    total_rows = 0
    for part in parts:
        total_rows += sum(b.num_rows for b in reader.read(part))
    assert total_rows == 2000

    # every request stays within the file and matches the planned extent
    for (start, length), part in zip(requests, parts):
        assert start == part.start_byte
        assert start + length <= file_size
        assert length == part.end_byte - part.start_byte
        assert length < file_size  # strictly partial reads with 16 splits
    # coverage: exactly the file, plus only the small seeding backreach
    covered = sum(length for _, length in requests)
    p = parse_properties(open(SMALL_BASENAME + ".properties").read())
    backreach_bound = 16 * (p.window_size * (p.max_ref_count + 2) + 2) * file_size // 2000
    assert file_size <= covered <= file_size + backreach_bound


def test_graph_properties_reads_only_properties(monkeypatch):
    """graph_properties is a metadata lookup: it parses .properties and
    never folds the O(n) .offsets stream, cached or not."""
    from hadoopwebgraph_spark.bvgraph import datasource as ds
    from hadoopwebgraph_spark.bvgraph.properties import parse_properties

    def no_fold(*args, **kwargs):
        raise AssertionError("graph_properties folded the .offsets stream")

    monkeypatch.setattr(ds, "_PLAN_CACHE", {})
    monkeypatch.setattr(ds, "load_offsets", no_fold)
    p = ds.graph_properties(SMALL_BASENAME)
    with open(SMALL_BASENAME + ".properties") as f:
        want = parse_properties(f.read())
    assert p.nodes == 2000
    assert (p.nodes, p.arcs) == (want.nodes, want.arcs)


def test_offset_slice_out_of_range_fails_loudly():
    from hadoopwebgraph_spark.bvgraph.codec import _OffsetSlice

    s = _OffsetSlice(10, [0, 10, 20])
    assert s[10] == 0 and s[12] == 20
    import pytest as _pytest

    with _pytest.raises(IndexError):
        s[9]
    with _pytest.raises(IndexError):
        s[13]
