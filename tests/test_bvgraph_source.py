"""BVGraph DataSource integration tests (SURVEY.md §5.2.4): partition
invariance, filter pruning, and parity with the committed parquet twin —
all on a VANILLA SparkSession path where practical."""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest

from hadoopwebgraph_spark.bvgraph.datasource import (
    BVGraphReader,
    read_bvgraph,
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
    reader2.in_values = [5, 1900]
    reader2.from_node, reader2.to_node_excl = 5, 1901
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


def test_truncated_offsets_raise_not_garbage(tmp_path):
    """Kernel-detected .offsets corruption must surface as an error, not
    fall back to the Python reader silently decoding zero-padding into
    garbage offsets: decode_offsets raises on rc<0 and
    load_offsets propagates it."""
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


def test_target_bytes_partition_sizing(spark, twin):
    """.option('targetBytes', n) sizes partitions by compressed byte
    extent (the maxPartitionBytes analog), overriding numSplits."""
    from hadoopwebgraph_spark.bvgraph.datasource import _plan_state

    _, _, offsets = _plan_state(SMALL_BASENAME)
    total_bytes = int(offsets[2000]) / 8
    target = int(total_bytes // 5)
    reader = BVGraphReader(
        {"basename": SMALL_BASENAME, "targetbytes": str(target)}
    )
    parts = reader.partitions()
    assert 5 <= len(parts) <= 7  # ~total/target splits, byte-balanced
    for part in parts:
        assert part.end_byte - part.start_byte <= 2 * target + 64
    df = (
        spark.read.format("bvgraph")
        .option("basename", SMALL_BASENAME)
        .option("targetBytes", target)
        .load()
    )
    assert {r.src: list(r.adj) for r in df.collect()} == twin


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
    reader2.from_node, reader2.to_node_excl = 100, 121
    pruned = len(reader2.partitions())
    assert pruned < full


def test_manual_range_options(spark, twin):
    df = (
        spark.read.format("bvgraph")
        .option("basename", SMALL_BASENAME)
        .option("numSplits", 10)
        .option("fromNode", 500)
        .option("toNode", 600)
        .load()
    )
    rows = {r.src: list(r.adj) for r in df.collect()}
    assert rows == {k: v for k, v in twin.items() if 500 <= k < 600}


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


def test_offset_slice_out_of_range_fails_loudly():
    from hadoopwebgraph_spark.bvgraph.codec import _OffsetSlice

    s = _OffsetSlice(10, [0, 10, 20])
    assert s[10] == 0 and s[12] == 20
    import pytest as _pytest

    with _pytest.raises(IndexError):
        s[9]
    with _pytest.raises(IndexError):
        s[13]
