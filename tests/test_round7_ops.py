"""Round-7 additions: driver-gated HyperBall/HyperANF entries and the
integer-scaled exact mode behind them."""

from __future__ import annotations

import math

import pytest


def _exact_harmonic(pairs, nodes):
    """Exact harmonic centrality by BFS from every node (H(v) sums 1/d(u,v)
    over in-reachable u)."""
    from collections import deque

    adj = {}
    for s, d in pairs:
        adj.setdefault(s, set()).add(d)
    H = {v: 0.0 for v in nodes}
    for s in nodes:
        dist = {s: 0}
        dq = deque([s])
        while dq:
            x = dq.popleft()
            for y in adj.get(x, ()):
                if y not in dist:
                    dist[y] = dist[x] + 1
                    dq.append(y)
        for v, d in dist.items():
            if d > 0:
                H[v] += 1.0 / d
    return H


def test_hyperball_scaled_mode_is_integer_exact(spark):
    """scale=LCM(1..max_hops) turns the harmonic accumulation into exact
    integer arithmetic: h_scaled must equal scale * H(v) exactly."""
    import random

    from hadoopwebgraph_spark.queries.graph_algos import hyperball_harmonic

    rng = random.Random(7)
    pairs = list({(rng.randrange(25), rng.randrange(25)) for _ in range(80)})
    pairs = [(s, d) for s, d in pairs if s != d]
    nodes = {v for p in pairs for v in p}
    scale = math.lcm(*range(1, 17))
    e = spark.createDataFrame(pairs, "src int, dst int")
    got = {
        r.node: r.h_scaled
        for r in hyperball_harmonic(e, max_hops=16, scale=scale).collect()
    }
    want = _exact_harmonic(pairs, nodes)
    assert set(got) == nodes
    for v in nodes:
        # the exact H(v) is a sum of 1/d terms with d <= 16, so
        # scale * H(v) is an exact integer — compare with zero tolerance
        assert got[v] == round(want[v] * scale), (v, got[v], want[v] * scale)


def test_hyperball_scale_must_divide_all_hops(spark):
    from hadoopwebgraph_spark.queries.graph_algos import hyperball_harmonic

    e = spark.createDataFrame([(0, 1)], "src int, dst int")
    # 840 = LCM(1..8): valid through hop 8, not divisible by 11/13/16
    with pytest.raises(ValueError, match="not divisible"):
        hyperball_harmonic(e, max_hops=16, scale=840)


def test_compact_files_through_file_uri(spark, tmp_path):
    """compact_files routed entirely through pyarrow.fs via a file://
    URI — the object-storage code path (fs_for_path + move_dir), not
    os.walk/os.rename."""
    import os

    from hadoopwebgraph_spark.functions.maintenance import compact_files

    plain = str(tmp_path / "t")
    df = spark.range(0, 5000).selectExpr("id", "id % 7 AS k")
    df.repartition(24).write.parquet(plain)
    uri = "file://" + plain
    stats = compact_files(spark, uri, target_bytes=1 << 30)
    assert stats["rows"] == 5000
    assert stats["files_after"] < stats["files_before"]
    assert stats["files_after"] == 1
    got = spark.read.parquet(plain)
    assert got.count() == 5000
    assert got.selectExpr("sum(id) s").collect()[0]["s"] == 5000 * 4999 // 2
    # no staging/old leftovers next to the table
    siblings = os.listdir(tmp_path)
    assert siblings == ["t"], siblings


def test_compact_digest_snapshot_through_file_uri(spark, tmp_path):
    """Digest-snapshot compaction through the pyarrow.fs routing: same
    fold-to-batch_id=-1 semantics as the plain-path contract."""
    import os

    from hadoopwebgraph_spark.functions.dedup import _dedup_one_batch
    from hadoopwebgraph_spark.functions.maintenance import (
        compact_digest_snapshot,
    )

    schema = "doc_id long, text string, lang string, source string, length int"
    digests = str(tmp_path / "snap" / "digests")
    out = str(tmp_path / "out")
    for i, texts in enumerate([["a", "b"], ["b", "c"]]):
        b = spark.createDataFrame(
            [(10 * i + j, t, "en", "web", len(t)) for j, t in enumerate(texts)],
            schema,
        )
        _dedup_one_batch(b, i, digests, out)
    before = {r["h"] for r in spark.read.parquet(digests).collect()}
    stats = compact_digest_snapshot(spark, "file://" + digests)
    assert stats["batch_id"] == -1 and stats["digests"] == 3
    assert os.listdir(digests) == ["batch_id=-1"]
    assert {r["h"] for r in spark.read.parquet(digests).collect()} == before


def test_move_dir_fallback_matches_rename(tmp_path):
    """move_dir's per-object fallback (the object-store path) must
    produce the same tree as a native rename."""
    from pyarrow import fs as pafs

    from hadoopwebgraph_spark.bvgraph.storage import move_dir

    src = tmp_path / "src"
    (src / "batch_id=1").mkdir(parents=True)
    (src / "batch_id=1" / "a.parquet").write_bytes(b"xx")
    (src / "b.parquet").write_bytes(b"yy")

    class NoRenameFS:
        """Wrap LocalFileSystem but refuse directory moves, forcing the
        per-object fallback branch."""

        def __init__(self):
            self.fs = pafs.LocalFileSystem()

        def move(self, s, d):
            info = self.fs.get_file_info(s)
            if info.type == pafs.FileType.Directory:
                raise OSError("directory rename unsupported")
            self.fs.move(s, d)

        def __getattr__(self, name):
            return getattr(self.fs, name)

    move_dir(NoRenameFS(), str(src), str(tmp_path / "dst"))
    assert not src.exists()
    assert (tmp_path / "dst" / "batch_id=1" / "a.parquet").read_bytes() == b"xx"
    assert (tmp_path / "dst" / "b.parquet").read_bytes() == b"yy"


def test_partitioned_ingest_stream_empty_watch_dir(spark, tmp_path):
    """A stream started BEFORE the first files arrive must not crash on
    schema inference when a schema is declared — and must REFUSE to
    start (rather than lock in a guessed schema) when none is."""
    import os

    from pyspark.sql import functions as F

    from hadoopwebgraph_spark.functions.layout import partitioned_ingest_stream

    incoming = str(tmp_path / "in")
    os.makedirs(incoming)
    out = str(tmp_path / "fact")

    # empty dir + declared schema: starts cleanly, lands nothing
    q = partitioned_ingest_stream(
        spark,
        incoming,
        out,
        str(tmp_path / "ck"),
        schema="o_orderkey bigint, o_orderdate date, o_totalprice double",
    )
    q.awaitTermination()

    rows = spark.createDataFrame(
        [(1, "1995-03-10", 10.0)],
        "o_orderkey long, o_orderdate string, o_totalprice double",
    ).withColumn("o_orderdate", F.to_date("o_orderdate"))
    rows.write.mode("append").parquet(incoming)
    q2 = partitioned_ingest_stream(
        spark,
        incoming,
        out,
        str(tmp_path / "ck"),
        schema="o_orderkey bigint, o_orderdate date, o_totalprice double",
    )
    q2.awaitTermination()
    got = spark.read.parquet(out)
    assert got.count() == 1
    assert got.collect()[0]["p_month"] == "1995-03"

    # no declared schema + empty dir: MUST raise, not lock in a guess
    # (round-10 hardening: a guessed schema silently drops mismatched
    # columns on every later file)
    import pytest

    with pytest.raises(ValueError, match="pass schema= explicitly"):
        partitioned_ingest_stream(
            spark,
            str(tmp_path / "never_created"),
            str(tmp_path / "fact2"),
            str(tmp_path / "ck2"),
        )


def test_q129_layout_memoized_per_process(spark, sf_small):
    """Repeat q129 invocations reuse the process-private layout dir (no
    shared /tmp path, no rewrite): same result, same directory."""
    from hadoopwebgraph_spark.functions import layout

    r1 = layout.q129_partitioned_layout(spark, sf_small).collect()
    dirs1 = dict(layout._Q129_LAYOUTS)
    r2 = layout.q129_partitioned_layout(spark, sf_small).collect()
    assert layout._Q129_LAYOUTS == dirs1  # reused, not rewritten elsewhere
    key = sorted(r1[0].asDict())
    assert sorted(
        tuple(r[k] for k in key) for r in r1
    ) == sorted(tuple(r[k] for k in key) for r in r2)
    # private prefix, not the old shared fixed path
    assert all("hwg_part_orders_" in v for v in dirs1.values())


def test_copy_bvgraph_aligned_roundtrip(spark, tmp_path):
    """The shuffle-free graph→graph copy: source splits become sink
    segments; the copied graph must decode to exactly the original
    adjacency, and its plan must contain no Exchange."""
    from pyspark.sql import functions as F

    from hadoopwebgraph_spark.bvgraph.datasource import read_bvgraph
    from hadoopwebgraph_spark.bvgraph.sink import copy_bvgraph
    from hadoopwebgraph_spark.queries.graph import SMALL_BASENAME

    dst = str(tmp_path / "copy")
    props = copy_bvgraph(spark, SMALL_BASENAME, dst, num_splits=7)
    orig = read_bvgraph(spark, SMALL_BASENAME, num_splits=3).select(
        "src", F.concat_ws(",", "adj").alias("a")
    )
    back = read_bvgraph(spark, dst, num_splits=5).select(
        "src", F.concat_ws(",", "adj").alias("a")
    )
    assert props.nodes == 2000
    assert back.count() == 2000
    assert orig.exceptAll(back).count() == 0
    assert back.exceptAll(orig).count() == 0

    # the aligned encode stage (the sink's job-1 shape) plans with NO
    # Exchange: scan -> project(spark_partition_id) -> mapInArrow
    src_df = read_bvgraph(spark, SMALL_BASENAME, num_splits=7).select(
        F.col("src").cast("long").alias("src"),
        "adj",
        F.spark_partition_id().alias("pid"),
    )
    shape = src_df.mapInArrow(lambda it: it, "src long, pid int")
    plan = shape._sc._jvm.PythonSQLUtils.explainString(
        shape._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan, plan


def test_write_bvgraph_aligned_rejects_hash_partitioned_input(spark, tmp_path):
    """aligned=True on a non-range-partitioned DataFrame must fail
    loudly (per-task consecutive-run check), never compose bad bytes."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from hadoopwebgraph_spark.bvgraph.sink import write_bvgraph

    df = (
        spark.range(0, 512)
        .select(
            F.col("id").cast("int").alias("src"),
            F.array(F.lit(0)).alias("adj"),
        )
        .repartition(8, "src")  # hash partitioning: ranges interleave
    )
    with _pytest.raises(Exception):
        write_bvgraph(df, str(tmp_path / "bad"), n_nodes=512, aligned=True)
    import os

    assert not os.path.exists(str(tmp_path / "bad") + ".graph")


def test_neighborhood_function_single_dip_does_not_stop(spark):
    """The fixpoint test requires TWO consecutive non-growing hops; on a
    strictly growing path the full N(t) curve must come back intact."""
    from hadoopwebgraph_spark.queries.graph_algos import neighborhood_function

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "src int, dst int"
    )
    nf = neighborhood_function(path)
    # path on 7 nodes: N(t) = 7 + 6 + ... + (7 - t) cumulated
    want = []
    total = 0
    for t in range(7):
        total += 7 - t
        want.append(float(total))
    assert nf == want


def test_hyperanf_hop_plan_two_sketch_shuffles(spark):
    """The restructured HyperANF/HyperBall hop must plan exactly TWO
    Exchanges — state keyed to src for the edge join, partial-unioned
    contributions keyed to dst for the groupBy — and a shuffle-hash
    join (SMJ would re-sort opaque sketch rows every hop)."""
    import re

    from pyspark.sql import functions as F

    edges = [(0, 1), (1, 2), (2, 0), (2, 3)]
    e = spark.createDataFrame(edges, "src long, dst long")
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    state = (
        nodes.groupBy("node")
        .agg(F.hll_sketch_agg("node", F.lit(8)).alias("sk"))
        .localCheckpoint()
    )
    e_aug = (
        e.union(
            nodes.select(F.col("node").alias("src"), F.col("node").alias("dst"))
        )
        .repartition(32, "src")
        .persist()
    )
    e_aug.count()
    hop = (
        e_aug.join(
            state.select(
                F.col("node").alias("src"), F.col("sk").alias("nsk")
            ).hint("shuffle_hash"),
            "src",
        )
        .groupBy(F.col("dst").alias("node"))
        .agg(F.hll_union_agg("nsk").alias("sk"))
    )
    plan = hop._sc._jvm.PythonSQLUtils.explainString(
        hop._jdf.queryExecution(), "formatted"
    )
    assert "ShuffledHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # the persisted edge side must stream into the join straight off the
    # cache — no per-hop Exchange above the InMemoryTableScan (the cached
    # repartition(src) partitioning satisfies the join requirement; a
    # localCheckpoint here would forget it and re-shuffle every hop)
    assert re.search(
        r":- Filter \(\d+\)\s*\n\s*:  \+- InMemoryTableScan", plan
    ), plan
    # and the only per-hop sketch movements are state->src for the join
    # and partial-unioned contributions->dst for the groupBy: every
    # requirement-driven exchange in the whole tree keys on one of them
    reqs = re.findall(r"hashpartitioning\((\w+)#\d+L?, \d+\), ENSURE_REQUIREMENTS", plan)
    assert sorted(set(reqs)) <= ["dst", "node", "src"], (reqs, plan)


def test_neighborhood_function_one_action_per_hop(spark):
    """Each HyperANF hop issues ONE action: the per-hop N(t) sum also
    materializes that hop's lazy localCheckpoint (optimization r17).
    Pinned as a DELTA (ADVICE r17): the per-hop job count of the shipped
    lazy form must be strictly below the eager-checkpoint form's on the
    same fixture — the invariant (one barrier per hop removed) rather
    than an absolute job count, which tracks AQE's Spark-version- and
    config-sensitive stage-materialization schedule."""
    from hadoopwebgraph_spark.queries.graph_algos import neighborhood_function

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "src long, dst long"
    )
    neighborhood_function(path, max_hops=2)  # warm: plan/codegen jobs out
    sc = spark.sparkContext
    st = sc.statusTracker()

    def jobs_for(max_hops, eager):
        # count inside a dedicated job group so concurrent activity on
        # the shared session can never inflate (or deflate) the pin
        group = f"nf-job-pin-{max_hops}-{eager}"
        sc.setJobGroup(group, "one-action-per-hop pin")
        try:
            neighborhood_function(path, max_hops=max_hops,
                                  _eager_checkpoints=eager)
        finally:
            sc.setJobGroup(None, None)
        return len(st.getJobIdsForGroup(group))

    def per_hop(eager):
        return (jobs_for(4, eager) - jobs_for(2, eager)) / 2

    lazy, eager = per_hop(False), per_hop(True)
    # the lazy form must save at least one job per hop vs eager
    assert lazy + 1 <= eager, (lazy, eager)


def test_encoder_rejects_unsorted_or_duplicate_successors():
    """BVGraph adjacency is a strictly-ascending successor set; both
    encoders previously emitted silently-undecodable bits for unsorted
    input (gap coding goes negative). Every encode path must now raise,
    with the C kernel and with the Python spec."""
    from unittest import mock

    import numpy as np
    import pytest as _pytest

    from hadoopwebgraph_spark.bvgraph import native
    from hadoopwebgraph_spark.bvgraph.codec import (
        BVGraphProperties,
        encode_graph,
        encode_segment_csr,
    )

    p = BVGraphProperties(nodes=10, arcs=0)
    for bad in ([[8, 2]], [[8, 8]]):
        with _pytest.raises(ValueError, match="ascending"):
            encode_graph(bad + [[]] * 9)
        vals = np.array(bad[0], dtype=np.int32)
        offs = np.array([0, len(bad[0])], dtype=np.int64)
        with _pytest.raises(ValueError, match="ascending"):
            encode_segment_csr(vals, offs, 7, p)
        with mock.patch.object(native, "get_lib", lambda: None):
            with _pytest.raises(ValueError, match="ascending"):
                encode_segment_csr(vals, offs, 7, p)
    # boundary gaps between lists stay legal: [9] then [2]
    vals = np.array([9, 2], dtype=np.int32)
    offs = np.array([0, 1, 2], dtype=np.int64)
    encode_segment_csr(vals, offs, 3, p)


def test_copy_bvgraph_more_splits_than_nodes(spark, tmp_path):
    """Aligned copy with num_splits far beyond the node count: empty /
    tiny source partitions must still compose a graph that decodes to
    exactly the original adjacency."""
    from hadoopwebgraph_spark.bvgraph.codec import BVGraphFiles, encode_graph
    from hadoopwebgraph_spark.bvgraph.datasource import read_bvgraph
    from hadoopwebgraph_spark.bvgraph.sink import copy_bvgraph

    adj = [sorted({(i + 1) % 10, (i + 3) % 10} - {i}) for i in range(10)]
    base = str(tmp_path / "tiny")
    g, o, pr = encode_graph(adj)
    BVGraphFiles(base).write(g, o, pr)
    dst = str(tmp_path / "tinycopy")
    props = copy_bvgraph(spark, base, dst, num_splits=32)
    assert props.nodes == 10
    back = read_bvgraph(spark, dst, num_splits=3).orderBy("src").collect()
    assert [list(r["adj"]) for r in back] == adj


def test_copy_bvgraph_transcode_compression_params(spark, tmp_path):
    """copy_bvgraph is a transcode: props_kw change the compression
    parameters of the destination (here window_size=0 => no reference
    coding and a larger zeta_k) while the decoded adjacency stays
    bit-for-bit the source's."""
    from pyspark.sql import functions as F

    from hadoopwebgraph_spark.bvgraph.datasource import read_bvgraph
    from hadoopwebgraph_spark.bvgraph.properties import parse_properties
    from hadoopwebgraph_spark.bvgraph.sink import copy_bvgraph
    from hadoopwebgraph_spark.queries.graph import SMALL_BASENAME

    dst = str(tmp_path / "transcoded")
    props = copy_bvgraph(
        spark, SMALL_BASENAME, dst, num_splits=5, window_size=0, zeta_k=5
    )
    with open(dst + ".properties") as f:
        written = parse_properties(f.read())
    assert written.window_size == 0 and written.zeta_k == 5
    assert props.nodes == 2000
    orig = read_bvgraph(spark, SMALL_BASENAME, num_splits=3).select(
        "src", F.concat_ws(",", "adj").alias("a")
    )
    back = read_bvgraph(spark, dst, num_splits=4).select(
        "src", F.concat_ws(",", "adj").alias("a")
    )
    assert orig.exceptAll(back).unionAll(back.exceptAll(orig)).count() == 0


def test_permute_bvgraph_identity_and_reverse(spark, tmp_path):
    """Transform.map equivalent: the identity permutation reproduces the
    same decoded graph; the reverse permutation's decode matches the
    hand-permuted adjacency exactly."""
    from hadoopwebgraph_spark.bvgraph.codec import BVGraphFiles, encode_graph
    from hadoopwebgraph_spark.bvgraph.datasource import read_bvgraph
    from hadoopwebgraph_spark.bvgraph.transform import (
        permute_bvgraph,
        reverse_permutation,
    )
    from pyspark.sql import functions as F

    adj = [sorted({(i * 3 + 1) % 20, (i * 7 + 2) % 20} - {i}) for i in range(20)]
    base = str(tmp_path / "g")
    g, o, pr = encode_graph(adj)
    BVGraphFiles(base).write(g, o, pr)

    ident = spark.range(0, 20).select(
        F.col("id").alias("node"), F.col("id").alias("new_id")
    )
    p1 = permute_bvgraph(spark, base, str(tmp_path / "ident"), ident, num_splits=4)
    assert p1.nodes == 20
    back = read_bvgraph(spark, str(tmp_path / "ident"), num_splits=3).orderBy("src")
    assert [list(r["adj"]) for r in back.collect()] == adj

    rev = reverse_permutation(spark, 20)
    p2 = permute_bvgraph(spark, base, str(tmp_path / "rev"), rev, num_splits=4)
    assert p2.arcs == p1.arcs
    want = [[] for _ in range(20)]
    for u, succ in enumerate(adj):
        for v in succ:
            want[19 - u].append(19 - v)
    want = [sorted(w) for w in want]
    back2 = read_bvgraph(spark, str(tmp_path / "rev"), num_splits=3).orderBy("src")
    assert [list(r["adj"]) for r in back2.collect()] == want


def test_permute_bvgraph_rejects_non_bijection(spark, tmp_path):
    from hadoopwebgraph_spark.bvgraph.codec import BVGraphFiles, encode_graph
    from hadoopwebgraph_spark.bvgraph.transform import permute_bvgraph
    from pyspark.sql import functions as F
    import pytest as _pytest

    base = str(tmp_path / "g")
    g, o, pr = encode_graph([[1], [2], [0], []])
    BVGraphFiles(base).write(g, o, pr)
    collide = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 1), (3, 2)], "node long, new_id long"
    )
    with _pytest.raises(ValueError, match="bijection"):
        permute_bvgraph(spark, base, str(tmp_path / "bad"), collide)
    import os

    assert not os.path.exists(str(tmp_path / "bad") + ".properties")


def test_union_bvgraph(spark, tmp_path):
    """Transform.union equivalent over graphs of different sizes: arc
    sets merge, duplicates collapse, node count is the max."""
    from hadoopwebgraph_spark.bvgraph.codec import BVGraphFiles, encode_graph
    from hadoopwebgraph_spark.bvgraph.datasource import read_bvgraph
    from hadoopwebgraph_spark.bvgraph.transform import union_bvgraph

    a = [[1, 2], [2], [0]]            # 3 nodes
    b = [[1], [3], [], [0, 2]]        # 4 nodes, shares arc 0->1
    for name, adjl in (("a", a), ("b", b)):
        g, o, pr = encode_graph(adjl)
        BVGraphFiles(str(tmp_path / name)).write(g, o, pr)
    props = union_bvgraph(
        spark, str(tmp_path / "a"), str(tmp_path / "b"), str(tmp_path / "u")
    )
    assert props.nodes == 4
    back = read_bvgraph(spark, str(tmp_path / "u"), num_splits=2).orderBy("src")
    got = [list(r["adj"]) for r in back.collect()]
    assert got == [[1, 2], [2, 3], [0], [0, 2]]
    assert props.arcs == sum(len(x) for x in got)


def test_permutation_order_moves_compressed_size(spark, tmp_path):
    """The point of Transform.map: BV gap/ref coding exploits locality,
    so scrambling a locality-friendly numbering must GROW the .graph
    stream (Boldi-Vigna WWW'04). The committed fixture is generated
    with local structure; a md5-scrambled bijection destroys it."""
    import os

    from pyspark.sql import functions as F

    from hadoopwebgraph_spark.bvgraph.io import read_bytes
    from hadoopwebgraph_spark.bvgraph.properties import parse_properties
    from hadoopwebgraph_spark.bvgraph.transform import permute_bvgraph
    from hadoopwebgraph_spark.queries.graph import SMALL_BASENAME

    n = parse_properties(
        read_bytes(SMALL_BASENAME + ".properties").decode("utf-8")
    ).nodes
    # deterministic scramble: rank of md5(node) is a bijection
    from pyspark.sql import Window

    scramble = spark.range(0, n).select(
        F.col("id").alias("node"),
        (
            F.row_number().over(Window.orderBy(F.md5(F.col("id").cast("string"))))
            - 1
        ).alias("new_id"),
    )
    dst = str(tmp_path / "scrambled")
    permute_bvgraph(spark, SMALL_BASENAME, dst, scramble, num_splits=8)
    orig_bytes = os.path.getsize(SMALL_BASENAME + ".graph")
    scram_bytes = os.path.getsize(dst + ".graph")
    assert scram_bytes > orig_bytes * 1.05, (orig_bytes, scram_bytes)


def test_edge_ingest_incremental_degrees_and_replay(spark, tmp_path):
    """Two overlapping micro-batches: degrees equal a from-scratch
    recompute over the distinct edge union; replaying a batch is a
    no-op (overwrite-own-partition idempotency)."""
    from pyspark.sql import functions as F

    from hadoopwebgraph_spark.streaming.graph_stream import (
        _ingest_one_batch,
        read_degrees,
    )

    edges_dir = str(tmp_path / "edges")
    deltas_dir = str(tmp_path / "deltas")
    b1 = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (1, 2)], "src long, dst long"  # dup inside
    )
    b2 = spark.createDataFrame(
        [(0, 1), (2, 0), (3, 1)], "src long, dst long"  # (0,1) repeats b1
    )
    _ingest_one_batch(b1, 0, edges_dir, deltas_dir)
    _ingest_one_batch(b2, 1, edges_dir, deltas_dir)

    def degree_map():
        return {
            r["node"]: (r["out_degree"], r["in_degree"])
            for r in read_degrees(spark, deltas_dir).collect()
        }

    want = {0: (2, 1), 1: (1, 2), 2: (1, 2), 3: (1, 0)}
    assert degree_map() == want
    # edge log holds the distinct union
    log = spark.read.parquet(edges_dir).select("src", "dst")
    assert log.count() == 5 and log.distinct().count() == 5

    # replay batch 1 (checkpoint recovery): nothing changes
    _ingest_one_batch(b2, 1, edges_dir, deltas_dir)
    assert degree_map() == want
    assert spark.read.parquet(edges_dir).count() == 5


def test_edge_ingest_stream_end_to_end(spark, tmp_path):
    """availableNow stream over a watch dir: lands edges + deltas via
    the declared schema (works before any files exist), then picks up
    files on the next start."""
    import os

    from hadoopwebgraph_spark.streaming.graph_stream import (
        edge_ingest_stream,
        read_degrees,
    )

    incoming = str(tmp_path / "in")
    os.makedirs(incoming)
    edges_dir = str(tmp_path / "edges")
    deltas_dir = str(tmp_path / "deltas")
    ck = str(tmp_path / "ck")

    q = edge_ingest_stream(spark, incoming, edges_dir, deltas_dir, ck)
    q.awaitTermination()  # empty dir: clean start, nothing landed

    spark.createDataFrame([(0, 1), (1, 0)], "src long, dst long").write.mode(
        "append"
    ).parquet(incoming)
    q2 = edge_ingest_stream(spark, incoming, edges_dir, deltas_dir, ck)
    q2.awaitTermination()
    got = {
        r["node"]: (r["out_degree"], r["in_degree"])
        for r in read_degrees(spark, deltas_dir).collect()
    }
    assert got == {0: (1, 1), 1: (1, 1)}


def test_materialize_bvgraph_from_edge_log(spark, tmp_path):
    """Streamed edge log -> real BVGraph triple: decode matches the
    distinct edge union as dense sorted adjacency."""
    from hadoopwebgraph_spark.bvgraph.datasource import read_bvgraph
    from hadoopwebgraph_spark.streaming.graph_stream import (
        _ingest_one_batch,
        materialize_bvgraph,
    )

    edges_dir = str(tmp_path / "edges")
    deltas_dir = str(tmp_path / "deltas")
    b1 = spark.createDataFrame([(0, 2), (0, 1), (2, 3)], "src long, dst long")
    b2 = spark.createDataFrame([(0, 1), (3, 0)], "src long, dst long")
    _ingest_one_batch(b1, 0, edges_dir, deltas_dir)
    _ingest_one_batch(b2, 1, edges_dir, deltas_dir)
    props = materialize_bvgraph(spark, edges_dir, str(tmp_path / "g"))
    assert props.nodes == 4 and props.arcs == 4
    back = read_bvgraph(spark, str(tmp_path / "g"), num_splits=2).orderBy("src")
    assert [list(r["adj"]) for r in back.collect()] == [[1, 2], [], [3], [0]]


def test_permute_rejects_node_domain_hole(spark, tmp_path):
    """A perm whose node domain has a hole (node 3 missing, node 4
    present) passes every count check but would silently drop arcs —
    the range check on BOTH domains must reject it."""
    import pytest as _pytest

    from hadoopwebgraph_spark.bvgraph.codec import BVGraphFiles, encode_graph
    from hadoopwebgraph_spark.bvgraph.transform import permute_bvgraph

    base = str(tmp_path / "g")
    g, o, pr = encode_graph([[1], [2], [3], [0]])
    BVGraphFiles(base).write(g, o, pr)
    hole = spark.createDataFrame(
        [(0, 0), (1, 1), (2, 2), (4, 3)], "node long, new_id long"
    )
    with _pytest.raises(ValueError, match="bijection"):
        permute_bvgraph(spark, base, str(tmp_path / "bad"), hole)


def test_edge_ingest_stream_missing_watch_dir(spark, tmp_path):
    """Daemon-before-producer start: a missing LOCAL incoming dir is
    created instead of crashing stream construction."""
    from hadoopwebgraph_spark.streaming.graph_stream import edge_ingest_stream

    q = edge_ingest_stream(
        spark,
        str(tmp_path / "never_created"),
        str(tmp_path / "edges"),
        str(tmp_path / "deltas"),
        str(tmp_path / "ck"),
    )
    q.awaitTermination()


def test_neighborhood_function_trims_stagnant_tail_at_cap(spark):
    """max_hops reached with dry==1: the stagnant final hop must be
    trimmed exactly like the early-stop branch trims it. A 4-cycle's
    N(t) saturates at t=3; max_hops=4 makes hop 4 the FIRST
    non-growing hop (dry==1 at exhaustion)."""
    from hadoopwebgraph_spark.queries.graph_algos import neighborhood_function

    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0)], "src long, dst long"
    )
    nf = neighborhood_function(e, max_hops=4, lg_k=12)
    assert [round(v) for v in nf] == [4, 8, 12, 16]
