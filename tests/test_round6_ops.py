"""Round-6 additions: g22 degree cap, q119 integer ratio, streaming-dedup
replay idempotency, storage routing."""

from __future__ import annotations

import random

from pyspark.sql import functions as F


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src int, dst int").select(
        "src", F.col("dst")
    )


def _sym(spark, pairs):
    e = spark.createDataFrame(pairs, "src int, dst int")
    return (
        e.filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .union(e.filter(F.col("src") != F.col("dst")).select(
            F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )


# ---------------------------------------------------------------------------
# g22 degree cap
# ---------------------------------------------------------------------------


def test_link_prediction_cap_exact_below_threshold(spark):
    """With cap >= max degree, the capped computation is bit-identical to
    the uncapped one (randomized graph, seeded)."""
    from hadoopwebgraph_spark.queries.graph_algos import link_prediction

    rng = random.Random(42)
    pairs = list({(rng.randrange(12), rng.randrange(12)) for _ in range(40)})
    sym = _sym(spark, pairs).localCheckpoint()
    uncapped = [tuple(r) for r in link_prediction(sym, top_k=200).collect()]
    capped = [
        tuple(r)
        for r in link_prediction(sym, top_k=200, degree_cap=64).collect()
    ]
    assert uncapped == capped and len(uncapped) > 0


def test_link_prediction_cap_bounds_hub_wedges(spark):
    """A star hub of degree 40 with cap 6 must generate at most C(6,2)=15
    candidate pairs (uncapped it would be C(40,2)=780) — and the pairs it
    does emit keep the EXACT degrees in the Jaccard denominator."""
    from hadoopwebgraph_spark.queries.graph_algos import link_prediction

    pairs = [(0, i) for i in range(1, 41)]  # hub 0, leaves 1..40
    sym = _sym(spark, pairs).localCheckpoint()
    out = link_prediction(sym, top_k=1000, degree_cap=6).collect()
    # all candidate pairs are leaf-leaf wedges through the hub
    assert 0 < len(out) <= 15
    for r in out:
        assert r["common"] == 1
        # exact degrees: every leaf has degree 1 -> jaccard = 1/(1+1-1) = 1.0
        assert r["jaccard"] == 1.0


def test_link_prediction_cap_deterministic_under_repartition(spark):
    """The hash-ranked neighbor cap is a pure function of (src, dst), so
    the capped result must not change with the physical partitioning."""
    from hadoopwebgraph_spark.queries.graph_algos import link_prediction

    rng = random.Random(7)
    pairs = list({(rng.randrange(30), rng.randrange(30)) for _ in range(300)})
    sym = _sym(spark, pairs).localCheckpoint()
    a = [tuple(r) for r in link_prediction(sym, top_k=100, degree_cap=5).collect()]
    b = [
        tuple(r)
        for r in link_prediction(
            sym.repartition(13), top_k=100, degree_cap=5
        ).collect()
    ]
    assert a == b and len(a) > 0


# ---------------------------------------------------------------------------
# q118 isolated session is cached, not recreated per call
# ---------------------------------------------------------------------------


def test_bloom_session_reused_across_invocations(spark):
    from hadoopwebgraph_spark.queries import scale_ops

    s1 = scale_ops._bloom_session(spark)
    s2 = scale_ops._bloom_session(spark)
    assert s1 is s2
    assert s1 is not spark  # still isolated from the caller's confs


# ---------------------------------------------------------------------------
# streaming dedup: crash-replay idempotency
# ---------------------------------------------------------------------------

_DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def test_dedup_batch_replay_after_digest_write_is_idempotent(spark, tmp_path):
    """Crash scenario: batch N committed its digest partition but crashed
    before the checkpoint commit, so foreachBatch replays the SAME
    batch_id. The replay must not anti-join the batch against its own
    digests (which would overwrite the batch's output and digests with
    empty data) — re-invoking _dedup_one_batch twice with the same
    batch_id must leave exactly the same non-empty output."""
    import os

    from hadoopwebgraph_spark.functions.dedup import _dedup_one_batch

    digests = str(tmp_path / "snap" / "digests")
    out = str(tmp_path / "out")

    b1 = spark.createDataFrame(
        [(1, "alpha text", "en", "web", 10), (2, "beta text", "en", "web", 9)],
        _DOC_SCHEMA,
    )
    _dedup_one_batch(b1, 0, digests, out)
    first = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert first == [1, 2]

    # replay batch 0 (digests for batch_id=0 are already on disk)
    _dedup_one_batch(b1, 0, digests, out)
    replayed = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert replayed == [1, 2], "replay must not erase the batch"
    n_digests = spark.read.parquet(digests).count()
    assert n_digests == 2

    # a LATER batch still dedups against batch 0's digests
    b2 = spark.createDataFrame(
        [(10, "beta text", "en", "web", 9), (11, "gamma text", "en", "web", 10)],
        _DOC_SCHEMA,
    )
    _dedup_one_batch(b2, 1, digests, out)
    final = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert final == [1, 2, 11]

    # and replaying the later batch is idempotent too
    _dedup_one_batch(b2, 1, digests, out)
    assert sorted(r["doc_id"] for r in spark.read.parquet(out).collect()) == [1, 2, 11]
    assert spark.read.parquet(digests).count() == 3
    assert os.path.isdir(os.path.join(digests, "batch_id=1"))


def test_dedup_batch_missing_snapshot_vs_other_errors(spark, tmp_path):
    """A genuinely absent snapshot path means 'first batch' (no error); a
    corrupt snapshot file must PROPAGATE, not silently re-admit dups."""
    import pytest

    from hadoopwebgraph_spark.functions.dedup import _dedup_one_batch

    digests = str(tmp_path / "never_created" / "digests")
    out = str(tmp_path / "out")
    b = spark.createDataFrame([(1, "alpha", "en", "web", 5)], _DOC_SCHEMA)
    _dedup_one_batch(b, 0, digests, out)  # must not raise
    assert spark.read.parquet(out).count() == 1

    # corrupt parquet in the snapshot -> the batch must fail loudly
    bad = tmp_path / "badsnap" / "digests" / "batch_id=0"
    bad.mkdir(parents=True)
    (bad / "part-00000.parquet").write_bytes(b"PAR1 this is not parquet")
    with pytest.raises(Exception):
        _dedup_one_batch(b, 1, str(tmp_path / "badsnap" / "digests"), str(tmp_path / "out2"))
    assert not (tmp_path / "out2" / "batch_id=1").exists()


def test_compact_digest_snapshot(spark, tmp_path):
    """Fold the per-batch digest partitions into one batch_id=-1
    partition: digest set unchanged, file count down, later batches still
    dedup correctly, and a replayed batch stays idempotent (its own
    partition is gone but -1 != batch_id so the exclusion filter holds).
    Re-compaction after more batches must also converge."""
    import os

    from hadoopwebgraph_spark.functions.dedup import _dedup_one_batch
    from hadoopwebgraph_spark.functions.maintenance import (
        compact_digest_snapshot,
    )

    digests = str(tmp_path / "snap" / "digests")
    out = str(tmp_path / "out")
    for i, texts in enumerate([["a", "b"], ["b", "c"], ["c", "d"]]):
        b = spark.createDataFrame(
            [(10 * i + j, t, "en", "web", len(t)) for j, t in enumerate(texts)],
            _DOC_SCHEMA,
        )
        _dedup_one_batch(b, i, digests, out)

    before = {r["h"] for r in spark.read.parquet(digests).collect()}
    assert len(before) == 4  # a b c d
    stats = compact_digest_snapshot(spark, digests)
    assert stats["digests"] == 4
    assert stats["batch_id"] == -1
    assert stats["files_after"] <= stats["files_before"]
    assert os.listdir(digests) == ["batch_id=-1"]
    assert {r["h"] for r in spark.read.parquet(digests).collect()} == before

    # a later batch dedups against the compacted snapshot
    b3 = spark.createDataFrame(
        [(30, "d", "en", "web", 1), (31, "e", "en", "web", 1)], _DOC_SCHEMA
    )
    _dedup_one_batch(b3, 3, digests, out)
    got = sorted(
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(out, "batch_id=3")).collect()
    )
    assert got == [31]  # "d" is a dup of batch 2's doc

    # replay of batch 3 is still idempotent post-compaction
    _dedup_one_batch(b3, 3, digests, out)
    got2 = sorted(
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(out, "batch_id=3")).collect()
    )
    assert got2 == [31]

    # second compaction folds -1 and batch 3 into a fresh unique id -2
    # (the install target can never pre-exist, so a crash at any point
    # leaves only valid integer partitions)
    stats2 = compact_digest_snapshot(spark, digests)
    assert stats2["digests"] == 5  # a b c d e
    assert stats2["batch_id"] == -2
    assert os.listdir(digests) == ["batch_id=-2"]

    # interrupted-compaction recovery: simulate a crash AFTER the new
    # partition install but BEFORE old-partition removal by recreating a
    # stale batch partition alongside; the union is a digest superset
    # (same dedup semantics) and the next compaction converges
    b4 = spark.createDataFrame([(40, "f", "en", "web", 1)], _DOC_SCHEMA)
    _dedup_one_batch(b4, 4, digests, out)
    stats3 = compact_digest_snapshot(spark, digests)
    assert stats3["digests"] == 6 and stats3["batch_id"] == -3
    assert os.listdir(digests) == ["batch_id=-3"]


def test_partitioned_ingest_stream(spark, tmp_path):
    """Streaming ingest into the date-partitioned layout: two
    micro-batches land under batch_id=<n>/p_month=<m>; a month filter
    prunes across batches; replaying a batch (crash recovery) overwrites
    its own directory only — other batches' rows in the same month
    survive."""
    import os

    from pyspark.sql import functions as F

    from hadoopwebgraph_spark.functions.layout import (
        _ingest_one_batch,
        partitioned_ingest_stream,
    )

    incoming = str(tmp_path / "in")
    out = str(tmp_path / "fact")
    schema = "o_orderkey long, o_orderdate date, o_totalprice double"
    b1 = spark.createDataFrame(
        [(1, "1995-03-10", 10.0), (2, "1995-04-02", 20.0)],
        "o_orderkey long, o_orderdate string, o_totalprice double",
    ).withColumn("o_orderdate", F.to_date("o_orderdate"))
    b1.write.mode("append").parquet(incoming)

    q = partitioned_ingest_stream(spark, incoming, out, str(tmp_path / "ck"))
    q.awaitTermination()
    b2 = spark.createDataFrame(
        [(3, "1995-03-20", 30.0)],
        "o_orderkey long, o_orderdate string, o_totalprice double",
    ).withColumn("o_orderdate", F.to_date("o_orderdate"))
    b2.write.mode("append").parquet(incoming)
    q2 = partitioned_ingest_stream(spark, incoming, out, str(tmp_path / "ck"))
    q2.awaitTermination()

    back = spark.read.parquet(out)
    assert back.count() == 3
    # month filter prunes ACROSS batches and finds both batches' March rows
    march = back.filter(F.col("p_month") == "1995-03")
    assert sorted(r["o_orderkey"] for r in march.collect()) == [1, 3]
    plan = march._sc._jvm.PythonSQLUtils.explainString(
        march._jdf.queryExecution(), "formatted"
    )
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "p_month" in pf[0]

    # replay batch 1: its directory is overwritten in place; batch 0's
    # March row is untouched (month-level dynamic overwrite would lose it)
    _ingest_one_batch(b2, 1, "o_orderdate", out)
    assert spark.read.parquet(out).count() == 3
    assert sorted(
        r["o_orderkey"]
        for r in spark.read.parquet(out)
        .filter(F.col("p_month") == "1995-03")
        .collect()
    ) == [1, 3]
    assert os.path.isdir(os.path.join(out, "batch_id=1", "p_month=1995-03"))


# ---------------------------------------------------------------------------
# sink storage routing by basename scheme
# ---------------------------------------------------------------------------


def test_store_for_routes_by_scheme(tmp_path):
    from hadoopwebgraph_spark.bvgraph.storage import (
        LocalFSStore,
        PyArrowFSStore,
        store_for,
    )

    assert isinstance(store_for(str(tmp_path / "g")), LocalFSStore)
    local = store_for(f"file://{tmp_path}/g")
    assert isinstance(local, LocalFSStore)
    assert local.root == f"{tmp_path}/g.spill"
    s3 = store_for("s3://bucket/graphs/g")
    assert isinstance(s3, PyArrowFSStore)
    assert s3.root == "s3://bucket/graphs/g.spill"


def test_pyarrow_store_survives_pickle(tmp_path):
    """The store ships to executors: it must pickle WITHOUT the resolved
    FileSystem handle and re-resolve lazily in the task process."""
    import pickle

    from hadoopwebgraph_spark.bvgraph.storage import PyArrowFSStore

    st = PyArrowFSStore(f"file://{tmp_path}/blobs")
    st.put("k", b"payload")  # resolves the fs handle driver-side
    st2 = pickle.loads(pickle.dumps(st))
    assert st2.get("k") == b"payload"
    st2.put("k2", b"\x00\xff" * 5)
    assert st2.get("k2") == b"\x00\xff" * 5
    st2.cleanup()


def test_bvgraph_sink_roundtrip_through_pyarrow_store(spark, tmp_path):
    """Full distributed sink write with the NON-local (pyarrow.fs) store
    implementation — the encode tasks spill and the driver compose reads
    back every chunk through the blob-store interface; the output
    triple must decode identically to the source."""
    import pyarrow.parquet as pq

    from hadoopwebgraph_spark.bvgraph.datasource import read_bvgraph
    from hadoopwebgraph_spark.bvgraph.sink import write_bvgraph
    from hadoopwebgraph_spark.bvgraph.storage import PyArrowFSStore
    from hadoopwebgraph_spark.queries.graph import SMALL_BASENAME, SMALL_PARQUET

    df = read_bvgraph(spark, SMALL_BASENAME, num_splits=5)
    out_base = f"file://{tmp_path}/rt"
    store = PyArrowFSStore(f"file://{tmp_path}/spill")
    p = write_bvgraph(df, out_base, store=store)
    assert p.nodes == 2000

    twin = pq.read_table(SMALL_PARQUET)
    expected = {s: a for s, a in zip(twin["src"].to_pylist(), twin["adj"].to_pylist())}
    back = read_bvgraph(spark, out_base, num_splits=7)
    assert {r.src: list(r.adj) for r in back.collect()} == expected
    # byte-identical to the plain local-path write (topology must not
    # change the bytes)
    local_base = str(tmp_path / "rt_local")
    write_bvgraph(read_bvgraph(spark, SMALL_BASENAME, num_splits=5), local_base)
    with open(f"{tmp_path}/rt.graph", "rb") as a, open(
        local_base + ".graph", "rb"
    ) as b:
        assert a.read() == b.read()


def test_g22_fixture_degree_under_cap(spark):
    """The registered g22 is oracle-exact only while the fixture's max
    symmetric degree stays under the cap — pin that invariant."""
    import hadoopwebgraph_spark.queries.graph_algos as ga
    from hadoopwebgraph_spark.queries.graph import edges_df

    e = edges_df(spark).filter(F.col("src") != F.col("dst"))
    sym = (
        e.select("src", "dst")
        .union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )
    max_deg = (
        sym.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        .agg(F.max("d").alias("m")).collect()[0]["m"]
    )
    assert max_deg <= ga._G22_DEGREE_CAP


# ---------------------------------------------------------------------------
# HyperBall harmonic centrality
# ---------------------------------------------------------------------------


def _exact_harmonic(pairs, nodes):
    """Exact H(v) = sum 1/d(u,v) over directed reachability via BFS."""
    from collections import defaultdict, deque

    fwd = defaultdict(list)
    for s, d in pairs:
        if s != d:
            fwd[s].append(d)
    H = {v: 0.0 for v in nodes}
    for u in nodes:  # BFS from u along edges; u at distance d REACHES v
        dist = {u: 0}
        dq = deque([u])
        while dq:
            x = dq.popleft()
            for y in fwd[x]:
                if y not in dist:
                    dist[y] = dist[x] + 1
                    dq.append(y)
        for v, d in dist.items():
            if d > 0:
                H[v] += 1.0 / d
    return H


def test_hyperball_harmonic_exact_on_small_graphs(spark):
    """At small cardinalities the HLL sketches are exact (sparse mode),
    so HyperBall must reproduce exact BFS harmonic centrality on a
    cycle, a star, and a random digraph."""
    import random

    from hadoopwebgraph_spark.queries.graph_algos import hyperball_harmonic

    cases = [
        [(i, (i + 1) % 6) for i in range(6)],           # 6-cycle
        [(0, i) for i in range(1, 8)],                   # out-star
        list({(random.Random(3).randrange(15),
               random.Random(5).randrange(15)) for _ in range(40)}),
    ]
    rng = random.Random(11)
    cases.append(list({(rng.randrange(20), rng.randrange(20)) for _ in range(60)}))
    for pairs in cases:
        pairs = [(s, d) for s, d in pairs if s != d]
        if not pairs:
            continue
        e = spark.createDataFrame(pairs, "src int, dst int")
        got = {
            r.node: r.harmonic
            for r in hyperball_harmonic(e, max_hops=25).collect()
        }
        nodes = {v for p in pairs for v in p}
        want = _exact_harmonic(pairs, nodes)
        assert set(got) == nodes
        for v in nodes:
            assert abs(got[v] - want[v]) < 1e-3, (v, got[v], want[v], pairs)


def test_hyperball_no_python_udf_in_loop(spark):
    """The sketch unions must run JVM-side: no Python evaluation nodes
    in the per-hop plan."""
    from hadoopwebgraph_spark.queries.graph_algos import hyperball_harmonic

    e = spark.createDataFrame([(0, 1), (1, 2), (2, 0)], "src int, dst int")
    df = hyperball_harmonic(e, max_hops=2)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_neighborhood_function_and_effective_diameter(spark):
    """HyperANF on graphs small enough that HLL sparse mode is exact:
    hand-computed N(t) on a directed path, diameter-1 behavior on a
    complete digraph, early stop at the ball fixpoint."""
    from hadoopwebgraph_spark.queries.graph_algos import (
        effective_diameter,
        neighborhood_function,
    )

    # directed path 0->1->2->3: N = [4, 7, 9, 10]
    path = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src int, dst int")
    nf = neighborhood_function(path)
    assert nf == [4.0, 7.0, 9.0, 10.0]  # early-stopped at the fixpoint
    assert effective_diameter(path, 0.9) == 2.0

    # complete digraph on 4 nodes: every pair at distance 1 -> N(1)=16
    k4 = spark.createDataFrame(
        [(i, j) for i in range(4) for j in range(4) if i != j],
        "src int, dst int",
    )
    nf4 = neighborhood_function(k4)
    assert nf4 == [4.0, 16.0]
    assert effective_diameter(k4, 0.9) < 1.0  # interpolated below hop 1

    # monotone non-decreasing by construction
    cyc = spark.createDataFrame([(i, (i + 1) % 5) for i in range(5)], "src int, dst int")
    nfc = neighborhood_function(cyc)
    assert all(b >= a for a, b in zip(nfc, nfc[1:]))
    assert nfc[-1] == 25.0  # cycle: all pairs reachable
