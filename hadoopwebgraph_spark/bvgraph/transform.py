"""Whole-graph transforms THROUGH the sink+source — the distributed
equivalents of the BV WebGraph framework's ``Transform`` companions
(the ecosystem the reference plugs into, HdfsBVGraph.java:26-28
lineage): node renumbering (``Transform.map``) and graph union
(``Transform.union``); transpose lives in queries/graph.py::g24.

Permutation is THE compression lever of the BV format: the gap/ref
coding exploits locality and similarity of nearby successor lists, so
renumbering by host/BFS/Gray-code order routinely shrinks web graphs
2-3x (Boldi-Vigna WWW'04). ``permute_bvgraph`` makes that a two-join
Spark job ending in the executor-parallel sink.

Scale design: everything is edge-level DataFrame algebra — explode to
arcs, map endpoints through broadcast-or-shuffled label joins, one
groupBy rebuilds sorted dense adjacency, then the sink writes.
No driver-side per-node work; the permutation rides as a narrow
(long, long) table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .properties import BVGraphProperties


def _read_edges_and_n(spark: SparkSession, basename: str, num_splits=None):
    from .datasource import graph_properties, read_bvgraph

    if num_splits is None:
        num_splits = spark.sparkContext.defaultParallelism
    g = read_bvgraph(spark, basename, num_splits=num_splits)
    return g, graph_properties(basename).nodes


def _write_dense(edges: DataFrame, n: int, dst_basename: str, **props_kw):
    """Rebuild dense sorted adjacency over 0..n-1 from an edge list and
    write it through the executor-parallel sink."""
    from .sink import write_bvgraph

    spark = edges.sparkSession
    nodes = spark.range(0, n).select(F.col("id").cast("int").alias("src"))
    adj = edges.select(
        F.col("src").cast("int").alias("src"), F.col("dst").cast("int").alias("dst")
    ).groupBy("src").agg(F.sort_array(F.collect_set("dst")).alias("adj"))
    full = nodes.join(adj, "src", "left").select(
        "src",
        F.coalesce("adj", F.array().cast("array<int>")).alias("adj"),
    )
    return write_bvgraph(full, dst_basename, n_nodes=n, **props_kw)


def permute_bvgraph(
    spark: SparkSession,
    src_basename: str,
    dst_basename: str,
    perm: DataFrame,
    num_splits: int | None = None,
    **props_kw,
) -> BVGraphProperties:
    """Renumber a BVGraph by ``perm`` (DataFrame[node, new_id], a
    bijection on 0..n-1) and write the result — ``Transform.map`` for
    the distributed stack. Both endpoints of every arc are mapped with
    narrow label joins; the bijection is validated with one aggregate
    (count == n, distinct new_ids == n, range exactly [0, n-1]) so a
    hole or collision fails loudly before any byte is written.

    ``props_kw`` passes compression parameters through to the sink, so
    a locality-improving permutation can be combined with a transcode
    in the same job.
    """
    g, n = _read_edges_and_n(spark, src_basename, num_splits)
    p = (
        perm.select(
            F.col("node").cast("long").alias("node"),
            F.col("new_id").cast("long").alias("new_id"),
        )
        .localCheckpoint()
    )
    chk = p.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.countDistinct("new_id").alias("dst_cnt"),
        F.min("new_id").alias("lo"),
        F.max("new_id").alias("hi"),
        F.countDistinct("node").alias("src_cnt"),
        F.min("node").alias("n_lo"),
        F.max("node").alias("n_hi"),
    ).collect()[0]
    # BOTH domains must be exactly 0..n-1: a hole in the node domain
    # (e.g. node 3 missing, node 4 present) would otherwise pass every
    # count check and silently drop the missing node's arcs in the
    # label joins below
    if not (
        chk["cnt"] == n
        and chk["src_cnt"] == n
        and chk["dst_cnt"] == n
        and chk["lo"] == 0
        and chk["hi"] == n - 1
        and chk["n_lo"] == 0
        and chk["n_hi"] == n - 1
    ):
        raise ValueError(
            f"perm is not a bijection on 0..{n - 1}: rows={chk['cnt']}, "
            f"distinct nodes={chk['src_cnt']} in [{chk['n_lo']}, "
            f"{chk['n_hi']}], distinct new_ids={chk['dst_cnt']} in "
            f"[{chk['lo']}, {chk['hi']}]"
        )
    e = g.select(
        F.col("src").cast("long").alias("u"),
        F.explode("adj").alias("v0"),
    ).select("u", F.col("v0").cast("long").alias("v"))
    mapped = (
        e.join(p.select(F.col("node").alias("u"), F.col("new_id").alias("src")), "u")
        .join(p.select(F.col("node").alias("v"), F.col("new_id").alias("dst")), "v")
        .select("src", "dst")
    )
    return _write_dense(mapped, n, dst_basename, **props_kw)


def reverse_permutation(spark: SparkSession, n: int) -> DataFrame:
    """The identity-reversing bijection node -> n-1-node (handy test /
    demo permutation; real pipelines feed host- or BFS-order here)."""
    return spark.range(0, n).select(
        F.col("id").alias("node"), (F.lit(n - 1) - F.col("id")).alias("new_id")
    )


def union_bvgraph(
    spark: SparkSession,
    a_basename: str,
    b_basename: str,
    dst_basename: str,
    num_splits: int | None = None,
    **props_kw,
) -> BVGraphProperties:
    """Arc-set union of two BVGraphs over max(n_a, n_b) nodes —
    ``Transform.union``. One distinct over the concatenated edge lists,
    then the dense rebuild + sink; incremental crawl merges at scale
    are exactly this shape.
    """
    ga, na = _read_edges_and_n(spark, a_basename, num_splits)
    gb, nb = _read_edges_and_n(spark, b_basename, num_splits)

    def edges(g):
        return g.select(
            F.col("src").cast("long").alias("src"),
            F.explode("adj").alias("dst"),
        )

    return _write_dense(
        edges(ga).union(edges(gb)).distinct(),
        max(na, nb),
        dst_basename,
        **props_kw,
    )
