"""Measured bench-entry bodies shared by bench.py and
scripts/profile_one.py (review r17: the profiler exists to arbitrate
bench numbers, so its bodies must be THE bench bodies by construction,
not copies that can drift). Anything here defines what a bench entry
measures — changing it changes the cross-round comparability of that
entry, so keep parameters (lg_k, num_splits, warm-up queries) stable.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def bench_env_defaults() -> str:
    """The bench measurement environment, in ONE place (review r17: it
    lived copied in bench.py / profile_one.py / capture_plans.py, so a
    moved fixture would desynchronize what the three tools measure):
    returns the sf dir ($SPARK_GRAFT_SF_DIR, default the driver's
    sf0.1) and defaults $SPARK_GRAFT_GRAPH_BASENAME to the large
    committed bench fixture (100k nodes, ~739k arcs) rather than the
    2k-node correctness fixture."""
    os.environ.setdefault(
        "SPARK_GRAFT_GRAPH_BASENAME",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "fixtures",
            "bvgraph",
            "bench",
        ),
    )
    # Measurement sessions pre-commit the driver heap (session.py —
    # r18: lazy G1 heap expansion was charging multi-second page-commit
    # costs to whichever query allocated after a heavy bench block,
    # q62 0.8s -> 5.5s at 0% steal). Default-on for the bench and the
    # profiler only; short-lived test sessions skip the ~15s pretouch.
    os.environ.setdefault("SPARK_GRAFT_PRETOUCH", "1")
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def generic_warmup(spark: SparkSession, sf_dir: str) -> None:
    """JVM + parquet footers + whole-stage-codegen + python worker pool
    warm-up shared by every timed protocol (first query in a fresh JVM
    otherwise pays ~1s of compile)."""
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .groupBy("l_linestatus")
        .agg(F.sum("l_quantity"), F.count(F.lit(1)))
        .collect()
    )


def graph_ann_warmup(spark: SparkSession, sf_dir: str) -> None:
    """The bench's graph + ANN steady-state preparation, shared with
    scripts/profile_one.py (review r17 pass 2: without it the profiler
    re-scans the embeddings parquet per probe and measures a ~3x-worse
    protocol than the bench numbers it arbitrates):

    - graph fixture decode (python worker pool for the bvgraph source);
    - PERSIST the embeddings scan the whole ANN block shares (VERDICT
      r12 #5 — Spark's cache manager substitutes the cached relation
      for every parquet-rooted probe/build plan);
    - build the ANN indexes for the target SF if absent (train-once /
      probe-many: construction is an ETL job, not query time) and run
      each probe shape once at the smallest SF to warm the 64-wide
      cosine codegen (~5s whole-stage compile per plan shape);
    - warm the q70 two-phase top-k and q62 minhash signature shapes
      (~2s codegen each; see BENCH_r04's q70 regression).

    Raises on failure — callers decide whether warm-up is best-effort
    (bench.py wraps it) or fatal."""
    from .catalog import load
    from .functions.similarity import (
        build_ivf_index,
        build_opq_index,
        build_pq_index,
        ivf_probe,
        pq_probe,
    )
    from .queries.graph import graph_df
    from .registry import all_queries

    graph_df(spark).count()
    load(spark, sf_dir, "embeddings").persist().count()
    build_ivf_index(spark, sf_dir)
    build_pq_index(spark, sf_dir)
    build_opq_index(spark, sf_dir)
    small = "/root/testdata/sf0.001"
    ivf_probe(spark, small).count()
    pq_probe(spark, small).count()
    pq_probe(spark, small, index_path=build_opq_index(spark, small)).count()
    queries = all_queries()
    queries["q70_sim_bruteforce_topk"].fn(spark, small).count()
    queries["q62_dedup_minhash"].fn(spark, small).count()


def hyperanf_3hop(spark: SparkSession):
    """The gB_hyperanf_3hop body: 3 sketch hops at lg_k=11 on the
    committed bench fixture (see bench.py's entry comment for why it
    runs after the query loop there).

    The node set is ``range(nodes)`` from the graph's .properties —
    BVGraph node ids are consecutive 0..n-1 by format definition, so
    deriving the seed set needs NO scan at all, where the default path
    (neighborhood_function's union(src, dst).distinct()) pays a full
    shuffle of 1.48M edge endpoints plus re-decodes per run (guide
    §2.4: a distinct on data that is already unique; §5: metadata over
    data movement). An intermediate variant that scanned the source for
    its src column was faster isolated but regressed in-bench (the
    second Python-source scan per run interacts with late-bench session
    state — measured 9.7-70.9 s vs baseline 5.5; OPTIMIZATION_r18.md).
    N(t) is bit-identical across all three forms (same node rows ->
    same single-item seed sketches; isolated A/B best-of-3 3.63 s vs
    5.50 s base at <=0.7% busy steal)."""
    from .queries.graph import edges_df
    from .queries.graph_algos import neighborhood_function

    n_nodes = _graph_nodes_from_properties()
    nodes = spark.range(n_nodes).select(F.col("id").alias("node"))
    return neighborhood_function(
        edges_df(spark), nodes=nodes, max_hops=3, lg_k=11
    )


def _graph_nodes_from_properties() -> int:
    """Node count of the active graph fixture from its .properties
    metadata (the catalog-stats analogue; no Spark job)."""
    from .bvgraph.datasource import graph_properties
    from .queries.graph import graph_basename

    return graph_properties(graph_basename()).nodes


def check_nf(nf) -> None:
    """Sanity for hyperanf_3hop: the r7 N(t) tail-trim can legitimately
    return fewer than max_hops+1 entries (growth saturates early) — a
    healthy run must not be recorded as an error."""
    assert 2 <= len(nf) <= 4 and nf[-1] > nf[0]


def xl_scan_agg(spark: SparkSession, xl: str, splits: int):
    """The gXL_graph_scan body: full decode + two aggregates whose pair
    doubles as the partition-invariance checksum. Returns (m, w)."""
    from .bvgraph.datasource import read_bvgraph

    r = (
        read_bvgraph(spark, xl, num_splits=splits)
        .select(
            F.sum(F.size("adj")).alias("m"),
            F.sum(F.col("src") * F.size("adj")).alias("w"),
        )
        .collect()[0]
    )
    return int(r.m), int(r.w)


def xl_degree_hist_count(spark: SparkSession, xl: str) -> int:
    """The gXL_degree_hist body: decode + explode-free size() + two-level
    aggregate (the degree-distribution shape every graph workload starts
    with)."""
    from .bvgraph.datasource import read_bvgraph

    return (
        read_bvgraph(spark, xl, num_splits=32)
        .select(F.size("adj").alias("deg"))
        .groupBy("deg")
        .count()
        .count()
    )
