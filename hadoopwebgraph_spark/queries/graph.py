"""Graph operator surface over the BVGraph source — SURVEY.md §2 Tier B
(the algebra the reference demonstrates in its README) plus the derived
graph operators it enables (degree distributions, k-hop joins, motifs).

Every Spark-side query here reads through ``spark.read.format("bvgraph")``
— the custom source IS the system under test — while the DuckDB oracle
reads the same adjacency from a committed parquet twin, so the driver's
hash compare certifies the whole decode pipeline end-to-end.

Scale: the adjacency DataFrame is columnar Arrow out of the reader;
explode() is codegen'd; degree aggregations are partial-agg'd map-side;
2-hop self-joins shuffle on the join key (at 100 TB: bucket the edge table
by src/dst to co-locate; AQE handles the power-law skew via skew-join
splitting).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..bvgraph.datasource import graph_properties, read_bvgraph
from ..cache import register_release_hook, release_all, track
from ..registry import register

_REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SMALL_BASENAME = os.path.join(_REPO, "fixtures", "bvgraph", "small")
BENCH_BASENAME = os.path.join(_REPO, "fixtures", "bvgraph", "bench")
SMALL_PARQUET = os.path.join(_REPO, "fixtures", "small_adj.parquet")

# DuckDB-side twin of the small fixture (committed parquet)
_T = f"read_parquet('{SMALL_PARQUET}')"



def graph_basename() -> str:
    """The active graph, resolved here only: $SPARK_GRAFT_GRAPH_BASENAME
    (e.g. a larger graph), else the committed 2k-node fixture."""
    return os.environ.get("SPARK_GRAFT_GRAPH_BASENAME", SMALL_BASENAME)


_MEMO: dict[tuple, DataFrame] = {}
register_release_hook(_MEMO.clear)


def _memo_key(spark: SparkSession, tag: str) -> tuple:
    """Memo identity for a shared decode: the session plus everything
    that changes what graph_df/edges_df read (fixtures are immutable
    within a session, so content never enters the key)."""
    return (id(spark), graph_basename(), tag)


def _materialize(df: DataFrame, key: tuple | None = None) -> DataFrame:
    """Share a decoded subtree across multiple consumers: persist + eager
    count. One decode guaranteed (the two cache readers never race
    partition materialization), and ~2x cheaper than the eager
    localCheckpoint this replaced (r11 measurement in NOTES.md — the
    checkpoint paid a separate materialization job plus an RDD copy).

    Spark's cache manager does NOT dedupe these across calls: every
    Python-DataSource read is a fresh plan identity, so two g05 calls
    used to pin two separate cache entries (measured r12 —
    getPersistentRDDs grew per call; the r11 "registers by logical
    plan" claim only holds for parquet-rooted plans). ``key`` fixes
    that: same (session, basename, site) returns the SAME
    cached DataFrame, so repeated queries reuse one entry and one
    decode.

    Retained-cache contract (ADVICE r11): the persist is deliberately
    NOT released when the returned DataFrame is consumed — the returned
    plan references the cached subtree, and cross-call reuse is part of
    the measured win. Cached subtrees live for the session (bounded:
    fixture-graph decodes; MEMORY_AND_DISK evicts under pressure).
    Long-lived sessions drop every tracked cache — graph decodes AND
    other modules' persisted subtrees — via release_materialized()
    (= cache.release_all, which also clears this memo). The eager
    count() means construction runs jobs — callers that only want the
    plan shape should build the un-materialized subtree directly."""
    if key is not None and key in _MEMO:
        return _MEMO[key]
    df = df.persist()
    df.count()
    track(df)
    if key is not None:
        _MEMO[key] = df
    return df


# session-wide release lever (re-exported; covers every track() site
# across modules, not just graph decodes)
release_materialized = release_all

def graph_df(spark: SparkSession, basename: str | None = None) -> DataFrame:
    """Adjacency DataFrame of ``basename`` (default: the active graph,
    ``graph_basename()``) from the BVGraph source.

    numSplits is the cluster's core count rather than the reference's
    fixed 100 (WebGraphInputFormat.java:19): per-task Python worker
    round-trips dominate when tasks decode only a few KB."""
    basename = basename or graph_basename()
    return read_bvgraph(
        spark, basename, num_splits=spark.sparkContext.defaultParallelism
    )


_SCRATCH_DIRS: set[str] = set()


def _scratch_dir(tag: str) -> str:
    """An empty per-process scratch dir ``<temp>/hwg_<tag>.<pid>`` for a
    query's graph copy, removed at interpreter exit.

    The dir is wiped on every call, so repeated runs in one process keep
    one copy; the pid keeps concurrent processes out of each other's
    in-flight files. The returned DataFrame reads the copy lazily, so it
    can't be deleted when the query returns — one ``atexit`` rmtree per
    dir reaps it instead."""
    import atexit
    import shutil
    import tempfile

    out_dir = os.path.join(tempfile.gettempdir(), f"hwg_{tag}.{os.getpid()}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    if out_dir not in _SCRATCH_DIRS:
        _SCRATCH_DIRS.add(out_dir)
        atexit.register(shutil.rmtree, out_dir, ignore_errors=True)
    return out_dir


def edges_df(spark: SparkSession, basename: str | None = None) -> DataFrame:
    """Edge-list projection — reference README.md:39's flatMap equivalent."""
    g = graph_df(spark, basename)
    return g.select("src", F.explode("adj").alias("dst"))


@register(
    "g01_adjacency",
    oracle=f"""
    SELECT src,
           CAST(len(adj) AS INTEGER)  AS outdeg,
           array_to_string(adj, ',')  AS adj_str
    FROM {_T}
    """,
    doc="Full adjacency scan through the BVGraph source (Tier A1/B1): "
    "certifies the decode kernel against the parquet twin, node by node.",
)
def g01_adjacency(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = graph_df(spark)
    return g.select(
        "src",
        F.size("adj").alias("outdeg"),
        F.concat_ws(",", F.col("adj")).alias("adj_str"),
    )


@register(
    "g02_degree_distribution",
    oracle=f"""
    SELECT CAST(len(adj) AS INTEGER) AS outdeg, count(*) AS n_nodes
    FROM {_T}
    GROUP BY 1
    """,
    doc="Outdegree distribution (reference README.md:29 equivalent, B2+B3).",
)
def g02_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = graph_df(spark)
    return g.groupBy(F.size("adj").alias("outdeg")).agg(
        F.count(F.lit(1)).alias("n_nodes")
    )


@register(
    "g03_edges",
    oracle=f"SELECT src, unnest(adj) AS dst FROM {_T}",
    doc="Edge-list explode (B4: the flatMap to (src,dst) tuples).",
)
def g03_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return edges_df(spark)


@register(
    "g04_indegree_topk",
    oracle=f"""
    SELECT dst, count(*) AS indeg
    FROM (SELECT unnest(adj) AS dst FROM {_T})
    GROUP BY dst
    ORDER BY indeg DESC, dst
    LIMIT 20
    """,
    doc="In-degree via explode + groupBy + top-k (derived operator).",
)
def g04_indegree_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = edges_df(spark)
    return (
        e.groupBy("dst")
        .agg(F.count(F.lit(1)).alias("indeg"))
        .orderBy(F.col("indeg").desc(), F.col("dst"))
        .limit(20)
    )


@register(
    "g05_two_hop",
    oracle=f"""
    WITH e AS (SELECT src, unnest(adj) AS dst FROM {_T})
    SELECT count(*) AS n_paths,
           count(DISTINCT (e1.src, e2.dst)) AS n_pairs
    FROM e e1 JOIN e e2 ON e1.dst = e2.src
    """,
    doc="2-hop neighborhood via edge self-join (README.md:32-48's GraphX "
    "handoff re-expressed as a DataFrame self-join).",
)
def g05_two_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    # decode ONCE, reuse on both join sides (_materialize: Python DS
    # scans don't dedupe across aliases; r11 measured persist+count ~2x
    # cheaper than the prior eager localCheckpoint)
    e = _materialize(edges_df(spark), key=_memo_key(spark, "edges"))
    e1 = e.alias("e1")
    e2 = e.alias("e2")
    joined = e1.join(e2, F.col("e1.dst") == F.col("e2.src"))
    return joined.agg(
        F.count(F.lit(1)).alias("n_paths"),
        F.countDistinct(F.col("e1.src"), F.col("e2.dst")).alias("n_pairs"),
    )


@register(
    "g06_triangle_motif",
    oracle=f"""
    WITH e AS (SELECT src, unnest(adj) AS dst FROM {_T})
    SELECT count(*) AS n_triangles
    FROM e e1
    JOIN e e2 ON e1.dst = e2.src
    JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
    """,
    doc="Feed-forward triangle motif count (three-way edge self-join).",
)
def g06_triangle_motif(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _materialize(  # one decode for all three sides AND across calls
        edges_df(spark), key=_memo_key(spark, "edges")
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    return (
        e1.join(e2, F.col("e1.dst") == F.col("e2.src"))
        .join(
            e3,
            (F.col("e3.src") == F.col("e1.src")) & (F.col("e3.dst") == F.col("e2.dst")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


@register(
    "g07_graph_counts",
    oracle=f"""
    WITH e AS (SELECT src, unnest(adj) AS dst FROM {_T})
    SELECT (SELECT count(*) FROM {_T})                       AS n_nodes,
           (SELECT count(*) FROM e)                          AS n_edges,
           (SELECT count(*) FROM (
               SELECT src FROM e UNION SELECT dst FROM e))   AS n_touched
    """,
    doc="numVertices/numEdges (B6/B7): node count, edge count (== arcs "
    "property), and count of non-isolated vertices.",
)
def g07_graph_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE decode of the Python source feeds all three aggregates (the
    # same localCheckpoint sharing g05/g06/g13 use) — previously g/e were
    # separate scans and e fed two aggregates, decoding the graph 4x
    g = _materialize(graph_df(spark), key=_memo_key(spark, "graph"))
    e = g.select("src", F.explode("adj").alias("dst"))
    n_nodes = g.agg(F.count(F.lit(1)).alias("n_nodes"))
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    n_touched = (
        e.select(F.col("src").alias("v"))
        .union(e.select(F.col("dst").alias("v")))
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_touched"))
    )
    # three scalar aggregates cross-joined into one row — fully
    # distributed, no driver-side collect
    return n_nodes.crossJoin(n_edges).crossJoin(n_touched)


@register(
    "g08_symmetrize",
    oracle=f"""
    WITH e AS (SELECT src, unnest(adj) AS dst FROM {_T})
    SELECT count(*) AS n_sym_edges FROM (
        SELECT src, dst FROM e
        UNION
        SELECT dst AS src, src AS dst FROM e
    )
    """,
    doc="Edge-set algebra: symmetrize via union+distinct (set ops on the "
    "graph, SURVEY §2 set-ops row applied to edges).",
)
def g08_symmetrize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = edges_df(spark)
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return e.union(rev).distinct().agg(F.count(F.lit(1)).alias("n_sym_edges"))


@register(
    "g13_reachability_recursive_cte",
    oracle=f"""
    WITH RECURSIVE e AS (SELECT src, unnest(adj) AS dst FROM {_T}),
    reach(node, depth) AS (
        SELECT CAST(0 AS INTEGER), CAST(0 AS INTEGER)
        UNION ALL
        SELECT e.dst, CAST(r.depth + 1 AS INTEGER)
        FROM reach r JOIN e ON e.src = r.node
        WHERE r.depth < 3
    )
    SELECT node, CAST(min(depth) AS INTEGER) AS depth FROM reach GROUP BY node
    """,
    doc="BFS reachability from node 0 within 3 hops via WITH RECURSIVE "
    "(Spark 4 recursive CTE) over the BVGraph source — declarative "
    "iteration handled by the engine instead of a driver-side loop.",
)
def g13_reachability_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    # localCheckpoint: the recursive step re-reads the edge view every
    # iteration — decode the Python source once, not once per hop
    ck = edges_df(spark).localCheckpoint()
    # Recursive-step width keyed off |E| from the graph's .properties
    # (the catalog-stats analogue — the checkpoint's LogicalRDD carries
    # no stats, so the planner cannot size the loop itself): Spark 4's
    # UnionLoop re-executes the step join once per ITERATION, and with a
    # tiny frontier its cost is per-iteration scheduling/shuffle of
    # `shuffle.partitions = cpus` tasks, which GROWS with cores while
    # the data doesn't (driver r17 scaling: 3.93 s at 32 cores vs
    # 0.98 s at 8, ratio 0.25 — guide §2.2's blocks-grow-quadratically
    # pathology in miniature). A lazy coalesce of the checkpointed
    # edges to ~100k arcs/task bounds the loop width by the data size;
    # at corpus scale arcs/100k >= the scan width and coalesce is a
    # no-op, so nothing changes where the frontier is genuinely large.
    # Measured (OPTIMIZATION_r18.md): isolated best-of-4 1.27 s vs
    # 1.58 s base at <=1% steal; broadcast-hint variants matched this
    # but gamble on frontier size at 100 TB, the edges-broadcast
    # variant regressed (2.3 s — per-iteration broadcast rebuild).
    arcs = graph_properties(graph_basename()).arcs
    n = max(1, min(ck.rdd.getNumPartitions(), (arcs + 99_999) // 100_000))
    ck.coalesce(n).createOrReplaceTempView("g13_edges")
    return spark.sql(
        """
        WITH RECURSIVE reach(node, depth) AS (
            SELECT CAST(0 AS INT) AS node, CAST(0 AS INT) AS depth
            UNION ALL
            SELECT e.dst, CAST(r.depth + 1 AS INT)
            FROM reach r JOIN g13_edges e ON e.src = r.node
            WHERE r.depth < 3
        )
        SELECT node, CAST(min(depth) AS INT) AS depth FROM reach GROUP BY node
        """
    )


@register(
    "g09_src_range_scan",
    oracle=f"""
    SELECT src, CAST(len(adj) AS INTEGER) AS outdeg
    FROM {_T}
    WHERE src BETWEEN 100 AND 299
    """,
    doc="Point/range lookup on src (Tier A6 random access re-expressed): "
    "pushFilters prunes non-covering partitions at plan time.",
)
def g09_src_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = graph_df(spark)
    return (
        g.filter((F.col("src") >= 100) & (F.col("src") <= 299))
        .select("src", F.size("adj").alias("outdeg"))
    )


@register(
    "g19_clustering_coefficient",
    oracle=f"""
    WITH e0 AS (SELECT src, unnest(adj) AS dst FROM {_T}),
    sym AS (SELECT src, dst FROM e0 WHERE src <> dst
            UNION SELECT dst, src FROM e0 WHERE src <> dst),
    deg AS (SELECT src AS node, count(*) AS d FROM sym GROUP BY src),
    rk AS (SELECT node, d, d * 4294967296 + node AS r FROM deg),
    oriented AS (
        SELECT s.src, s.dst, rb.r AS dst_r
        FROM sym s
        JOIN rk ra ON ra.node = s.src
        JOIN rk rb ON rb.node = s.dst
        WHERE ra.r < rb.r
    ),
    tri AS (
        SELECT o1.src AS a, o1.dst AS b, o2.dst AS c
        FROM oriented o1
        JOIN oriented o2 ON o2.src = o1.src AND o1.dst_r < o2.dst_r
        JOIN oriented o3 ON o3.src = o1.dst AND o3.dst = o2.dst
    ),
    corners AS (
        SELECT a AS node FROM tri UNION ALL
        SELECT b FROM tri UNION ALL
        SELECT c FROM tri
    ),
    tcount AS (SELECT node, count(*) AS t FROM corners GROUP BY node)
    SELECT d.node,
           CAST(d.d AS BIGINT) AS degree,
           CAST(coalesce(t.t, 0) AS BIGINT) AS triangles,
           CASE WHEN d.d >= 2
                THEN round(2.0 * coalesce(t.t, 0) / (d.d * (d.d - 1)), 4)
                ELSE 0.0 END AS coeff
    FROM deg d LEFT JOIN tcount t ON t.node = d.node
    """,
    doc="Per-node clustering coefficient via degree-ordered triangle "
    "enumeration: undirected edges oriented from lower to higher "
    "(degree, id) rank, so each triangle is found exactly once from its "
    "lowest-rank corner and — the 100 TB point — every wedge fan-out is "
    "bounded by the ORIENTED out-degree, O(sqrt(m)) on skewed graphs "
    "instead of the hub degree. Two self-joins on the oriented edges, "
    "corner explode, one count shuffle.",
)
def g19_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    e0 = edges_df(spark).filter(F.col("src") != F.col("dst"))
    sym = _materialize(  # one decode feeds degree + both join sides
        e0.select("src", "dst")
        .union(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct(),
        key=_memo_key(spark, "sym-dedup"),
    )
    deg = sym.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    rk = deg.select(
        "node", "d", (F.col("d") * F.lit(4294967296) + F.col("node")).alias("r")
    )
    oriented = (
        sym.join(rk.select(F.col("node").alias("src"), F.col("r").alias("src_r")), "src")
        .join(rk.select(F.col("node").alias("dst"), F.col("r").alias("dst_r")), "dst")
        .filter(F.col("src_r") < F.col("dst_r"))
        .select("src", "dst", "dst_r")
    )
    oriented = _materialize(oriented, key=_memo_key(spark, "g19-oriented"))
    o1 = oriented.select(
        F.col("src").alias("a"), F.col("dst").alias("b"), F.col("dst_r").alias("b_r")
    )
    o2 = oriented.select(
        F.col("src").alias("a2"), F.col("dst").alias("c"), F.col("dst_r").alias("c_r")
    )
    o3 = oriented.select(F.col("src").alias("b2"), F.col("dst").alias("c2"))
    tri = (
        o1.join(o2, (F.col("a") == F.col("a2")) & (F.col("b_r") < F.col("c_r")))
        .join(o3, (F.col("b2") == F.col("b")) & (F.col("c2") == F.col("c")))
        .select("a", "b", "c")
    )
    corners = (
        tri.select(F.col("a").alias("node"))
        .union(tri.select(F.col("b").alias("node")))
        .union(tri.select(F.col("c").alias("node")))
    )
    tcount = corners.groupBy("node").agg(F.count(F.lit(1)).alias("t"))
    return (
        deg.join(tcount, "node", "left")
        .select(
            "node",
            F.col("d").cast("bigint").alias("degree"),
            F.coalesce(F.col("t"), F.lit(0)).cast("bigint").alias("triangles"),
            F.when(
                F.col("d") >= 2,
                F.round(
                    2.0 * F.coalesce(F.col("t"), F.lit(0))
                    / (F.col("d") * (F.col("d") - 1)),
                    4,
                ),
            )
            .otherwise(0.0)
            .alias("coeff"),
        )
    )


@register(
    "g20_degree_assortativity",
    oracle=f"""
    WITH e0 AS (SELECT src, unnest(adj) AS dst FROM {_T}),
    sym AS (SELECT src, dst FROM e0 WHERE src <> dst
            UNION SELECT dst, src FROM e0 WHERE src <> dst),
    deg AS (SELECT src AS node, count(*) AS d FROM sym GROUP BY src)
    SELECT CAST(count(*) AS BIGINT) AS n_edges,
           round(corr(ds.d, dd.d), 6) AS assortativity
    FROM sym s
    JOIN deg ds ON ds.node = s.src
    JOIN deg dd ON dd.node = s.dst
    """,
    doc="Degree assortativity (Newman's r): Pearson correlation of "
    "endpoint degrees over directed edge instances of the symmetrized "
    "graph — do hubs attach to hubs? Two broadcastable degree joins + "
    "one single-pass moment aggregate; no O(n^2) anywhere.",
)
def g20_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    e0 = edges_df(spark).filter(F.col("src") != F.col("dst"))
    sym = _materialize(
        e0.select("src", "dst")
        .union(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct(),
        key=_memo_key(spark, "sym-dedup"),
    )
    deg = sym.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    ds = deg.select(F.col("node").alias("src"), F.col("d").alias("d_src"))
    dd = deg.select(F.col("node").alias("dst"), F.col("d").alias("d_dst"))
    return (
        sym.join(ds, "src")
        .join(dd, "dst")
        .agg(
            F.count(F.lit(1)).alias("n_edges"),
            F.round(F.corr("d_src", "d_dst"), 6).alias("assortativity"),
        )
    )


@register(
    "g23_reciprocity",
    oracle=f"""
    WITH e0 AS MATERIALIZED (SELECT src, unnest(adj) AS dst FROM {_T}),
    e AS MATERIALIZED (SELECT src, dst FROM e0 WHERE src <> dst)
    SELECT count(*) AS n_edges,
           CAST(sum(CASE WHEN EXISTS (
               SELECT 1 FROM e r WHERE r.src = e.dst AND r.dst = e.src
           ) THEN 1 ELSE 0 END) AS BIGINT) AS n_reciprocal,
           round(sum(CASE WHEN EXISTS (
               SELECT 1 FROM e r WHERE r.src = e.dst AND r.dst = e.src
           ) THEN 1 ELSE 0 END) / count(*), 6) AS reciprocity
    FROM e
    """,
    doc="Edge reciprocity — the fraction of directed arcs (u,v) with a "
    "reverse arc (v,u), a standard web-graph shape statistic (WebGraph "
    "publishes it for its datasets). One self-semi-join on the reversed "
    "key: the probe side is the same decoded edge table localCheckpointed "
    "once, so the graph decodes once, shuffles once on (src,dst).",
)
def g23_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _materialize(
        edges_df(spark).filter(F.col("src") != F.col("dst")),
        key=_memo_key(spark, "edges-noself"),
    )
    # no distinct on the probe side: left_semi emits each left row at most
    # once regardless of right-side duplicates, so deduping first would
    # only add a shuffle+aggregate over the full edge list
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    marked = e.join(rev, ["src", "dst"], "left_semi")
    total = e.agg(F.count(F.lit(1)).alias("n_edges"))
    recip = marked.agg(F.count(F.lit(1)).alias("n_reciprocal"))
    return (
        total.crossJoin(recip)
        .select(
            "n_edges",
            "n_reciprocal",
            F.round(F.col("n_reciprocal") / F.col("n_edges"), 6).alias("reciprocity"),
        )
    )


@register(
    "g24_transpose_roundtrip",
    oracle=f"""
    WITH e AS MATERIALIZED (SELECT src AS u, unnest(adj) AS v FROM {_T}),
    tr AS MATERIALIZED (
        SELECT v AS src, list_sort(list(DISTINCT u)) AS adj FROM e GROUP BY v
    ),
    nodes AS (SELECT src FROM {_T})
    SELECT n.src,
           CAST(coalesce(len(t.adj), 0) AS INTEGER) AS outdeg,
           coalesce(array_to_string(t.adj, ','), '') AS adj_str
    FROM nodes n LEFT JOIN tr t ON t.src = n.src
    """,
    doc="Graph transpose THROUGH the sink+source: explode to edges, "
    "reverse, rebuild adjacency (sorted successor lists over the full "
    "dense node range), write a real BVGraph triple with the "
    "executor-parallel sink, re-read it through the DataSource, and "
    "emit the g01 adjacency shape. The driver's hash against the "
    "parquet-twin transpose certifies encoder, offsets writer, "
    "properties, decoder, and split planning in one query — the "
    "WebGraph `Transform.transpose` equivalent as a distributed "
    "write/read pipeline. One shuffle builds the transpose (groupBy "
    "dst) and the sink's one job writes segments executor-parallel.",
)
def g24_transpose_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..bvgraph.transform import _write_dense

    reversed_edges = edges_df(spark).select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    basename = os.path.join(_scratch_dir("g24_transpose"), "transpose")
    _write_dense(reversed_edges, graph_properties(graph_basename()).nodes, basename)
    back = read_bvgraph(spark, basename, num_splits=8)
    return back.select(
        "src",
        F.size("adj").alias("outdeg"),
        F.concat_ws(",", F.col("adj")).alias("adj_str"),
    )


# module-level so the staged g48 twin shares it without importing the
# whole registry graph (review r17)
_G25_ORACLE = f"""
    WITH e AS (SELECT src, unnest(adj) AS dst FROM {_T})
    SELECT CAST(src // 50 AS BIGINT) AS host_src,
           CAST(dst // 50 AS BIGINT) AS host_dst,
           count(*) AS weight
    FROM e
    GROUP BY 1, 2
    """


@register(
    "g25_host_graph",
    oracle=_G25_ORACLE,
    doc="Host-graph contraction (the WebGraph-ecosystem quotient-graph "
    "primitive: collapse page nodes into their site/host and keep "
    "weighted inter-host arcs). The fixture carries no URLs, so the "
    "stand-in host map is node DIV 50 — the operator under test is the "
    "contraction itself: decode -> explode -> map both endpoints -> one "
    "partial-agg'd groupBy. Intra-host arcs survive as host self-loop "
    "weight (the standard convention). At 100 TB this is the cheapest "
    "graph summarization there is: the only shuffle carries (host_src, "
    "host_dst) pairs AFTER map-side combine has collapsed each "
    "partition's duplicate host pairs.",
)
def g25_host_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    return host_contract(edges_df(spark))


def host_contract(edges: DataFrame) -> DataFrame:
    """g25's contraction over an edge list (extracted r17 so the staged
    streaming twin g48 shares the exact endpoint mapping and aggregate
    expressions — the _bm25_rank rule)."""
    return (
        edges.select(
            F.expr("CAST(src div 50 AS BIGINT)").alias("host_src"),
            F.expr("CAST(dst div 50 AS BIGINT)").alias("host_dst"),
        )
        .groupBy("host_src", "host_dst")
        .agg(F.count(F.lit(1)).alias("weight"))
    )


@register(
    "g31_permute_roundtrip",
    oracle=f"""
    WITH n_t AS MATERIALIZED (SELECT count(*) AS n FROM {_T}),
    e AS MATERIALIZED (
        SELECT (SELECT n FROM n_t) - 1 - src AS src,
               (SELECT n FROM n_t) - 1 - unnest(adj) AS dst
        FROM {_T}
    ),
    ad AS MATERIALIZED (
        SELECT src, list_sort(list(DISTINCT dst)) AS adj FROM e GROUP BY src
    ),
    nodes AS (SELECT (SELECT n FROM n_t) - 1 - src AS src FROM {_T})
    SELECT n.src,
           CAST(coalesce(len(a.adj), 0) AS INTEGER) AS outdeg,
           coalesce(array_to_string(a.adj, ','), '') AS adj_str
    FROM nodes n LEFT JOIN ad a ON a.src = n.src
    """,
    doc="Node renumbering THROUGH the sink+source (the WebGraph "
    "Transform.map equivalent, bvgraph/transform.py::permute_bvgraph): "
    "apply the reverse permutation new_id = n-1-node (bijection "
    "validated in one aggregate), map both arc endpoints with narrow "
    "label joins, rebuild dense sorted adjacency, write a real BVGraph "
    "triple with the executor-parallel sink, re-read through the "
    "DataSource. Permutation is THE BV-compression lever (Boldi-Vigna "
    "WWW'04: locality-improving orders shrink web graphs 2-3x) — this "
    "gate certifies the whole renumber+encode+decode stack hash-exact "
    "against the parquet-twin permutation.",
)
def g31_permute_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..bvgraph.transform import permute_bvgraph, reverse_permutation

    # always the 2k fixture (NOT the bench basename override): the
    # oracle reads this fixture's parquet twin
    src = SMALL_BASENAME
    n = graph_properties(src).nodes
    dst = os.path.join(_scratch_dir("g31_permute"), "permuted")
    permute_bvgraph(spark, src, dst, reverse_permutation(spark, n), num_splits=8)
    back = read_bvgraph(spark, dst, num_splits=8)
    return back.select(
        "src",
        F.size("adj").alias("outdeg"),
        F.concat_ws(",", F.col("adj")).alias("adj_str"),
    )


@register(
    "g34_union_roundtrip",
    oracle=f"""
    WITH n_t AS MATERIALIZED (SELECT count(*) AS n FROM {_T}),
    e0 AS MATERIALIZED (SELECT src, unnest(adj) AS dst FROM {_T}),
    e AS MATERIALIZED (
        SELECT src, dst FROM e0
        UNION
        SELECT (SELECT n FROM n_t) - 1 - src AS src,
               (SELECT n FROM n_t) - 1 - dst AS dst
        FROM e0
    ),
    ad AS MATERIALIZED (
        SELECT src, list_sort(list(DISTINCT dst)) AS adj FROM e GROUP BY src
    ),
    nodes AS (SELECT src FROM {_T})
    SELECT n.src,
           CAST(coalesce(len(a.adj), 0) AS INTEGER) AS outdeg,
           coalesce(array_to_string(a.adj, ','), '') AS adj_str
    FROM nodes n LEFT JOIN ad a ON a.src = n.src
    """,
    doc="Graph union THROUGH the sink+source (the WebGraph "
    "Transform.union equivalent, bvgraph/transform.py::union_bvgraph — "
    "the incremental-crawl-merge primitive): write a reverse-permuted "
    "copy of the fixture with permute_bvgraph, arc-set-union it with "
    "the original (one distinct over the concatenated edge lists), "
    "rebuild dense sorted adjacency, write a real BVGraph triple with "
    "the executor-parallel sink, re-read through the DataSource. "
    "Certifies union+encode+decode hash-exact against the distinct "
    "edge-set union on the parquet twin.",
)
def g34_union_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..bvgraph.transform import (
        permute_bvgraph,
        reverse_permutation,
        union_bvgraph,
    )

    # always the 2k fixture (NOT the bench basename override): the
    # oracle reads this fixture's parquet twin
    src = SMALL_BASENAME
    n = graph_properties(src).nodes
    out_dir = _scratch_dir("g34_union")
    perm_dst = os.path.join(out_dir, "permuted")
    union_dst = os.path.join(out_dir, "union")
    permute_bvgraph(
        spark, src, perm_dst, reverse_permutation(spark, n), num_splits=8
    )
    union_bvgraph(spark, src, perm_dst, union_dst, num_splits=8)
    back = read_bvgraph(spark, union_dst, num_splits=8)
    return back.select(
        "src",
        F.size("adj").alias("outdeg"),
        F.concat_ws(",", F.col("adj")).alias("adj_str"),
    )


@register(
    "g40_gap_histogram",
    oracle=f"""
    WITH g AS (SELECT src, adj FROM {_T} WHERE len(adj) >= 2),
    succ AS (
        SELECT src, i.i AS i, adj[i.i] AS s
        FROM g, LATERAL (SELECT unnest(range(1, len(adj) + 1)) AS i) i
    ),
    gaps AS (
        SELECT s - lag(s) OVER (PARTITION BY src ORDER BY i) AS gap
        FROM succ
    )
    SELECT CAST(length(bin(gap)) - 1 AS INTEGER) AS log2_gap,
           CAST(count(*) AS BIGINT) AS n_gaps
    FROM gaps WHERE gap IS NOT NULL
    GROUP BY 1
    """,
    doc="Successor-gap histogram — the BVGraph compression diagnostic "
    "(Boldi & Vigna, WWW'04 fig. analysis; gap coding is WHY adjacency "
    "lists compress): per node, deltas between consecutive sorted "
    "successors, bucketed by floor(log2(gap)) and counted. The bucket "
    "uses length(bin(gap))-1 — INTEGER bit-length, not float log2, so "
    "no power-of-two rounding edge exists in either engine. Spark side "
    "derives gaps row-locally (zip_with over shifted array slices — no "
    "self-join, no window); the explode is narrow and only (bucket, "
    "count) partials ever shuffle; the oracle unnests with a lag "
    "window. Reading the real "
    "decoder's output, this doubles as a decode-order certificate: "
    "any out-of-order successor list would produce a non-positive gap "
    "and a NULL bin() bucket mismatch.",
)
def g40_gap_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = graph_df(spark).filter(F.size("adj") >= 2)
    gaps = g.select(
        F.explode(
            F.zip_with(
                F.slice("adj", 2, F.size("adj") - 1),
                F.slice("adj", 1, F.size("adj") - 1),
                lambda a, b: a - b,
            )
        ).alias("gap")
    )
    return (
        gaps.select(F.expr("CAST(length(bin(gap)) - 1 AS INT)").alias("log2_gap"))
        .groupBy("log2_gap")
        .agg(F.count(F.lit(1)).alias("n_gaps"))
    )


RENUMBER_BUCKET = 64  # ids per rank bucket; bucket table is |V|/64 rows


@register(
    "g41_subgraph_renumber",
    oracle=f"""
    WITH e0 AS (SELECT src, unnest(adj) AS dst FROM {_T}),
    n AS (SELECT DISTINCT node FROM
          (SELECT src AS node FROM e0 UNION SELECT dst FROM e0)),
    kept AS (SELECT node FROM n WHERE node % 3 <> 0),
    m AS (SELECT node,
                 CAST(row_number() OVER (ORDER BY node) - 1 AS BIGINT)
                     AS new_id
          FROM kept),
    ke AS (
        SELECT ms.new_id AS s, md.new_id AS d
        FROM e0
        JOIN m ms ON ms.node = e0.src
        JOIN m md ON md.node = e0.dst
    ),
    adj AS (SELECT s, list_sort(list(d)) AS a FROM ke GROUP BY s)
    SELECT m.new_id AS src,
           CAST(coalesce(len(a), 0) AS INTEGER) AS outdeg,
           coalesce(array_to_string(a, ','), '') AS adj_str
    FROM m LEFT JOIN adj ON adj.s = m.new_id
    """,
    doc="Induced-subgraph extraction with DENSE renumbering — WebGraph's "
    "filtered-graph + contiguous-relabel transform, the prerequisite of "
    "every 'study this subset' workflow (BVGraph node ids must be "
    "0..K-1): keep nodes with id % 3 != 0, keep edges with both "
    "endpoints kept, relabel old ids to their dense rank, emit the "
    "renumbered adjacency (isolated survivors keep an empty list). The "
    "dense rank is computed WITHOUT a single-partition global window — "
    "the q146 technique: per-(id div 64) bucket counts, a running sum "
    "over the tiny bucket table, then row_number partitioned BY BUCKET "
    "plus the broadcast bucket offset; monotone in the original id, so "
    "it equals the oracle's global row_number exactly. Scale: two "
    "narrow label joins remap the edge list (the g25/g30 contraction "
    "shape); the only per-node sort is within rank buckets of <= 64 "
    "ids.",
)
def g41_subgraph_renumber(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # one BVGraph decode feeds the node union AND the edge remap (the
    # g05 _materialize sharing — Python DS scans don't dedupe)
    e = _materialize(edges_df(spark), key=_memo_key(spark, "edges"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .filter(F.col("node") % 3 != 0)
        .withColumn("bucket", F.expr(f"node div {RENUMBER_BUCKET}"))
    )
    bcnt = nodes.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))
    bw = Window.orderBy("bucket")
    offsets = bcnt.select(
        "bucket", (F.sum("cnt").over(bw) - F.col("cnt")).alias("off")
    )
    rw = Window.partitionBy("bucket").orderBy("node")
    m = (
        nodes.join(F.broadcast(offsets), "bucket")
        .select(
            "node",
            (F.col("off") + F.row_number().over(rw) - 1).alias("new_id"),
        )
    )
    ms = m.select(F.col("node").alias("src"), F.col("new_id").alias("s"))
    md = m.select(F.col("node").alias("dst"), F.col("new_id").alias("d"))
    adj = (
        e.join(ms, "src")
        .join(md, "dst")
        .groupBy("s")
        .agg(F.sort_array(F.collect_list("d")).alias("a"))
    )
    return (
        m.select("new_id")
        .join(adj.select(F.col("s").alias("new_id"), "a"), "new_id", "left")
        .select(
            F.col("new_id").alias("src"),
            F.coalesce(F.size("a"), F.lit(0)).cast("int").alias("outdeg"),
            F.when(F.col("a").isNull(), F.lit("")).otherwise(
                F.concat_ws(",", F.col("a"))
            ).alias("adj_str"),
        )
    )
