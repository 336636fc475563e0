"""Iterative graph algorithms over the BVGraph source — the GraphX
hand-off the reference documents (README.md:32-48) re-expressed as
checkpointed DataFrame join loops (no GraphX/GraphFrames dependency).

Scale notes: each iteration is one shuffle-join of ranks/labels against
the (static) edge table. The edge side should be loaded once and
persisted partitioned by the join key so every iteration reuses the same
partitioning; localCheckpoint truncates the growing lineage so plan
compilation stays O(1) per iteration. Convergence loops are driver-side
WHILE over distributed steps — no per-row driver work.

All three algorithms are oracle-checked despite being iterative: g11
PageRank against a 10-iteration unrolled-CTE fixpoint, g12 connected
components against a recursive-CTE reachability fixpoint, g15 label
propagation against an unrolled-CTE mode computation (integer-only, so
parity is exact). Exactness is additionally certified by tests against
hand-computed fixtures (tests/test_graph_algos.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from .graph import _T, edges_df, graph_basename, graph_df


def _shuffle_partitions(spark: SparkSession) -> int:
    """``spark.sql.shuffle.partitions`` as an int, falling back to the
    cluster's default parallelism when a session pins the conf to a
    non-numeric value (``"auto"`` under some AQE setups)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


def pagerank(
    edges: DataFrame,
    n_nodes: int | None = None,
    damping: float = 0.85,
    iterations: int = 10,
    nodes: DataFrame | None = None,
) -> DataFrame:
    """PageRank with dangling-mass redistribution.

    edges: DataFrame[src, dst]. nodes: optional DataFrame[node] giving the
    full vertex set — pass the graph source's node column so fully
    isolated nodes (outdeg 0, no in-edges — representable in BVGraph) get
    rank rows too; without it the node set is derived from edges only.
    Returns DataFrame[node, rank] with sum(rank) == n (the conventional
    n-normalized form).
    """
    if nodes is None:
        nodes = (
            edges.select(F.col("src").alias("node"))
            .union(edges.select(F.col("dst").alias("node")))
            .distinct()
        )
    nodes = nodes.persist()
    n = n_nodes if n_nodes is not None else nodes.count()

    # persisted: the dangling anti-join touches it EVERY iteration — left
    # unpersisted it re-derives from edges (re-decoding a graph source)
    # once per iteration
    outdeg = (
        edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg")).persist()
    )
    # static join side: contribution edges carrying the outdegree; the
    # contribution is rank/outdeg (single correctly-rounded division, so
    # a SQL oracle computing p.rank / o.outdeg matches term-for-term).
    # Hash-partitioned on src BEFORE persisting: the per-iteration join
    # requires hashpartitioning(src), so the cached partitioning is
    # reused and only the small ranks side shuffles each round. The
    # partition count is pinned explicitly — an unnumbered repartition
    # lets AQE coalesce the cached side into a few big partitions, which
    # would throttle every iteration's parallelism.
    nshuf = _shuffle_partitions(edges.sparkSession)
    contrib_edges = (
        edges.join(outdeg, "src")
        .select("src", "dst", F.col("outdeg").cast("double").alias("od"))
        .repartition(nshuf, "src")
        .persist()
    )

    ranks = nodes.select("node", F.lit(1.0).alias("rank"))
    for _ in range(iterations):
        contribs = (
            contrib_edges.join(ranks, contrib_edges.src == ranks.node)
            .select("dst", (F.col("rank") / F.col("od")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("in_sum"))
        )
        # dangling nodes (no out-edges) leak rank; redistribute uniformly —
        # the dangling mass stays a broadcast 1-row aggregate inside the
        # plan (no driver-side collect in the loop)
        dangling = ranks.join(outdeg, ranks.node == outdeg.src, "left_anti").agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dangling")
        )
        ranks = (
            nodes.join(contribs, nodes.node == contribs.dst, "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit(1.0 - damping)
                    + F.lit(damping)
                    * (
                        F.col("_dangling") / F.lit(float(n))
                        + F.coalesce(F.col("in_sum"), F.lit(0.0))
                    )
                ).alias("rank"),
            )
            .localCheckpoint()  # truncate lineage each iteration
        )
    nodes.unpersist()
    outdeg.unpersist()
    contrib_edges.unpersist()
    return ranks


def connected_components(
    edges: DataFrame, max_iterations: int = 50, check_every: int = 2
) -> DataFrame:
    """Weakly-connected components by min-label propagation with pointer
    jumping: each node adopts the smallest label in its closed undirected
    neighborhood, then labels are compressed one pointer hop
    (label <- label-of-label) per iteration, giving O(log d) convergence on
    a path of diameter d instead of O(d) for plain propagation.

    Convergence is checked every ``check_every`` iterations (each check is
    a driver action; propagation itself stays fully distributed). Raises
    RuntimeError if the iteration cap is hit before fixpoint — silently
    returning half-merged components would poison downstream dedup
    clustering (q66).

    Returns DataFrame[node, component] (component = min node id in it).
    """
    # hash-partitioned on dst before persisting: the per-iteration join
    # is on sym.dst, so the big static side's cached partitioning is
    # reused every round — only the labels side shuffles. Count pinned
    # explicitly so AQE can't coalesce the cached side (see pagerank).
    sym = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .repartition(
            _shuffle_partitions(edges.sparkSession), "dst"
        )
        .persist()
    )
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("component"))
    )
    converged = False
    for it in range(max_iterations):
        neighbor_min = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_min"))
        )
        propagated = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
                ).alias("component"),
            )
            .localCheckpoint()  # feeds both sides of the jump join below
        )
        # pointer jumping: component ids are node ids, so one self-join
        # rewrites each label to its label's label (path halving)
        lhs = propagated.alias("l")
        rhs = propagated.select(
            F.col("node").alias("c_node"), F.col("component").alias("c_comp")
        ).alias("r")
        new_labels = (
            lhs.join(rhs, F.col("l.component") == F.col("r.c_node"))
            .select("node", F.col("c_comp").alias("component"))
            .localCheckpoint()
        )
        do_check = (it + 1) % check_every == 0 or it == max_iterations - 1
        if do_check:
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "node")
                .filter(F.col("n.component") != F.col("o.component"))
                .limit(1)
                .count()
            )
            labels = new_labels
            if changed == 0:
                converged = True
                break
        else:
            labels = new_labels
    sym.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations; raise max_iterations"
        )
    return labels


def _pagerank_oracle_sql(twin: str, iterations: int = 10, damping: float = 0.85) -> str:
    """DuckDB oracle for g11: the Lloyd-style driver loop unrolled into
    one CTE block per iteration (SQL forbids aggregates over the
    recursive member of WITH RECURSIVE, so unrolling is the portable
    fixpoint encoding). Constants are emitted as Python float reprs so
    both engines compute with bit-identical doubles (1.0 - 0.85 !=
    literal 0.15 in binary); contributions are single divisions
    (p.rank / od) matching the Spark side term-for-term."""
    return (
        _pagerank_cte(twin, iterations, damping) + f"""
    SELECT node, round(rank, 6) AS rank FROM pr{iterations}
    ORDER BY round(rank, 6) DESC, node LIMIT 20
    """
    )


def _pagerank_cte(twin: str, iterations: int = 10, damping: float = 0.85) -> str:
    """The WITH-prefix of _pagerank_oracle_sql (ending at pr{iterations}),
    shared with oracles that consume the rank table downstream (q141)."""
    base = repr(1.0 - damping)
    d = repr(damping)
    blocks = [
        f"""
    e AS MATERIALIZED (SELECT src, unnest(adj) AS dst FROM {twin}),
    nodes AS MATERIALIZED (SELECT src AS node FROM {twin}),
    nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    outdeg AS MATERIALIZED (SELECT src, CAST(count(*) AS DOUBLE) AS od FROM e GROUP BY src),
    pr0 AS MATERIALIZED (SELECT node, CAST(1.0 AS DOUBLE) AS rank FROM nodes)"""
    ]
    for i in range(1, iterations + 1):
        blocks.append(
            f"""
    d{i} AS MATERIALIZED (SELECT coalesce(sum(p.rank), 0.0) AS dm FROM pr{i - 1} p
             WHERE NOT EXISTS (SELECT 1 FROM outdeg o WHERE o.src = p.node)),
    s{i} AS MATERIALIZED (SELECT e.dst, sum(p.rank / o.od) AS in_sum
             FROM e JOIN pr{i - 1} p ON e.src = p.node
             JOIN outdeg o ON o.src = e.src
             GROUP BY e.dst),
    pr{i} AS MATERIALIZED (SELECT n.node,
                     {base} + {d} * (d{i}.dm / nn.n
                                     + coalesce(s{i}.in_sum, 0.0)) AS rank
              FROM nodes n CROSS JOIN d{i} CROSS JOIN nn
              LEFT JOIN s{i} ON s{i}.dst = n.node)"""
        )
    return "WITH" + ",".join(blocks)


@register(
    "g11_pagerank",
    oracle=_pagerank_oracle_sql(_T),
    doc="PageRank (10 iterations, damping 0.85, dangling redistribution) "
    "as a checkpointed DataFrame join loop; top-20 nodes by rank. Oracle "
    "= the same fixpoint unrolled into 10 CTE blocks over the parquet "
    "twin (upgraded from a rows-only check).",
)
def g11_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = edges_df(spark)
    # node set from the source (enumerates all 0..n-1), not from edges —
    # isolated nodes get their (1 - damping) base rank row
    nodes = graph_df(spark).select(F.col("src").alias("node"))
    pr = pagerank(e, iterations=10, nodes=nodes)
    return (
        pr.select("node", F.round("rank", 6).alias("rank"))
        .orderBy(F.col("rank").desc(), F.col("node"))
        .limit(20)
    )


@register(
    "g12_connected_components",
    oracle=f"""
    WITH RECURSIVE e AS (SELECT src, unnest(adj) AS dst FROM {_T}),
    sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
    reach(node, r) AS (
        SELECT src AS node, src AS r FROM (SELECT DISTINCT src FROM sym)
        UNION
        SELECT re.node, s.dst FROM reach re JOIN sym s ON s.src = re.r
    ),
    comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node)
    SELECT size, count(*) AS n_components FROM (
        SELECT component, count(*) AS size FROM comp GROUP BY component
    ) GROUP BY size
    """,
    doc="Weakly-connected components via min-label propagation with "
    "pointer jumping; component size histogram. Oracle = recursive-CTE "
    "reachability fixpoint (component := min reachable node), upgraded "
    "from a rows-only check.",
)
def g12_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = edges_df(spark)
    cc = connected_components(e)
    return (
        cc.groupBy("component")
        .agg(F.count(F.lit(1)).alias("size"))
        .groupBy("size")
        .agg(F.count(F.lit(1)).alias("n_components"))
    )


def label_propagation(edges: DataFrame, iterations: int = 3) -> DataFrame:
    """Synchronous label propagation (community detection): every node
    simultaneously adopts the most frequent label among its undirected
    neighbors, ties to the smallest label; isolated-in-round nodes keep
    their label. Deterministic (integer counts + total tie order), so the
    fixed-iteration run is exactly oracle-able, unlike the usual
    async/randomized LPA.

    Per iteration: one join + count + partially-aggregable max_by (the
    argmax shuffles one row per node). Returns DataFrame[node, label].
    """
    # hash-partitioned on dst before persisting: the per-iteration join
    # is on sym.dst, so the big static side's cached partitioning is
    # reused every round — only the labels side shuffles. Count pinned
    # explicitly so AQE can't coalesce the cached side (see pagerank).
    sym = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .repartition(
            _shuffle_partitions(edges.sparkSession), "dst"
        )
        .persist()
    )
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    for _ in range(iterations):
        counted = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy("src", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        mode = (
            counted.groupBy("src")
            .agg(
                F.max_by(
                    "label",
                    F.struct(F.col("cnt"), (-F.col("label")).alias("nl")),
                ).alias("new_label")
            )
        )
        labels = (
            labels.join(mode, labels.node == mode.src, "left")
            .select(
                "node",
                F.coalesce(F.col("new_label"), F.col("label")).alias("label"),
            )
            .localCheckpoint()
        )
    sym.unpersist()
    return labels


def _lpa_oracle_sql(twin: str, iterations: int = 3) -> str:
    """Unrolled-CTE oracle for g15: integer-only mode computation, so
    parity is exact (no float drift across engines)."""
    blocks = [
        f"""
    e AS MATERIALIZED (SELECT src, unnest(adj) AS dst FROM {twin}),
    sym AS MATERIALIZED (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
    l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM sym)"""
    ]
    for i in range(1, iterations + 1):
        blocks.append(
            f"""
    c{i} AS MATERIALIZED (SELECT s.src, l.label, count(*) AS cnt
             FROM sym s JOIN l{i - 1} l ON l.node = s.dst
             GROUP BY s.src, l.label),
    m{i} AS MATERIALIZED (SELECT src, label AS new_label FROM (
                 SELECT src, label,
                        row_number() OVER (PARTITION BY src
                                           ORDER BY cnt DESC, label) AS rn
                 FROM c{i}) WHERE rn = 1),
    l{i} AS MATERIALIZED (SELECT l.node, coalesce(m.new_label, l.label) AS label
             FROM l{i - 1} l LEFT JOIN m{i} m ON m.src = l.node)"""
        )
    return (
        "WITH" + ",".join(blocks)
        + f" SELECT node, label FROM l{iterations}"
    )


def bfs_distances(
    edges: DataFrame, source: int = 0, max_hops: int = 32
) -> DataFrame:
    """Single-source BFS hop distances, capped at ``max_hops``.

    Frontier iteration: each round joins the current frontier against the
    static edge table, anti-joins the visited set, and checkpoints. The
    loop stops early when the frontier empties (one cheap ``limit(1)``
    driver check per round — the traversal itself is fully distributed).

    Scale: the edge table is hash-partitioned on src once and persisted,
    so every hop's join reuses that partitioning and only the (small)
    frontier side shuffles; the visited set grows monotonically but is
    checkpointed so lineage stays O(1) per hop.

    Returns DataFrame[node, d] for nodes within max_hops of source.
    """
    nshuf = _shuffle_partitions(edges.sparkSession)
    e = edges.select("src", "dst").distinct().repartition(nshuf, "src").persist()
    spark = edges.sparkSession
    frontier = spark.createDataFrame(
        [(source, 0)], "node int, d int"
    ).localCheckpoint()
    # levels: one checkpointed frontier per hop; `visited` is their lazy
    # union (every input cached — never re-materialized as a whole).
    levels = [frontier]
    visited = frontier
    for hop in range(1, max_hops + 1):
        # ONE job per hop: the lazy localCheckpoint materializes on the
        # count() that doubles as the emptiness check — no separate
        # probe action, no per-hop visited-set rewrite.
        nxt = (
            e.join(frontier, e.src == frontier.node)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .select("node", F.lit(hop).alias("d"))
            .localCheckpoint(eager=False)
        )
        if nxt.count() == 0:
            break
        levels.append(nxt)
        visited = visited.union(nxt)
        frontier = nxt
    e.unpersist()
    out = levels[0]
    for lvl in levels[1:]:
        out = out.union(lvl)
    return out


@register(
    "g16_bfs_distances",
    oracle=f"""
    WITH RECURSIVE e AS (SELECT src, unnest(adj) AS dst FROM {_T}),
    walk(node, d) AS (
        SELECT 0 AS node, 0 AS d
        UNION
        SELECT e.dst, w.d + 1 FROM walk w JOIN e ON e.src = w.node
        WHERE w.d < 32
    ),
    dist AS (SELECT node, min(d) AS d FROM walk GROUP BY node)
    SELECT d, count(*) AS n_nodes FROM dist GROUP BY d
    """,
    doc="Single-source BFS from node 0 (<=32 hops) as a checkpointed "
    "frontier loop; distance histogram. Oracle = recursive-CTE level "
    "walk with min(d) per node — integer-only, exact parity.",
)
def g16_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    dist = bfs_distances(edges_df(spark), source=0, max_hops=32)
    return dist.groupBy("d").agg(F.count(F.lit(1)).alias("n_nodes"))


def kcore(edges: DataFrame, k: int = 2, rounds: int = 8) -> DataFrame:
    """Synchronous k-core peeling over the symmetrized graph, run for a
    FIXED number of rounds: every round simultaneously drops all alive
    nodes whose undirected degree among alive nodes is < k. Fixing the
    round count (instead of looping to convergence) makes the result an
    exactly-oracle-able integer computation — the unrolled-CTE twin runs
    the same peel schedule. tests assert the fixture reaches its fixpoint
    within the default rounds, so the fixed-round output IS the k-core.

    Per round: one join + count (map-side partial agg) + filter. The
    static symmetrized edge table is hash-partitioned on dst and
    persisted, so only the alive-set side shuffles each round.

    Returns DataFrame[node, core_deg] for nodes alive after ``rounds``.
    """
    nshuf = _shuffle_partitions(edges.sparkSession)
    sym = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))  # self-loops never count toward core
        .distinct()
        .repartition(nshuf, "dst")
        .persist()
    )
    alive = sym.select(F.col("src").alias("node")).distinct()
    deg = None
    for _ in range(rounds):
        deg = (
            sym.join(alive, sym.dst == alive.node)
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias("core_deg"))
        )
        alive = (
            alive.join(deg, alive.node == deg.src)
            .filter(F.col("core_deg") >= k)
            .select("node")
            .localCheckpoint()
        )
    out = (
        sym.join(alive, sym.dst == alive.node)
        .join(alive.select(F.col("node").alias("src")), "src")
        .groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("core_deg"))
    )
    sym.unpersist()
    return out


def _kcore_oracle_sql(twin: str, k: int = 2, rounds: int = 8) -> str:
    """Unrolled-CTE oracle for g17: the same synchronous peel schedule,
    integer-only, so parity is exact."""
    blocks = [
        f"""
    e0 AS MATERIALIZED (SELECT src, unnest(adj) AS dst FROM {twin}),
    sym AS MATERIALIZED (SELECT src, dst FROM e0 WHERE src <> dst
            UNION SELECT dst, src FROM e0 WHERE src <> dst),
    a0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM sym)"""
    ]
    for i in range(1, rounds + 1):
        blocks.append(
            f"""
    d{i} AS MATERIALIZED (SELECT s.src, count(*) AS core_deg
             FROM sym s JOIN a{i - 1} a ON a.node = s.dst
             GROUP BY s.src),
    a{i} AS MATERIALIZED (SELECT a.node FROM a{i - 1} a
             JOIN d{i} d ON d.src = a.node WHERE d.core_deg >= {k})"""
        )
    return (
        "WITH" + ",".join(blocks) + f"""
    SELECT s.src AS node, CAST(count(*) AS BIGINT) AS core_deg
    FROM sym s
    JOIN a{rounds} x ON x.node = s.dst
    JOIN a{rounds} y ON y.node = s.src
    GROUP BY s.src
    """
    )


@register(
    "g17_kcore",
    oracle=_kcore_oracle_sql(_T),
    doc="2-core of the symmetrized graph via 8 synchronous peeling "
    "rounds (fixture reaches fixpoint well inside that — asserted in "
    "tests); emits surviving nodes with their in-core degree. Oracle = "
    "the same peel schedule unrolled into CTE blocks, exact integer "
    "parity.",
)
def g17_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kcore(edges_df(spark), k=2, rounds=8)


def hits(
    edges: DataFrame, iterations: int = 5, nodes: DataFrame | None = None
) -> DataFrame:
    """HITS hubs-and-authorities: per iteration, authority := sum of
    in-neighbor hub scores then L1-normalize; hub := sum of out-neighbor
    (new) authority scores then L1-normalize. Deterministic given the
    iteration count; float drift between engines is handled by rounding
    in the registered query, as for PageRank.

    Scale: both per-iteration joins reuse the edge table's cached hash
    partitioning (one copy partitioned by src, one by dst); the L1
    normalizer stays a broadcast 1-row aggregate inside the plan — no
    driver-side collect in the loop.

    Returns DataFrame[node, auth, hub].
    """
    if nodes is None:
        nodes = (
            edges.select(F.col("src").alias("node"))
            .union(edges.select(F.col("dst").alias("node")))
            .distinct()
        )
    nodes = nodes.persist()
    nshuf = _shuffle_partitions(edges.sparkSession)
    e_by_src = edges.select("src", "dst").repartition(nshuf, "src").persist()
    e_by_dst = e_by_src.repartition(nshuf, "dst").persist()

    hub = nodes.select("node", F.lit(1.0).alias("hub"))
    auth = None
    for _ in range(iterations):
        a_raw = (
            e_by_src.join(hub, e_by_src.src == hub.node)
            .groupBy("dst")
            .agg(F.sum("hub").alias("raw"))
        )
        a_sum = a_raw.agg(F.sum("raw").alias("_s"))
        auth = (
            nodes.join(a_raw, nodes.node == a_raw.dst, "left")
            .crossJoin(F.broadcast(a_sum))
            .select(
                "node",
                (F.coalesce(F.col("raw"), F.lit(0.0)) / F.col("_s")).alias("auth"),
            )
            .localCheckpoint()
        )
        h_raw = (
            e_by_dst.join(auth, e_by_dst.dst == auth.node)
            .groupBy("src")
            .agg(F.sum("auth").alias("raw"))
        )
        h_sum = h_raw.agg(F.sum("raw").alias("_s"))
        hub = (
            nodes.join(h_raw, nodes.node == h_raw.src, "left")
            .crossJoin(F.broadcast(h_sum))
            .select(
                "node",
                (F.coalesce(F.col("raw"), F.lit(0.0)) / F.col("_s")).alias("hub"),
            )
            .localCheckpoint()
        )
    out = auth.join(hub, "node")
    nodes.unpersist()
    e_by_src.unpersist()
    e_by_dst.unpersist()
    return out


def _hits_oracle_sql(twin: str, iterations: int = 5) -> str:
    """Unrolled-CTE oracle for g18, mirroring the Spark loop term-for-term
    (sum of hub over in-edges, L1 normalize; then sum of auth over
    out-edges, L1 normalize). Output rounded on both sides."""
    blocks = [
        f"""
    e AS MATERIALIZED (SELECT src, unnest(adj) AS dst FROM {twin}),
    nodes AS MATERIALIZED (SELECT src AS node FROM {twin}),
    h0 AS MATERIALIZED (SELECT node, CAST(1.0 AS DOUBLE) AS hub FROM nodes)"""
    ]
    for i in range(1, iterations + 1):
        blocks.append(
            f"""
    ar{i} AS MATERIALIZED (SELECT e.dst, sum(h.hub) AS raw
              FROM e JOIN h{i - 1} h ON h.node = e.src GROUP BY e.dst),
    a{i} AS MATERIALIZED (SELECT n.node,
                    coalesce(ar{i}.raw, 0.0) / (SELECT sum(raw) FROM ar{i}) AS auth
             FROM nodes n LEFT JOIN ar{i} ON ar{i}.dst = n.node),
    hr{i} AS MATERIALIZED (SELECT e.src, sum(a.auth) AS raw
              FROM e JOIN a{i} a ON a.node = e.dst GROUP BY e.src),
    h{i} AS MATERIALIZED (SELECT n.node,
                    coalesce(hr{i}.raw, 0.0) / (SELECT sum(raw) FROM hr{i}) AS hub
             FROM nodes n LEFT JOIN hr{i} ON hr{i}.src = n.node)"""
        )
    return (
        "WITH" + ",".join(blocks) + f"""
    SELECT a.node, round(a.auth, 9) AS auth, round(h.hub, 9) AS hub
    FROM a{iterations} a JOIN h{iterations} h ON h.node = a.node
    ORDER BY round(a.auth, 9) DESC, a.node LIMIT 20
    """
    )


@register(
    "g18_hits",
    oracle=_hits_oracle_sql(_T),
    doc="HITS hubs & authorities (5 L1-normalized iterations) as a "
    "checkpointed join loop; top-20 nodes by authority. Oracle = the "
    "fixpoint unrolled into CTE blocks, rounded identically on both "
    "sides (same discipline as g11 PageRank).",
)
def g18_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = edges_df(spark)
    nodes = graph_df(spark).select(F.col("src").alias("node"))
    hs = hits(e, iterations=5, nodes=nodes)
    return (
        hs.select(
            "node",
            F.round("auth", 9).alias("auth"),
            F.round("hub", 9).alias("hub"),
        )
        .orderBy(F.col("auth").desc(), F.col("node"))
        .limit(20)
    )


@register(
    "g15_label_propagation",
    oracle=_lpa_oracle_sql(_T),
    doc="Synchronous label-propagation community detection (3 rounds, "
    "most-frequent neighbor label, smallest-label ties) — deterministic "
    "integer-only LPA, oracle-checked exactly against the unrolled-CTE "
    "fixpoint per node.",
)
def g15_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = edges_df(spark)
    return label_propagation(e, iterations=3)


# ---------------------------------------------------------------------------
# personalized PageRank
# ---------------------------------------------------------------------------


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    nodes: DataFrame,
    damping: float = 0.85,
    iterations: int = 10,
) -> DataFrame:
    """Personalized PageRank: teleport mass returns to the seed set
    (uniformly over seeds) instead of uniformly over all nodes — the
    random-walk-with-restart relevance score used for seed-relative
    ranking (SALSA-style related-page queries on web graphs, node
    recommendation). Dangling mass also restarts at the seeds.

    edges: DataFrame[src, dst]; seeds: DataFrame[node]; nodes:
    DataFrame[node] (full vertex set). Returns DataFrame[node, rank],
    sum(rank) == 1. Same loop shape as :func:`pagerank`: the static
    contribution edges are hash-partitioned on src once and reused every
    iteration; only the rank side shuffles per round; localCheckpoint
    truncates lineage.

    Deliberately a separate loop from :func:`pagerank` rather than a
    shared parameterized one: the two oracles pin different float
    expressions term-for-term (base + d*(dm/n + s) vs base*sv +
    d*(dm*sv + s)), and folding standard PR into the sv form would
    change its last-ULP results (dm*(1/n) != dm/n) and break g11's
    pinned oracle. Keep edits to the loop bodies in sync by hand.
    """
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg")).persist()
    nshuf = _shuffle_partitions(edges.sparkSession)
    contrib_edges = (
        edges.join(outdeg, "src")
        .select("src", "dst", F.col("outdeg").cast("double").alias("od"))
        .repartition(nshuf, "src")
        .persist()
    )
    n_seeds = seeds.count()
    # seed indicator with the teleport share baked in: sv = 1/|S| on seeds
    sv = nodes.join(
        seeds.select(F.col("node").alias("_s")), nodes.node == F.col("_s"), "left"
    ).select(
        "node",
        F.when(F.col("_s").isNotNull(), F.lit(1.0) / F.lit(float(n_seeds)))
        .otherwise(F.lit(0.0))
        .alias("sv"),
    ).persist()

    ranks = sv.select("node", F.col("sv").alias("rank"))
    for _ in range(iterations):
        contribs = (
            contrib_edges.join(ranks, contrib_edges.src == ranks.node)
            .select("dst", (F.col("rank") / F.col("od")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("in_sum"))
        )
        dangling = ranks.join(outdeg, ranks.node == outdeg.src, "left_anti").agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dangling")
        )
        ranks = (
            sv.join(contribs, sv.node == contribs.dst, "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit(1.0 - damping) * F.col("sv")
                    + F.lit(damping)
                    * (
                        F.col("_dangling") * F.col("sv")
                        + F.coalesce(F.col("in_sum"), F.lit(0.0))
                    )
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    outdeg.unpersist()
    contrib_edges.unpersist()
    sv.unpersist()
    return ranks


_PPR_SEED_MOD = 50  # seed set: every 50th node — spread across the graph


def _ppr_oracle_sql(
    twin: str, iterations: int = 10, damping: float = 0.85
) -> str:
    """Unrolled-CTE fixpoint oracle for g21 (same scheme as g11's:
    SQL forbids aggregates over a recursive member, so each iteration is
    its own CTE block; constants as Python float reprs and contributions
    as single divisions so both engines compute bit-identical doubles).
    The teleport vector sv = 1/|S| on seeds, 0 elsewhere; dangling mass
    restarts at the seeds (dm * sv), not uniformly."""
    base = repr(1.0 - damping)
    d = repr(damping)
    blocks = [
        f"""
    e AS MATERIALIZED (SELECT src, unnest(adj) AS dst FROM {twin}),
    nodes AS MATERIALIZED (SELECT src AS node FROM {twin}),
    seeds AS MATERIALIZED (SELECT node FROM nodes WHERE node % {_PPR_SEED_MOD} = 0),
    ns AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM seeds),
    outdeg AS MATERIALIZED (SELECT src, CAST(count(*) AS DOUBLE) AS od FROM e GROUP BY src),
    svx AS MATERIALIZED (SELECT n.node,
                   CASE WHEN s.node IS NOT NULL THEN 1.0 / ns.n ELSE 0.0 END AS sv
            FROM nodes n CROSS JOIN ns LEFT JOIN seeds s ON s.node = n.node),
    pr0 AS MATERIALIZED (SELECT node, sv AS rank FROM svx)"""
    ]
    for i in range(1, iterations + 1):
        blocks.append(
            f"""
    d{i} AS MATERIALIZED (SELECT coalesce(sum(p.rank), 0.0) AS dm FROM pr{i - 1} p
             WHERE NOT EXISTS (SELECT 1 FROM outdeg o WHERE o.src = p.node)),
    s{i} AS MATERIALIZED (SELECT e.dst, sum(p.rank / o.od) AS in_sum
             FROM e JOIN pr{i - 1} p ON e.src = p.node
             JOIN outdeg o ON o.src = e.src
             GROUP BY e.dst),
    pr{i} AS MATERIALIZED (SELECT v.node,
                     {base} * v.sv + {d} * (d{i}.dm * v.sv
                                            + coalesce(s{i}.in_sum, 0.0)) AS rank
              FROM svx v CROSS JOIN d{i}
              LEFT JOIN s{i} ON s{i}.dst = v.node)"""
        )
    return (
        "WITH" + ",".join(blocks) + f"""
    SELECT node, round(rank, 9) AS rank FROM pr{iterations}
    WHERE round(rank, 9) > 0
    ORDER BY round(rank, 9) DESC, node LIMIT 20
    """
    )


@register(
    "g21_personalized_pagerank",
    oracle=_ppr_oracle_sql(_T),
    doc="Personalized PageRank (10 iterations, damping 0.85, teleport + "
    "dangling restart to the seed set node%50==0): random-walk-with-"
    "restart relevance from the seeds, the web-graph related-page/node-"
    "recommendation primitive. Top-20 nodes by rank. Oracle = the same "
    "fixpoint unrolled into 10 CTE blocks over the parquet twin.",
)
def g21_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = edges_df(spark)
    nodes = graph_df(spark).select(F.col("src").alias("node"))
    seeds = nodes.filter(F.col("node") % _PPR_SEED_MOD == 0)
    pr = personalized_pagerank(e, seeds, nodes, iterations=10)
    return (
        pr.select("node", F.round("rank", 9).alias("rank"))
        .filter(F.col("rank") > 0)
        .orderBy(F.col("rank").desc(), F.col("node"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# link prediction (common neighbors / Jaccard)
# ---------------------------------------------------------------------------


@register(
    "g22_link_prediction",
    oracle=f"""
    WITH e0 AS MATERIALIZED (SELECT src, unnest(adj) AS dst FROM {_T}),
    sym AS MATERIALIZED (
        SELECT src, dst FROM e0 WHERE src <> dst
        UNION
        SELECT dst, src FROM e0 WHERE src <> dst
    ),
    deg AS MATERIALIZED (SELECT src AS node, count(*) AS d FROM sym GROUP BY src),
    cn AS MATERIALIZED (
        SELECT s1.dst AS a, s2.dst AS b, count(*) AS common
        FROM sym s1 JOIN sym s2 ON s1.src = s2.src AND s1.dst < s2.dst
        GROUP BY s1.dst, s2.dst
    )
    SELECT a, b, common,
           round(common / (da.d + db.d - common), 6) AS jaccard
    FROM cn
    JOIN deg da ON da.node = a
    JOIN deg db ON db.node = b
    WHERE NOT EXISTS (SELECT 1 FROM sym WHERE src = a AND dst = b)
    ORDER BY round(common / (da.d + db.d - common), 6) DESC, a, b
    LIMIT 50
    """,
    doc="Link prediction over the undirected graph: unlinked node pairs "
    "ranked by neighbor-set Jaccard (common / (deg_a + deg_b - common)) — "
    "the classic related-page / suggested-link primitive. One wedge join "
    "on the shared neighbor (the same shuffle shape as triangle "
    "counting), degrees broadcast-joined back, existing edges removed by "
    "anti-join, top-50 via TakeOrderedAndProject. At 100 TB the wedge "
    "fan-out of hub nodes is the scale hazard — the wedge center's "
    "neighbor list is capped at a degree threshold (deterministic "
    "hash-ranked sample; exact whenever max degree <= cap, which holds "
    "for the certified fixture: cap 1024 vs max degree 399). A 10^6-"
    "degree hub then contributes C(cap,2) wedges instead of 10^12; the "
    "Jaccard denominator still uses the EXACT degrees, so only `common` "
    "is subsampled on over-cap hubs.",
)
def g22_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = edges_df(spark).filter(F.col("src") != F.col("dst"))
    sym = (
        e.select("src", "dst")
        .union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        # one decode+distinct shared by all four consumers (deg, both wedge
        # sides, the anti-join); localCheckpoint frees with the DataFrame
        # instead of leaking a persist across queries (g05 pattern)
        .localCheckpoint()
    )
    return link_prediction(sym, top_k=50, degree_cap=_G22_DEGREE_CAP)


# Exactness bound for the registered query: the small fixture's max
# symmetric degree is 399, so capping at 1024 changes nothing there (the
# oracle stays exact) while bounding hub fan-out at bench/cluster scale.
_G22_DEGREE_CAP = 1024


def link_prediction(
    sym: DataFrame, top_k: int = 50, degree_cap: int | None = None
) -> DataFrame:
    """Jaccard link prediction over a symmetric, deduplicated edge set.

    ``degree_cap``: hub mitigation for the quadratic wedge fan-out. A
    wedge center with degree d contributes C(d,2) candidate pairs, so one
    10^6-degree hub alone is 5*10^11 rows. With a cap, each center's
    neighbor list is reduced to a deterministic hash-ranked sample of at
    most ``degree_cap`` neighbors BEFORE the wedge self-join (row_number
    over xxhash64 — stable across runs and partitionings; the per-hub sort
    is linear-ish work vs the quadratic join it prevents). Results are
    bit-identical to the uncapped computation whenever every degree <=
    cap; above the cap, `common` becomes a subsample-based estimate while
    the Jaccard denominator keeps the exact degrees.
    """
    deg = sym.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    wedge = sym
    if degree_cap is not None:
        w = Window.partitionBy("src").orderBy(F.xxhash64("src", "dst"), "dst")
        wedge = (
            sym.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= degree_cap)
            .drop("rn")
        )
    s1 = wedge.select(F.col("src").alias("n"), F.col("dst").alias("a"))
    s2 = wedge.select(F.col("src").alias("n"), F.col("dst").alias("b"))
    cn = (
        s1.join(s2, "n")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
    linked = sym.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    return (
        cn.join(linked, ["a", "b"], "left_anti")
        .join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .select(
            "a",
            "b",
            "common",
            F.round(
                F.col("common") / (F.col("da") + F.col("db") - F.col("common")), 6
            ).alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), "a", "b")
        .limit(top_k)
    )


# ---------------------------------------------------------------------------
# HyperBall harmonic centrality (Boldi-Vigna, the WebGraph-ecosystem
# companion algorithm: probabilistic neighborhood-function estimation)
# ---------------------------------------------------------------------------


def hyperball_harmonic(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    max_hops: int = 8,
    lg_k: int = 12,
    scale: int | None = None,
) -> DataFrame:
    """Harmonic centrality H(v) = sum_{u != v} 1/d(u, v) estimated with
    the HyperBall algorithm (Boldi & Vigna, "In-Core Computation of
    Geometric Centralities with HyperBall", 2013 — the algorithm the
    WebGraph ecosystem ships for exactly this): every node carries an
    HLL sketch of its in-ball B(v, t); one edge join per hop unions each
    node's sketch with its IN-neighbors' sketches (so the ball grows
    along incoming paths and d(u, v) counts u -> v reachability); the
    per-hop cardinality DELTA |B(v,t)| - |B(v,t-1)| is the number of
    nodes at distance exactly t, contributing delta / t to H(v).

    Spark-first: the sketches are Spark's native datasketches HLL
    columns — `hll_sketch_agg` seeds them, `hll_union_agg` merges
    neighbor sketches JVM-side in a partial-aggregated groupBy (no UDF,
    no Python in the loop), `hll_sketch_estimate` reads cardinalities.
    The hop recurrence is expressed with the self-loop trick:
    B(v,t) = union of B(u,t-1) over u in in(v) UNION {v itself}, so
    augmenting the edge set with one (v,v) arc per node makes the whole
    hop ONE join + ONE groupBy — no join-back of the new sketches onto
    the old state, no left-outer isolated-node special case. The sketch
    column (the heavy payload: ~2^lg_k registers/node) crosses the wire
    exactly twice per hop — once keyed by src into the edge join, once
    partial-unioned by dst into the groupBy — the minimum any
    hash-partitioned formulation can do; the join is hinted
    shuffle_hash because sort-merge would sort millions of opaque
    sketch rows for no benefit (localCheckpoint returns an RDD scan
    with UnknownPartitioning, so SMJ's sort is pure overhead each hop).
    The per-node scalars (est, harmonic-so-far) ride in a narrow
    sketch-free DataFrame that joins the fresh sketches on the groupBy
    output's own partitioning. Sketch size is the fixed 2^lg_k
    registers regardless of graph size, which is the entire point of
    HyperBall at 10^11 nodes (exact ball sets would be O(n^2)).

    Converges (balls stop growing) in at most the graph diameter;
    ``max_hops`` bounds the loop like g16's BFS. Accuracy is the HLL
    standard error (~1.04/sqrt(2^lg_k) ≈ 1.6% at the default lg_k=12);
    tests pin estimates against exact BFS harmonic centrality on small
    graphs within that tolerance.

    ``scale``: when set (must be divisible by every t in 1..max_hops,
    i.e. LCM(1..max_hops)), the per-hop contribution is accumulated as
    the exact integer ``delta * (scale // t)`` and the result column is
    ``h_scaled`` (long) = scale * H(v). In HLL sparse-exact regimes
    (ball sizes < ~2^lg_k/8) this makes the output integer-exact and
    hash-comparable against a BFS oracle with zero float-tie risk (the
    NOTES.md float discipline). Early termination requires TWO
    consecutive non-increasing global-total checks: datasketches
    estimates can dip transiently at the sparse-to-dense transition
    while balls are still growing, so a single non-increase is not a
    fixpoint proof.
    """
    if scale is not None:
        for t in range(1, max_hops + 1):
            if scale % t:
                raise ValueError(f"scale {scale} not divisible by hop {t}")
    e = edges.select(
        F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    if nodes is None:
        nodes = (
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct()
        )
    else:
        nodes = nodes.select(F.col("node").cast("long").alias("node"))

    # state: node, sketch(B(node, t)), est(|B(node, t)|), harmonic so far
    hcol = "h_scaled" if scale is not None else "harmonic"
    hinit = F.lit(0).cast("long") if scale is not None else F.lit(0.0)
    state = (
        nodes.groupBy("node")
        .agg(F.hll_sketch_agg("node", F.lit(lg_k)).alias("sk"))
        .withColumn("est", F.hll_sketch_estimate("sk"))
        .withColumn(hcol, hinit)
        .localCheckpoint()
    )
    # self-loop augmentation: every node contributes its own ball to
    # itself, so the hop is one join + one groupBy (see docstring).
    # Edges are shuffled to their src partition ONCE, outside the loop,
    # and PERSISTED (not checkpointed: InMemoryRelation keeps the
    # repartition's outputPartitioning, localCheckpoint would forget it
    # and re-shuffle the edge list every hop) — only the sketches move
    # per hop; count() pins the cache before AQE can re-plan it.
    n_parts = _shuffle_partitions(e.sparkSession)
    e_aug = (
        e.union(nodes.select(F.col("node").alias("src"), F.col("node").alias("dst")))
        .repartition(n_parts, "src")
        .persist()
    )
    e_aug.count()
    dry_checks = 0
    for t in range(1, max_hops + 1):
        # each node unions the sketches of its IN-neighbors and itself
        # (u -> v means u enters B(v): distances follow edge direction)
        fresh = (
            e_aug.join(
                state.select(
                    F.col("node").alias("src"), F.col("sk").alias("nsk")
                ).hint("shuffle_hash"),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.hll_union_agg("nsk").alias("sk"))
        )
        delta = F.greatest(F.col("est") - F.col("prev_est"), F.lit(0.0))
        if scale is not None:
            # exact integer accumulation: delta is integral in the HLL
            # sparse-exact regime; half-up rounding (never bare round())
            # guards the cast per the float discipline
            hupd = F.col(hcol) + F.floor(delta + F.lit(0.5)).cast("long") * F.lit(
                scale // t
            )
        else:
            hupd = F.col(hcol) + delta / F.lit(float(t))
        merged = (
            fresh.join(
                # narrow sketch-free scalars: est/harmonic-so-far rows are
                # a few longs each — this shuffle is noise next to the
                # sketch payload, and the fresh side reuses the groupBy's
                # own hash(node) partitioning
                state.select("node", F.col("est").alias("prev_est"), hcol),
                "node",
            )
            .withColumn("est", F.hll_sketch_estimate("sk"))
            .withColumn(hcol, hupd)
            .drop("prev_est")
            .localCheckpoint()  # truncate lineage each hop (g16 pattern)
        )
        # cheap convergence check every 2 hops (driver action; same
        # cadence as connected_components). Estimates can dip slightly
        # at the sparse-to-dense transition while balls still grow, so
        # one non-increasing total is not proof of a fixpoint — stop
        # only after TWO consecutive non-increasing checks.
        if t % 2 == 0:
            total_prev = state.agg(F.sum("est").alias("s")).collect()[0]["s"]
            total_now = merged.agg(F.sum("est").alias("s")).collect()[0]["s"]
            state = merged
            dry_checks = dry_checks + 1 if total_now <= total_prev else 0
            if dry_checks >= 2:
                break
        else:
            state = merged
    # state is checkpointed every hop, so the edge cache is no longer an
    # input of the returned plan
    e_aug.unpersist()
    if scale is not None:
        return state.select("node", F.col(hcol))
    return state.select("node", F.round("harmonic", 4).alias("harmonic"))


def neighborhood_function(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    max_hops: int = 16,
    lg_k: int = 12,
    _eager_checkpoints: bool = False,
) -> list[float]:
    """HyperANF (Boldi-Vigna-Rosa 2011): the neighborhood function
    N(t) = number of node pairs within distance <= t, estimated with the
    same per-node HLL ball sketches as :func:`hyperball_harmonic` — the
    hop is ONE join + ONE groupBy via the same self-loop-augmented edge
    set (B(v,t) = union of B(u,t-1) over in(v) and v itself; sketches
    cross the wire exactly twice per hop, the hash-partitioned minimum),
    then ONE 1-row sum of the per-node ball estimates. Stops when the
    total stops growing (ball fixpoint = every pair reached). Returns
    [N(0), N(1), ...].
    """
    e = edges.select(
        F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    if nodes is None:
        nodes = (
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct()
        )
    else:
        nodes = nodes.select(F.col("node").cast("long").alias("node"))
    state = (
        nodes.groupBy("node")
        .agg(F.hll_sketch_agg("node", F.lit(lg_k)).alias("sk"))
        .localCheckpoint()
    )
    # persisted, not checkpointed: InMemoryRelation keeps the
    # repartition's outputPartitioning so the edge side joins without a
    # per-hop Exchange (localCheckpoint would forget it)
    n_parts = _shuffle_partitions(e.sparkSession)
    e_aug = (
        e.union(nodes.select(F.col("node").alias("src"), F.col("node").alias("dst")))
        .repartition(n_parts, "src")
        .persist()
    )
    e_aug.count()

    def total(df):
        return float(
            df.agg(
                F.sum(F.hll_sketch_estimate("sk")).alias("s")
            ).collect()[0]["s"]
        )

    nf = [total(state)]
    dry = 0
    for _t in range(1, max_hops + 1):
        state = (
            e_aug.join(
                state.select(
                    F.col("node").alias("src"), F.col("sk").alias("nsk")
                ).hint("shuffle_hash"),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.hll_union_agg("nsk").alias("sk"))
            # lazy: the total() sum below is this hop's one action and
            # materializes the checkpoint in the same job — one barrier
            # per hop instead of two (safe HERE because every hop acts;
            # hyperball_harmonic keeps eager checkpoints, its sum runs
            # only every 2 hops and chaining lazy checkpoints would
            # re-nest the plans the eager form exists to truncate).
            # _eager_checkpoints exists ONLY for the job-count pin in
            # tests/test_round7_ops.py, which asserts lazy < eager as a
            # delta so a Spark upgrade shifting AQE's job schedule
            # cannot break the pin (ADVICE r17)
            .localCheckpoint(eager=_eager_checkpoints)
        )
        nf.append(total(state))
        # estimates can dip transiently at the sparse-to-dense
        # transition while balls still grow — a single non-increasing
        # hop is not a fixpoint proof; require two consecutive ones,
        # then drop the stagnant tail entries
        if nf[-1] <= nf[-2]:
            dry += 1
            if dry >= 2:
                del nf[-dry:]
                break
        else:
            dry = 0
    else:
        # loop exhausted max_hops with dry==1: the final entry is a
        # stagnant (or dipped) hop — trim it like the early-stop branch
        # does, so N(t) never carries a non-growing tail row that the
        # exact-BFS oracle (rows only up to the max distance) lacks
        if dry:
            del nf[-dry:]
    e_aug.unpersist()  # nf is plain floats; nothing downstream needs it
    return nf


def effective_diameter(
    edges: DataFrame, alpha: float = 0.9, max_hops: int = 16, lg_k: int = 12
) -> float:
    """Effective diameter at fraction ``alpha`` (WebGraph's standard
    connectivity statistic, interpolated as in HyperANF): the smallest t
    (linearly interpolated between hops) such that N(t) >= alpha * N(max)
    — "90% of reachable pairs are within this many hops"."""
    nf = neighborhood_function(edges, max_hops=max_hops, lg_k=lg_k)
    target = alpha * nf[-1]
    for t, v in enumerate(nf):
        if v >= target:
            if t == 0:
                return 0.0
            prev = nf[t - 1]
            return (t - 1) + (target - prev) / (v - prev)
    return float(len(nf) - 1)


def _min_reach_labels(
    e: DataFrame,
    nodes: DataFrame,
    max_iterations: int = 50,
    check_every: int = 2,
) -> DataFrame:
    """label(v) = min node id with a directed path to v (v included).

    Min-label propagation ALONG edge direction with pointer jumping —
    the directed sibling of :func:`connected_components`'s kernel. The
    jump ``label <- label(label)`` is sound for reachability labels:
    the invariant is "label(v) reaches v", and if w = label(v) reaches
    v and u = label(w) reaches w, then u reaches v by transitivity —
    so the rewrite preserves the invariant while never increasing the
    label, giving O(log d) convergence on a diameter-d reach chain.

    Scale: the edge table is hash-partitioned on src once and
    persisted; each iteration shuffles only narrow (node, long-label)
    rows — one join + groupBy + jump self-join, the WCC budget.
    """
    spark = e.sparkSession
    n_parts = _shuffle_partitions(spark)
    es = e.repartition(n_parts, "src").persist()
    es.count()  # pin before the loop so AQE can't re-plan the cached side
    labels = nodes.select("node", F.col("node").alias("label"))
    converged = False
    for it in range(max_iterations):
        nbr_min = (
            es.join(labels, es.src == labels.node)
            .groupBy("dst")
            .agg(F.min("label").alias("nbr_min"))
        )
        propagated = (
            labels.join(nbr_min, labels.node == nbr_min.dst, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_min"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()  # feeds both sides of the jump join below
        )
        lhs = propagated.alias("l")
        rhs = propagated.select(
            F.col("node").alias("c_node"), F.col("label").alias("c_lab")
        ).alias("r")
        new_labels = (
            lhs.join(rhs, F.col("l.label") == F.col("r.c_node"))
            .select("node", F.col("c_lab").alias("label"))
            .localCheckpoint()
        )
        do_check = (it + 1) % check_every == 0 or it == max_iterations - 1
        if do_check:
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "node")
                .filter(F.col("n.label") != F.col("o.label"))
                .limit(1)
                .count()
            )
            labels = new_labels
            if changed == 0:
                converged = True
                break
        else:
            labels = new_labels
    es.unpersist()
    if not converged:
        raise RuntimeError(
            f"_min_reach_labels did not converge in {max_iterations} "
            "iterations; raise max_iterations"
        )
    return labels


def strongly_connected_components(
    edges: DataFrame, max_rounds: int = 16, max_iterations: int = 50
) -> DataFrame:
    """Strongly-connected components — the decomposition behind every
    web-graph structure study since Broder et al. 2000 (the reference's
    WebGraph lineage computes it as a matter of course).

    Parallel multi-pivot forward-backward peeling with label-pair
    refinement: each round computes f(v) = min id REACHING v and
    b(v) = min id REACHABLE FROM v over the still-active subgraph (two
    pointer-jumped min-label fixpoints, :func:`_min_reach_labels`),
    then peels on two certificates at once:

    - f(v) == b(v) == m proves v and m mutually reachable — the whole
      class peels as SCC(m). This settles, in one round, the SCC of
      EVERY pivot that is the minimum of its own reach closure (the
      classic FW-BW algorithm run from all such pivots simultaneously).
    - every member of one SCC shares BOTH labels (mutual reachability
      makes the ancestor and descendant closures coincide), so an SCC
      never spans two (f, b) classes. A class containing a single node
      is therefore a singleton SCC — peeled immediately — and edges
      crossing classes can never be intra-SCC, so they are dropped.

    The second rule is what kills the adversarial case: on a DAG chain
    every node gets a distinct (f, b) pair and the whole chain peels in
    ONE round, where naive multi-pivot peeling would take n rounds (one
    certified pivot per round). Progress is guaranteed regardless: the
    minimal node of every surviving class self-certifies next round.
    ``max_rounds`` caps the loop and a miss raises rather than
    returning a half-peeled decomposition.

    Per-round cost: 2 label fixpoints at O(log d) iterations of one
    join + groupBy + jump-join each, over narrow (long, long) rows —
    no per-node sets, no transitive closure, nothing quadratic; the
    active subgraph only shrinks (and cross-class edge dropping shrinks
    it geometrically in practice). Returns DataFrame[node, scc_id]
    (scc_id = min node id in the component).
    """
    e = (
        edges.select(
            F.col("src").cast("long").alias("src"),
            F.col("dst").cast("long").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    active = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    done: DataFrame | None = None
    e_act = e
    for _rnd in range(max_rounds):
        f = _min_reach_labels(e_act, active, max_iterations)
        b = _min_reach_labels(
            e_act.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
            active,
            max_iterations,
        ).withColumnRenamed("label", "blabel")
        lab = f.join(b, "node").localCheckpoint()
        cls_sz = lab.groupBy("label", "blabel").agg(
            F.count(F.lit(1)).alias("cls_sz")
        )
        lab = lab.join(cls_sz, ["label", "blabel"]).localCheckpoint()
        peeled = lab.filter(F.col("label") == F.col("blabel")).select(
            "node", F.col("label").alias("scc_id")
        )
        # single-node (f, b) class => singleton SCC (an SCC never spans
        # classes), even though f != b — this is what peels DAG chains
        # in one round instead of one pivot per round
        singles = lab.filter(
            (F.col("label") != F.col("blabel")) & (F.col("cls_sz") == 1)
        ).select("node", F.col("node").alias("scc_id"))
        peeled = peeled.union(singles)
        done = peeled if done is None else done.union(peeled)
        done = done.localCheckpoint()
        remaining = (
            lab.filter(
                (F.col("label") != F.col("blabel")) & (F.col("cls_sz") > 1)
            )
            .select("node", "label", "blabel")
            .localCheckpoint()
        )
        if remaining.limit(1).count() == 0:
            return done
        active = remaining.select("node")
        # keep only intra-class edges: cross-class arcs cannot be
        # intra-SCC, and next round's labels must be computed on the
        # refined classes in isolation
        ms = remaining.select(
            F.col("node").alias("src"),
            F.col("label").alias("sl"),
            F.col("blabel").alias("sb"),
        )
        md = remaining.select(
            F.col("node").alias("dst"),
            F.col("label").alias("dl"),
            F.col("blabel").alias("db"),
        )
        e_act = (
            e_act.join(ms, "src")
            .join(md, "dst")
            .filter((F.col("sl") == F.col("dl")) & (F.col("sb") == F.col("db")))
            .select("src", "dst")
            .localCheckpoint()
        )
    raise RuntimeError(
        f"strongly_connected_components did not finish in {max_rounds} "
        "rounds; raise max_rounds"
    )


def bowtie_decomposition(
    edges: DataFrame, scc: DataFrame | None = None, max_hops: int = 64
) -> DataFrame:
    """Bow-tie decomposition (Broder et al. 2000, "Graph structure in
    the web" — THE macroscopic web-graph statistic): CORE = the largest
    SCC (ties broken toward the smallest scc_id, deterministically),
    IN = nodes that reach the core but are not in it, OUT = nodes the
    core reaches, OTHER = tendrils/tubes/disconnected remainder. IN and
    OUT are disjoint by construction: a node in both would be mutually
    reachable with the core and hence inside it.

    The two reachability sweeps are multi-source frontier BFS loops
    (the g13/g16 pattern): the edge table partitioned once, only the
    frontier shuffles per hop, anti-join against the visited set; the
    loop ends when the frontier drains. Returns DataFrame[node, cls]
    with cls in {'CORE','IN','OUT','OTHER'}.
    """
    e = (
        edges.select(
            F.col("src").cast("long").alias("src"),
            F.col("dst").cast("long").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    if scc is None:
        scc = strongly_connected_components(e)
    scc = scc.localCheckpoint()
    largest = (
        scc.groupBy("scc_id")
        .agg(F.count(F.lit(1)).alias("sz"))
        .orderBy(F.desc("sz"), F.asc("scc_id"))
        .limit(1)
        .select("scc_id")
    )
    core = scc.join(F.broadcast(largest), "scc_id").select("node").localCheckpoint()

    def reach_from(seed: DataFrame, ed: DataFrame) -> DataFrame:
        """All nodes reachable from ``seed`` along ``ed`` (seed included)."""
        visited = seed.localCheckpoint()
        frontier = visited
        for _ in range(max_hops):
            nxt = (
                ed.join(frontier.withColumnRenamed("node", "src"), "src", "left_semi")
                .select(F.col("dst").alias("node"))
                .distinct()
                .join(visited, "node", "left_anti")
                .localCheckpoint()
            )
            if nxt.limit(1).count() == 0:
                return visited
            visited = visited.union(nxt).localCheckpoint()
            frontier = nxt
        raise RuntimeError(f"reachability did not drain in {max_hops} hops")

    out_side = reach_from(core, e)
    in_side = reach_from(core, e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    nodes = scc.select("node")
    return (
        nodes.join(core.withColumn("is_core", F.lit(True)), "node", "left")
        .join(out_side.withColumn("fwd", F.lit(True)), "node", "left")
        .join(in_side.withColumn("bwd", F.lit(True)), "node", "left")
        .select(
            "node",
            F.when(F.col("is_core"), F.lit("CORE"))
            .when(F.col("fwd"), F.lit("OUT"))
            .when(F.col("bwd"), F.lit("IN"))
            .otherwise(F.lit("OTHER"))
            .alias("cls"),
        )
    )


# Driver-gated HyperBall/HyperANF entries. Both run on the fixture
# subgraph restricted to nodes < 400 so every ball stays in the HLL
# sparse-exact regime (max in-ball 385 < 2^14/8 at lg_k=14 — verified
# empirically: Spark's datasketches sketches are exact through ~k/8
# distinct values), making the probabilistic algorithm hash-comparable
# against an exact BFS oracle. scale = LCM(1..16) = 720720 keeps the
# harmonic sum in exact integer arithmetic on BOTH engines (NOTES.md
# float discipline: reciprocal sums would otherwise be float-tie bait).
_HB_CAP = 400
_HB_SCALE = 720720  # LCM(1..16) = 2^4 * 3^2 * 5 * 7 * 11 * 13
_HB_SUB = f"""
    e0 AS (SELECT src, unnest(adj) AS dst FROM {_T}),
    f AS (SELECT DISTINCT src, dst FROM e0
          WHERE src < {_HB_CAP} AND dst < {_HB_CAP} AND src <> dst),
    n AS (SELECT DISTINCT node FROM
          (SELECT src AS node FROM f UNION SELECT dst FROM f)),
    reach(root, node, d) AS MATERIALIZED (
        SELECT node, node, 0 FROM n
        UNION
        SELECT r.root, f.dst, r.d + 1 FROM reach r
        JOIN f ON f.src = r.node WHERE r.d < 16
    ),
    md AS (SELECT root, node, min(d) AS d FROM reach GROUP BY root, node)
"""


def _hb_edges(spark: SparkSession) -> DataFrame:
    return edges_df(spark).filter(
        (F.col("src") < _HB_CAP)
        & (F.col("dst") < _HB_CAP)
        & (F.col("src") != F.col("dst"))
    )


@register(
    "g26_hyperball_harmonic",
    oracle=f"""
    WITH RECURSIVE {_HB_SUB}
    SELECT n.node,
           CAST(coalesce(h.h, 0) AS BIGINT) AS h_scaled
    FROM n LEFT JOIN (
        SELECT node, sum({_HB_SCALE} // d) AS h
        FROM md WHERE d > 0 GROUP BY node
    ) h ON h.node = n.node
    """,
    doc="HyperBall harmonic centrality (Boldi-Vigna 2013, the WebGraph "
    "ecosystem's flagship companion algorithm — HdfsBVGraph.java:26-28 "
    "lineage) on the <400-node fixture subgraph: native hll_sketch_agg/"
    "hll_union_agg ball growth, one edge join per hop, JVM-side only. "
    "Output is scale*H(v) in exact integer units (scale=LCM(1..16)); "
    "oracle = bounded recursive-CTE BFS distances. Exact because the "
    "sketches stay in sparse mode at this ball size.",
)
def g26_hyperball_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hyperball_harmonic(
        _hb_edges(spark), max_hops=16, lg_k=14, scale=_HB_SCALE
    )


@register(
    "g27_hyperanf_neighborhood",
    oracle=f"""
    WITH RECURSIVE {_HB_SUB}
    SELECT CAST(d AS INTEGER) AS t,
           CAST(sum(count(*)) OVER (ORDER BY d) AS BIGINT) AS n_pairs
    FROM md GROUP BY d
    """,
    doc="HyperANF neighborhood function N(t) (Boldi-Vigna-Rosa 2011) on "
    "the <400-node fixture subgraph: per-node HLL ball sketches unioned "
    "one hop per round, N(t) = one 1-row sum of ball estimates; stops "
    "after two consecutive non-growing hops (ball fixpoint). Integer-"
    "exact in the sparse-sketch regime; oracle = cumulative pair counts "
    "by exact BFS distance.",
)
def g27_hyperanf_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    nf = neighborhood_function(_hb_edges(spark), max_hops=16, lg_k=14)
    rows = [(t, int(v + 0.5)) for t, v in enumerate(nf)]
    return spark.createDataFrame(rows, "t int, n_pairs long")


# SCC / bow-tie driver gates on the same <400-node fixture subgraph as
# g26/g27 (giant 377-node SCC + satellite singletons — a miniature of
# the web's actual bow-tie). The oracle materializes the reflexive
# transitive closure with a recursive CTE (UNION-dedup'd, so it
# terminates at the closure) and derives scc_id(u) = min{x : u ~> x and
# x ~> u} — exactly the mutual-reachability definition, feasible only
# because the gate subgraph is tiny; the Spark side never builds a
# closure at any scale.
_SCC_SUB = f"""
    e0 AS (SELECT src, unnest(adj) AS dst FROM {_T}),
    f AS MATERIALIZED (SELECT DISTINCT src, dst FROM e0
          WHERE src < {_HB_CAP} AND dst < {_HB_CAP} AND src <> dst),
    n AS MATERIALIZED (SELECT DISTINCT node FROM
          (SELECT src AS node FROM f UNION SELECT dst FROM f)),
    reach AS (
        SELECT node AS src, node AS dst FROM n
        UNION
        SELECT r.src, f.dst FROM reach r JOIN f ON f.src = r.dst
    ),
    scc AS MATERIALIZED (
        SELECT r1.src AS node, min(r1.dst) AS scc_id
        FROM reach r1 JOIN reach r2 ON r2.src = r1.dst AND r2.dst = r1.src
        GROUP BY r1.src
    )"""


_SCC_FIXTURE_CACHE: dict[str, list] = {}


def _scc_fixture(spark: SparkSession) -> DataFrame:
    """SCC of the <400-node gate subgraph, memoized per process: g28,
    g29 and g30 all need it, and the peel is the expensive part of all
    three driver gates. The cache holds plain (node, scc_id) rows —
    session-independent, deterministic (min-label peel), 400 rows."""
    key = graph_basename()
    rows = _SCC_FIXTURE_CACHE.get(key)
    if rows is None:
        rows = [
            (r["node"], r["scc_id"])
            for r in strongly_connected_components(_hb_edges(spark)).collect()
        ]
        _SCC_FIXTURE_CACHE[key] = rows
    return spark.createDataFrame(rows, "node long, scc_id long")


@register(
    "g28_scc",
    oracle=f"""
    WITH RECURSIVE {_SCC_SUB}
    SELECT node, CAST(scc_id AS BIGINT) AS scc_id FROM scc
    """,
    doc="Strongly-connected components (parallel multi-pivot FW-BW "
    "peeling: two pointer-jumped min-reach-label fixpoints per round, "
    "f==b certifies the pivot's SCC) on the <400-node fixture subgraph; "
    "oracle = mutual-reachability over the recursive-CTE closure. The "
    "Spark side shuffles only (long,long) label rows — no closure, "
    "nothing quadratic, active subgraph shrinks every round.",
)
def g28_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _scc_fixture(spark)


@register(
    "g29_bowtie",
    oracle=f"""
    WITH RECURSIVE {_SCC_SUB},
    core AS MATERIALIZED (
        SELECT node FROM scc
        WHERE scc_id = (
            SELECT scc_id FROM (
                SELECT scc_id, count(*) AS sz FROM scc GROUP BY scc_id
                ORDER BY sz DESC, scc_id ASC LIMIT 1
            )
        )
    ),
    fwd AS MATERIALIZED (
        SELECT DISTINCT r.dst AS node
        FROM reach r JOIN core c ON r.src = c.node
    ),
    bwd AS MATERIALIZED (
        SELECT DISTINCT r.src AS node
        FROM reach r JOIN core c ON r.dst = c.node
    )
    SELECT n.node,
           CASE WHEN c.node IS NOT NULL THEN 'CORE'
                WHEN o.node IS NOT NULL THEN 'OUT'
                WHEN i.node IS NOT NULL THEN 'IN'
                ELSE 'OTHER' END AS cls
    FROM n
    LEFT JOIN core c ON c.node = n.node
    LEFT JOIN fwd o ON o.node = n.node
    LEFT JOIN bwd i ON i.node = n.node
    """,
    doc="Bow-tie decomposition (Broder et al. 2000): CORE = largest SCC "
    "(smallest-id tie-break), OUT = reached from the core, IN = reaches "
    "the core, OTHER = tendrils/tubes/disconnected — per-node class on "
    "the <400-node fixture subgraph. Spark side: SCC peel + two "
    "multi-source frontier BFS sweeps (only the frontier shuffles per "
    "hop); oracle classifies via the closure.",
)
def g29_bowtie(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bowtie_decomposition(_hb_edges(spark), scc=_scc_fixture(spark))


def condensation(edges: DataFrame, scc: DataFrame | None = None) -> DataFrame:
    """Condensation (quotient DAG of SCCs): contract every strongly-
    connected component to one node (its scc_id) and keep the distinct
    inter-component arcs — the DAG every bow-tie / web-structure study
    works on after SCC. Same contraction shape as the host graph (g25):
    two narrow label joins onto the edge list + one distinct, nothing
    per-component. Returns DataFrame[src, dst] over scc_ids.
    """
    e = (
        edges.select(
            F.col("src").cast("long").alias("src"),
            F.col("dst").cast("long").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .localCheckpoint()
    )
    if scc is None:
        scc = strongly_connected_components(e)
    ms = scc.select(F.col("node").alias("src"), F.col("scc_id").alias("csrc"))
    md = scc.select(F.col("node").alias("dst"), F.col("scc_id").alias("cdst"))
    return (
        e.join(ms, "src")
        .join(md, "dst")
        .filter(F.col("csrc") != F.col("cdst"))
        .select(F.col("csrc").alias("src"), F.col("cdst").alias("dst"))
        .distinct()
    )


@register(
    "g30_condensation",
    oracle=f"""
    WITH RECURSIVE {_SCC_SUB}
    SELECT DISTINCT s1.scc_id AS src, s2.scc_id AS dst
    FROM f
    JOIN scc s1 ON s1.node = f.src
    JOIN scc s2 ON s2.node = f.dst
    WHERE s1.scc_id <> s2.scc_id
    """,
    doc="Condensation / SCC quotient DAG (contract each SCC to its "
    "scc_id, keep distinct inter-component arcs) on the <400-node "
    "fixture subgraph; oracle contracts over the closure-derived SCC "
    "map. Two narrow label joins + one distinct — the g25 contraction "
    "shape, nothing per-component.",
)
def g30_condensation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return condensation(_hb_edges(spark), scc=_scc_fixture(spark))


def sample_neighbors(
    edges: DataFrame, fanout: int, salt: str = "hop0"
) -> DataFrame:
    """GraphSAGE-style deterministic neighbor sampling: keep at most
    ``fanout`` out-neighbors per node, chosen by md5(salt, src, dst)
    rank — the per-hop primitive of every mini-batch GNN training
    pipeline (Hamilton et al. 2017) and of bounded-fan-out graph
    feature jobs.

    Determinism is the repo's md5-band discipline: the kept set is a
    pure function of (salt, src, dst), so re-runs, repartitions and
    engine changes agree bit-for-bit, different ``salt`` values give
    independent samples per hop, and the sample is stable under edge
    appends that don't touch a node's kept ranks. Scale: the two-phase
    :func:`~hadoopwebgraph_spark.functions.similarity.topk_per_group`
    rank-filter — no reducer ever sees a whole hub's neighbor list.
    Returns DataFrame[src, dst, rank] (rank 1..fanout in md5 order).
    """
    from ..functions.similarity import topk_per_group

    scored = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    ).withColumn(
        "h", F.md5(F.concat_ws("-", F.lit(salt), F.col("src"), F.col("dst")))
    )
    return (
        topk_per_group(scored, ["src"], [F.col("h").asc()], fanout)
        .select("src", "dst", F.col("rank").cast("int").alias("rank"))
    )


@register(
    "g32_neighbor_sample",
    oracle=f"""
    WITH e AS MATERIALIZED (SELECT src, unnest(adj) AS dst FROM {_T}),
    scored AS (
        SELECT src, dst,
               md5('hop0-' || CAST(src AS VARCHAR) || '-'
                           || CAST(dst AS VARCHAR)) AS h
        FROM e
    ),
    ranked AS (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src ORDER BY h) AS rank
        FROM scored
    )
    SELECT src, CAST(dst AS BIGINT) AS dst, CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= 4
    """,
    doc="Deterministic GraphSAGE-style neighbor sampling (fanout 4, "
    "md5-ranked — the mini-batch GNN training primitive): two-phase "
    "rank-filter so hubs never funnel into one reducer; kept set is a "
    "pure function of (salt, src, dst) — rerun/repartition/engine "
    "stable, hash-exact vs the SQL window oracle.",
)
def g32_neighbor_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sample_neighbors(edges_df(spark), fanout=4)


def random_walks(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    walks_per_node: int = 2,
    length: int = 4,
    salt: str = "walk",
    checkpoint_interval: int = 8,
) -> DataFrame:
    """Deterministic random-walk corpus generation — the DeepWalk /
    node2vec preprocessing job (Perozzi et al. 2014): ``walks_per_node``
    walks of up to ``length`` steps from every node, the sentences a
    skip-gram graph-embedding trainer consumes.

    Determinism is the repo's md5 discipline: step t of walk (v, k)
    moves to argmin over out-neighbors d of md5(salt-v-k-t-d), so the
    whole corpus is a pure function of (salt, graph) — rerun,
    repartition and engine independent (hash-exact against a SQL
    oracle), and each (v, k, t) triple draws an independent choice.
    Walks at a sink node simply stop growing (LEFT join + coalesce
    keeps them, path unchanged — exactly the oracle's CASE).

    Scale shape (measured, see NOTES r10): ONE lazy declarative plan —
    per step, a shuffle-hash join of the narrow ``(v, k, cur, path)``
    frontier against the edge table (pre-partitioned by ``src`` once,
    persisted, reused all steps; only the frontier moves) followed by
    a single min_by groupBy. Two prior shapes lost to this one at the
    739k-arc bench fixture: per-step ``localCheckpoint`` + end
    assembly (union of step tables + ``collect_list``) pays length+1
    extra jobs, an extra 1M-row shuffle, and holds every state
    materialized; an edge-broadcast variant re-collects the broadcast
    per job AND lands its fan-out on AQE-coalesced (~2) partitions, so
    the 1.5M md5s/step serialize. The argmin key is a FIXED-WIDTH
    BIGINT — the first 15 hex chars of the md5 parsed as a 60-bit
    integer (``conv(substr(md5(..),1,15),16,10)``) — so the per-step
    aggregate plans as **HashAggregate** with map-side partial
    collapse (a var-length string/binary AGG-BUFFER field forces
    SortAggregate — a full sort of the frontier-join output every
    step, the 100x-scale killer; the var-length ``path`` is safe as a
    GROUP KEY, keys live in the hash map's UnsafeRow). Because every
    candidate row of a walk shares one ``cur``, the join output is
    co-located per walk and the partial aggregate collapses to one
    row per walk before the (v, k) exchange. The oracle compares on
    ``substr(md5(..),1,15)`` directly: fixed-length lowercase-hex
    order == numeric order, so the cross-engine contract transfers;
    60-bit ties among <= outdegree candidates are astronomically
    unlikely (and a tie in 60 bits is a tie for both engines, not a
    divergence in one). Memory is bounded by ONE frontier: a
    ``localCheckpoint`` every ``checkpoint_interval`` steps truncates
    lineage for long walks (none happen at length <= interval), and
    the final state is checkpointed once so multi-action consumers
    (count + collect, g35's fan-out) never re-run the walk and the
    edge cache can be released before returning. Returns
    DataFrame[v, k, path] with path the comma-joined node sequence.
    """
    if checkpoint_interval < 1:
        raise ValueError(
            f"checkpoint_interval={checkpoint_interval} must be >= 1 "
            "(it bounds lineage depth for long walks)"
        )
    e = edges.select(
        F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst")
    )
    es = e.repartition(_shuffle_partitions(e.sparkSession), "src").persist()
    es.count()
    if nodes is None:
        nodes = (
            es.select(F.col("src").alias("node"))
            .union(es.select(F.col("dst").alias("node")))
            .distinct()
        )
    else:
        nodes = nodes.select(F.col("node").cast("long").alias("node"))
    state = nodes.select(
        F.col("node").alias("v"),
        F.explode(F.sequence(F.lit(0), F.lit(walks_per_node - 1))).alias("k"),
    ).select(
        "v", "k", F.col("v").alias("cur"), F.col("v").cast("string").alias("path")
    )
    for t in range(1, length + 1):
        # 60-bit fixed-width argmin key: LongType keeps the agg buffer
        # fixed-width -> HashAggregate (binary/string buffers degrade
        # to SortAggregate). conv() returns a decimal string; the cast
        # is exact for 15 hex digits (< 2^63).
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "-",
                        F.lit(salt),
                        F.col("v"),
                        F.col("k"),
                        F.lit(t),
                        F.col("dst"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        state = (
            state.join(es, state.cur == es.src, "left")
            .groupBy("v", "k", "cur", "path")
            .agg(F.min_by("dst", h).alias("nxt"))
            .select(
                "v",
                "k",
                F.coalesce("nxt", "cur").alias("cur"),
                F.when(F.col("nxt").isNull(), F.col("path"))
                .otherwise(F.concat_ws(",", "path", F.col("nxt").cast("string")))
                .alias("path"),
            )
        )
        if t % checkpoint_interval == 0 and t < length:
            state = state.localCheckpoint()
    out = state.select("v", "k", "path").localCheckpoint()
    es.unpersist()
    return out


def _walks_oracle_sql(twin: str, k: int, length: int, salt: str) -> str:
    """Unrolled per-step argmin blocks (AS MATERIALIZED per the DuckDB
    multi-reference inlining gotcha). The argmin key is the FIRST 15
    HEX CHARS of the md5 — order-identical to the 60-bit BIGINT the
    Spark side aggregates on (fixed-length lowercase-hex order ==
    numeric order); keep the two in lockstep, and note g35's skip-gram
    oracle embeds this CTE so both move together."""
    blocks = [
        f"""
    e AS MATERIALIZED (SELECT src, unnest(adj) AS dst FROM {twin}),
    n AS MATERIALIZED (
        SELECT DISTINCT node FROM (
            SELECT src AS node FROM e UNION SELECT dst FROM e
        )
    ),
    s0 AS MATERIALIZED (
        SELECT node AS v, k.k AS k, node AS cur,
               CAST(node AS VARCHAR) AS path
        FROM n, LATERAL (SELECT unnest(range(0, {k})) AS k) k
    )"""
    ]
    for t in range(1, length + 1):
        blocks.append(f"""
    s{t} AS MATERIALIZED (
        SELECT v, k, coalesce(nxt, cur) AS cur,
               CASE WHEN nxt IS NULL THEN path
                    ELSE path || ',' || CAST(nxt AS VARCHAR) END AS path
        FROM (
            SELECT s.v, s.k, s.cur, s.path,
                   arg_min(e.dst, substr(md5('{salt}-' || CAST(s.v AS VARCHAR)
                       || '-' || CAST(s.k AS VARCHAR) || '-{t}-'
                       || CAST(e.dst AS VARCHAR)), 1, 15)) AS nxt
            FROM s{t - 1} s LEFT JOIN e ON e.src = s.cur
            GROUP BY s.v, s.k, s.cur, s.path
        )
    )""")
    return (
        "WITH" + ",".join(blocks) + f"\n    SELECT v, k, path FROM s{length}"
    )


@register(
    "g33_random_walks",
    oracle=_walks_oracle_sql(_T, 2, 4, "walk"),
    doc="Deterministic random-walk corpus generation (DeepWalk/node2vec "
    "preprocessing, Perozzi et al. 2014): 2 walks of up to 4 steps per "
    "node, step choice = argmin of the 60-bit md5 prefix of "
    "salt-v-k-t-dst over out-neighbors — rerun/repartition/engine "
    "independent, hash-exact vs the unrolled argmin SQL oracle. One "
    "frontier join + HashAggregate min_by groupBy per step (the BFS "
    "hop budget); sink nodes stop growing.",
)
def g33_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return random_walks(edges_df(spark), walks_per_node=2, length=4)


def skipgram_pairs(walks: DataFrame, window: int = 2) -> DataFrame:
    """Turn a random-walk corpus (:func:`random_walks` output) into
    skip-gram (center, context) training pairs — the final step of the
    DeepWalk/node2vec preprocessing pipeline before the embedding
    trainer.

    For every position i in a walk, emit (node[i], node[j]) for all
    j != i within ``window`` positions. Pure array expressions: one
    split + posexplode + a bounded slice per center — the fan-out is at
    most 2*window rows per walk position, all narrow longs, zero
    shuffle. Returns DataFrame[center, context, offset] with offset =
    j - i (sign preserved: the trainer can weight by distance).
    """
    toks = F.split("path", ",")
    return (
        walks.select(F.posexplode(toks).alias("i", "center"), toks.alias("t"))
        .select(
            F.col("center").cast("long").alias("center"),
            F.posexplode(
                # slice is 1-based; clamp the left edge at the walk start
                # contiguous run left..center..right; the center itself
                # lands at offset 0 and is filtered below
                F.slice(
                    "t",
                    F.greatest(F.col("i") + 1 - window, F.lit(1)),
                    F.least(F.col("i"), F.lit(window))
                    + F.lit(1)
                    + F.least(F.size("t") - F.col("i") - 1, F.lit(window)),
                )
            ).alias("p", "context"),
            (
                F.greatest(F.col("i") + 1 - window, F.lit(1)) - F.col("i") - 1
            ).alias("base"),
        )
        .select(
            "center",
            F.col("context").cast("long").alias("context"),
            (F.col("base") + F.col("p")).cast("int").alias("offset"),
        )
        .filter(F.col("offset") != 0)
    )


def _skipgram_oracle_sql(twin: str, k: int, length: int, salt: str, window: int) -> str:
    """Skip-gram pair oracle: the unrolled walk oracle as a nested CTE,
    then all (i, j) position pairs within ``window`` via two
    unnest(range(...)) explosions (bounded: walks are <= length+1
    tokens, so the j fan-out is tiny and exact)."""
    walks = _walks_oracle_sql(twin, k, length, salt)
    return f"""
    WITH walks AS MATERIALIZED ({walks}),
    wt AS MATERIALIZED (SELECT string_split(path, ',') AS t FROM walks),
    p1 AS (SELECT t, unnest(range(1, len(t) + 1)) AS i FROM wt),
    p2 AS (SELECT t, i, unnest(range(1, len(t) + 1)) AS j FROM p1)
    SELECT CAST(t[CAST(i AS INTEGER)] AS BIGINT) AS center,
           CAST(t[CAST(j AS INTEGER)] AS BIGINT) AS context,
           CAST(j - i AS INTEGER) AS "offset"
    FROM p2
    WHERE j != i AND abs(j - i) <= {window}
    """


@register(
    "g35_skipgram_pairs",
    oracle=_skipgram_oracle_sql(_T, 2, 4, "walk", 2),
    doc="Skip-gram (center, context, offset) training-pair generation "
    "from the deterministic random-walk corpus (DeepWalk/node2vec "
    "preprocessing, final step before the embedding trainer; "
    "skipgram_pairs above). Pure array expressions over g33's walks: "
    "split + posexplode + one bounded slice per center — fan-out <= "
    "2*window narrow long rows per walk position, zero extra shuffle "
    "beyond the walk job itself. Hash-exact vs the position-pair SQL "
    "oracle on the same unrolled-walk CTE.",
)
def g35_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return skipgram_pairs(random_walks(edges_df(spark), walks_per_node=2, length=4), window=2)


def double_sweep_diameter(
    edges: DataFrame, source: int = 0, max_hops: int = 32
):
    """Double-sweep diameter lower bound on the symmetrized graph
    (Magnien/Latapy/Habib; the seeding step of the WebGraph authors'
    iFUB exact-diameter algorithm): BFS from ``source``, then BFS again
    from the farthest node found (ties -> min node id). The second
    eccentricity is a lower bound on the diameter that is exact on
    trees and empirically tight on web-ish graphs — two BFS sweeps
    instead of all-pairs.

    Returns (far_node, ecc_from_source, sweep-2 distances DataFrame).
    The far-node pick is a one-row driver action between the two
    distributed sweeps — bounded output, the standard iterative-algo
    driver step.
    """
    sym = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    d1 = bfs_distances(sym, source=source, max_hops=max_hops)
    far = d1.orderBy(F.col("d").desc(), "node").limit(1).collect()[0]
    d2 = bfs_distances(sym, source=int(far.node), max_hops=max_hops)
    return int(far.node), int(far.d), d2


@register(
    "g36_double_sweep_diameter",
    oracle=f"""
    WITH RECURSIVE
    e0 AS MATERIALIZED (SELECT src, unnest(adj) AS dst FROM {_T}),
    sym AS MATERIALIZED (
        SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0
    ),
    walk1(node, d) AS (
        SELECT 0 AS node, 0 AS d
        UNION
        SELECT sym.dst, w.d + 1 FROM walk1 w JOIN sym ON sym.src = w.node
        WHERE w.d < 32
    ),
    dist1 AS MATERIALIZED (SELECT node, min(d) AS d FROM walk1 GROUP BY node),
    far AS MATERIALIZED (SELECT node, d FROM dist1 ORDER BY d DESC, node LIMIT 1),
    walk2(node, d) AS (
        SELECT node, 0 AS d FROM far
        UNION
        SELECT sym.dst, w.d + 1 FROM walk2 w JOIN sym ON sym.src = w.node
        WHERE w.d < 32
    ),
    dist2 AS (SELECT node, min(d) AS d FROM walk2 GROUP BY node)
    SELECT CAST((SELECT node FROM far) AS BIGINT)  AS far_node,
           CAST((SELECT d FROM far) AS INTEGER)    AS ecc_from_source,
           CAST(max(d) AS INTEGER)                 AS diameter_lb,
           CAST(count(*) AS BIGINT)                AS n_reached
    FROM dist2
    """,
    doc="Diameter lower bound by double sweep on the symmetrized graph "
    "(two BFS passes; the iFUB seeding heuristic of Crescenzi/Grossi/"
    "Habib/Lanzi/Marino, whose exact follow-up the WebGraph tooling "
    "ships). Oracle = two chained recursive-CTE level walks with the "
    "identical min-node tie-break — integer-only, exact parity.",
)
def g36_double_sweep_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    far_node, ecc1, d2 = double_sweep_diameter(edges_df(spark))
    return d2.agg(
        F.max("d").cast("int").alias("diameter_lb"),
        F.count(F.lit(1)).cast("bigint").alias("n_reached"),
    ).select(
        F.lit(far_node).cast("bigint").alias("far_node"),
        F.lit(ecc1).cast("int").alias("ecc_from_source"),
        "diameter_lb",
        "n_reached",
    )


def ktruss(edges: DataFrame, k: int = 3, rounds: int = 4) -> DataFrame:
    """Synchronous k-truss peeling on the undirected simple graph, run
    for a FIXED number of rounds (the g17 k-core recipe one level up:
    peel EDGES by triangle support instead of nodes by degree): every
    round simultaneously drops all edges lying in fewer than k-2
    triangles of the surviving subgraph. A fixed round count keeps the
    result an exactly-oracle-able integer computation; tests assert the
    fixture reaches its fixpoint within ``rounds``, so the fixed-round
    output IS the k-truss.

    Per round: triangle support by two equi-joins of the edge list
    against its symmetrized form on the shared neighbor (only
    (long,long) pairs shuffle — adjacency sets never materialize), one
    partial-agg'd count, one filter. The canonical skew note applies:
    at web scale the wedge join is done from the lower-degree endpoint
    (degree orientation); at the fixture's scale the symmetric form is
    the clearer contract and the oracle mirrors it exactly.

    Returns DataFrame[u, v, support] for edges alive after ``rounds``,
    with support recomputed within the surviving subgraph.
    """
    und = (
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .filter(F.col("u") < F.col("v"))
        .distinct()
        .localCheckpoint()
    )

    def support(t: DataFrame) -> DataFrame:
        sym = t.select(F.col("u").alias("x"), F.col("v").alias("y")).union(
            t.select(F.col("v").alias("x"), F.col("u").alias("y"))
        )
        a = sym.select(F.col("x").alias("au"), F.col("y").alias("w"))
        b = sym.select(F.col("x").alias("bv"), F.col("y").alias("w"))
        return (
            t.join(a, t.u == a.au)
            .join(b, (t.v == b.bv) & (a.w == b.w))
            .groupBy("u", "v")
            .agg(F.count(F.lit(1)).alias("c"))
        )

    t = und
    for _ in range(rounds):
        t = (
            support(t)
            .filter(F.col("c") >= k - 2)
            .select("u", "v")
            .localCheckpoint()
        )
    return support(t).select("u", "v", F.col("c").cast("bigint").alias("support"))


def _ktruss_oracle_sql(twin: str, k: int = 3, rounds: int = 4) -> str:
    """Unrolled-CTE oracle for g37: the same synchronous edge-peel
    schedule, integer-only, exact parity."""
    blocks = [
        f"""
    e0 AS MATERIALIZED (SELECT src, unnest(adj) AS dst FROM {twin}),
    t0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u,
                               greatest(src, dst) AS v
             FROM e0 WHERE src <> dst)"""
    ]
    for i in range(1, rounds + 1):
        blocks.append(
            f"""
    s{i} AS MATERIALIZED (SELECT u AS x, v AS y FROM t{i - 1}
             UNION ALL SELECT v, u FROM t{i - 1}),
    sup{i} AS MATERIALIZED (SELECT t.u, t.v, count(*) AS c
             FROM t{i - 1} t
             JOIN s{i} a ON a.x = t.u
             JOIN s{i} b ON b.x = t.v AND b.y = a.y
             GROUP BY t.u, t.v),
    t{i} AS MATERIALIZED (SELECT u, v FROM sup{i} WHERE c >= {k - 2})"""
        )
    blocks.append(
        f"""
    sf AS (SELECT u AS x, v AS y FROM t{rounds}
           UNION ALL SELECT v, u FROM t{rounds})"""
    )
    return (
        "WITH" + ",".join(blocks) + f"""
    SELECT t.u, t.v, CAST(count(*) AS BIGINT) AS support
    FROM t{rounds} t
    JOIN sf a ON a.x = t.u
    JOIN sf b ON b.x = t.v AND b.y = a.y
    GROUP BY t.u, t.v
    """
    )


@register(
    "g37_ktruss",
    oracle=_ktruss_oracle_sql(_T),
    doc="3-truss of the symmetrized simple graph via 4 synchronous "
    "edge-peeling rounds (every surviving edge lies in >= 1 triangle "
    "of the surviving subgraph; fixture reaches fixpoint inside the "
    "round budget — asserted in tests); emits surviving edges with "
    "their in-truss triangle support. Oracle = the same peel schedule "
    "unrolled into CTE blocks, exact integer parity.",
)
def g37_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ktruss(edges_df(spark), k=3, rounds=4)


def topological_levels(
    edges: DataFrame, max_levels: int = 1024, nodes: DataFrame | None = None
) -> DataFrame:
    """Longest-path layering of a DAG: level(v) = length of the longest
    path ending at v (sources sit at level 0) — the scheduling order of
    every dependency DAG and the "crawl tier" of a condensation. A
    valid topological sort is any order consistent with the levels, and
    the level count minus one is the DAG's longest path.

    Frontier iteration with NO visited set — on purpose: the hop-h
    frontier is exactly the set of nodes with SOME path of length h
    ending there (deduped per hop, so each hop is bounded by |V| rows),
    and the per-node max over hops is the longest such path. Terminates
    at the DAG depth; a cycle would keep the frontier alive forever, so
    surviving past ``max_levels`` raises instead of looping — this is
    also a distributed cycle DETECTOR. Scale: the edge table is
    hash-partitioned on src once and persisted; per hop only the
    frontier side shuffles (the g16 BFS budget), and the final
    union+groupBy(max) shuffles at most |V| * depth narrow (long, int)
    rows. Returns DataFrame[node, level].
    """
    spark = edges.sparkSession
    e = (
        edges.select(
            F.col("src").cast("long").alias("src"),
            F.col("dst").cast("long").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .repartition(_shuffle_partitions(spark), "src")
        .persist()
    )
    # level-0 seed: edge endpoints PLUS any caller-supplied node universe
    # — a node with no arc at all (e.g. an isolated SCC in a
    # condensation) is a legitimate level-0 row that edge endpoints
    # alone would miss (ADVICE r10: the old derivation was fixture-lucky)
    base = e.select(F.col("src").alias("node")).union(
        e.select(F.col("dst").alias("node"))
    )
    if nodes is not None:
        base = base.union(
            nodes.select(F.col(nodes.columns[0]).cast("long").alias("node"))
        )
    frontier = (
        base.distinct()
        .select("node", F.lit(0).alias("d"))
        .localCheckpoint()
    )
    levels = [frontier]
    for hop in range(1, max_levels + 1):
        nxt = (
            e.join(frontier, e.src == frontier.node)
            .select(F.col("dst").alias("node"))
            .distinct()
            .select("node", F.lit(hop).alias("d"))
            .localCheckpoint(eager=False)
        )
        if nxt.count() == 0:
            break
        levels.append(nxt)
        frontier = nxt
    else:
        e.unpersist()
        raise ValueError(
            f"frontier still alive after {max_levels} hops: input has a "
            "cycle (or is deeper than max_levels) — not a DAG"
        )
    e.unpersist()
    out = levels[0]
    for lvl in levels[1:]:
        out = out.union(lvl)
    return out.groupBy("node").agg(F.max("d").cast("bigint").alias("level"))


@register(
    "g38_topo_levels",
    oracle=f"""
    WITH RECURSIVE {_SCC_SUB},
    cond AS MATERIALIZED (
        SELECT DISTINCT s1.scc_id AS src, s2.scc_id AS dst
        FROM f
        JOIN scc s1 ON s1.node = f.src
        JOIN scc s2 ON s2.node = f.dst
        WHERE s1.scc_id <> s2.scc_id
    ),
    cn AS MATERIALIZED (SELECT DISTINCT scc_id AS node FROM scc),
    walk(node, d) AS (
        SELECT node, 0 FROM cn
        UNION
        SELECT c.dst, w.d + 1 FROM walk w JOIN cond c ON c.src = w.node
    )
    SELECT node, CAST(max(d) AS BIGINT) AS level FROM walk GROUP BY node
    """,
    doc="Topological levels (longest-path layering) of the condensation "
    "DAG of the <400-node fixture subgraph: level(scc) = longest chain "
    "of components ending there, the web-structure analogue of a crawl "
    "tier / dependency schedule. Spark side reuses the memoized SCC "
    "fixture + g30's contraction, then a frontier fixpoint with a "
    "per-hop distinct and a cycle-raising hop budget; oracle walks the "
    "same DAG with a UNION-deduped recursive CTE and takes max(d). "
    "Rows are (node, d) pairs in both engines, so neither side "
    "enumerates the (exponential) path set.",
)
def g38_topo_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    scc = _scc_fixture(spark)
    cond = condensation(_hb_edges(spark), scc=scc)
    # pass the full component universe: an SCC with no inter-component
    # arc must still appear at level 0, matching the oracle's cn CTE
    return topological_levels(cond, nodes=scc.select("scc_id").distinct())


def _edge_weight_expr():
    """Deterministic positive integer edge weight, identical in both
    engines: 1 + (ascii of the first md5 hex char of "src-dst") mod 4,
    i.e. w in {1,2,3,4} as a pure function of the edge. ascii() of a
    single lowercase-hex char agrees across Spark and DuckDB, so no
    hex-to-integer parse is needed anywhere."""
    return (
        F.ascii(F.substring(F.md5(F.concat_ws("-", "src", "dst")), 1, 1)) % 4
        + 1
    ).cast("long")


def weighted_sssp(
    edges: DataFrame, source: int = 0, rounds: int = 16
) -> DataFrame:
    """Single-source shortest paths under deterministic positive integer
    edge weights — frontier-only Bellman-Ford: each round relaxes ONLY
    the edges out of nodes whose distance improved last round, and stops
    early once no distance improves. After k rounds every shortest path
    of <= k edges is final, so the result is exactly "min distance over
    paths of <= ``rounds`` edges" — the same quantity the unrolled
    oracle computes, converged or not.

    Scale: the edge table is hash-partitioned on src once and persisted;
    per round only the (shrinking) improved-frontier side shuffles into
    the join and a HashAggregate min collapses candidates per node
    map-side (fixed-width LongType distances). The dist table is
    rewritten via anti-join+union and localCheckpoint'ed so lineage
    stays O(1) per round. Returns DataFrame[node, dist] for nodes
    reachable within ``rounds`` edges.
    """
    spark = edges.sparkSession
    e = (
        edges.select(
            F.col("src").cast("long").alias("src"),
            F.col("dst").cast("long").alias("dst"),
        )
        .distinct()
        .withColumn("w", _edge_weight_expr())
        .repartition(_shuffle_partitions(spark), "src")
        .persist()
    )
    e.count()
    dist = spark.createDataFrame(
        [(source, 0)], "node long, dist long"
    ).localCheckpoint()
    frontier = dist
    for _ in range(rounds):
        cand = (
            e.join(frontier, e.src == frontier.node)
            .select(F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("nd"))
            .groupBy("node")
            .agg(F.min("nd").alias("nd"))
        )
        improved = (
            cand.join(dist, "node", "left")
            .filter(F.col("dist").isNull() | (F.col("nd") < F.col("dist")))
            .select("node", F.col("nd").alias("dist"))
            .localCheckpoint(eager=False)
        )
        if improved.count() == 0:
            break
        dist = (
            dist.join(improved, "node", "left_anti")
            .union(improved)
            .localCheckpoint()
        )
        frontier = improved
    e.unpersist()
    return dist


def _sssp_oracle_sql(twin: str, source: int, rounds: int) -> str:
    """Unrolled Bellman-Ford rounds (AS MATERIALIZED per the DuckDB
    multi-reference inlining gotcha). The weight expression mirrors
    _edge_weight_expr exactly — keep the two in lockstep."""
    blocks = [
        f"""
    e AS MATERIALIZED (
        SELECT src, dst,
               1 + ascii(substr(md5(CAST(src AS VARCHAR) || '-'
                   || CAST(dst AS VARCHAR)), 1, 1)) % 4 AS w
        FROM (SELECT DISTINCT src, unnest(adj) AS dst FROM {twin})
    ),
    d0 AS MATERIALIZED (SELECT {source} AS node, 0 AS dist)"""
    ]
    for i in range(1, rounds + 1):
        blocks.append(f"""
    d{i} AS MATERIALIZED (
        SELECT node, min(dist) AS dist FROM (
            SELECT node, dist FROM d{i - 1}
            UNION ALL
            SELECT e.dst AS node, d.dist + e.w AS dist
            FROM d{i - 1} d JOIN e ON e.src = d.node
        ) GROUP BY node
    )""")
    return (
        "WITH" + ",".join(blocks)
        + f"\n    SELECT node, CAST(dist AS BIGINT) AS dist FROM d{rounds}"
    )


@register(
    "g39_weighted_sssp",
    oracle=_sssp_oracle_sql(_T, 0, 16),
    doc="Single-source shortest paths from node 0 under deterministic "
    "md5-derived integer edge weights (w in 1..4) — frontier-only "
    "Bellman-Ford, 16 relaxation rounds with early stop; result = min "
    "distance over paths of <= 16 edges, exactly what the unrolled "
    "round-by-round SQL oracle computes, so parity holds converged or "
    "not. Per round only the improved frontier shuffles; all-integer "
    "distances, HashAggregate min.",
)
def g39_weighted_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    return weighted_sssp(edges_df(spark), source=0, rounds=16)


# ---------------------------------------------------------------------------
# g43: maximal independent set (deterministic Luby) — symmetry breaking
# ---------------------------------------------------------------------------

MIS_ROUNDS = 6  # fixture converges in 4 synchronous rounds (tested)


def maximal_independent_set(
    nodes: DataFrame, edges: DataFrame, rounds: int = MIS_ROUNDS
) -> DataFrame:
    """Deterministic Luby-style maximal independent set over the
    symmetrized graph, run for a FIXED number of synchronous rounds.

    Each node gets a fixed priority p(v) = md5('mis-' || v) (the repo's
    cross-engine tiebreak contract, as in g32/g33). Per round, every
    still-undecided node whose priority is a strict local minimum among
    its undecided neighbors joins the MIS simultaneously (a node with no
    undecided neighbor always joins — 'g' sentinel sorts above every hex
    digest); its undecided neighbors become removed. With fixed
    priorities the parallel schedule is fully deterministic — the same
    MIS the sequential greedy-by-priority would pick — so the unrolled
    round-by-round SQL oracle reproduces it exactly, converged or not
    (the classic Luby'86 symmetry-breaking primitive, md5-derandomized).

    Scale: per round one (edges ⋈ undecided) join + min-aggregation
    (HashAggregate — priorities are fixed-width strings in the GROUP
    key, only min(p) in the buffer) plus two anti joins, all keyed on
    node/dst; the static symmetrized edge table is hash-partitioned on
    dst and persisted so only the shrinking undecided set moves each
    round. Decided nodes leave the frontier immediately — total work is
    O(sum of per-round frontier degrees), the g16/g39 frontier
    discipline. Expected O(log n) rounds for md5 (i.e. random-like)
    priorities.

    Returns DataFrame[node, status, decided_round] with status 1 = in
    MIS, 2 = removed (has an MIS neighbor), 0 = undecided after
    ``rounds`` (absent once converged; tests assert convergence).
    """
    spark = nodes.sparkSession
    nshuf = _shuffle_partitions(spark)
    e0 = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    sym = (
        e0.union(
            e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .repartition(nshuf, "dst")
        .persist()
    )
    und = nodes.select(
        "node",
        F.md5(F.concat(F.lit("mis-"), F.col("node").cast("string"))).alias(
            "p"
        ),
    )
    decided: list[DataFrame] = []
    for i in range(1, rounds + 1):
        nbmin = (
            sym.join(
                und.select(
                    F.col("node").alias("_dn"), F.col("p").alias("_dp")
                ),
                sym.dst == F.col("_dn"),
            )
            .groupBy("src")
            .agg(F.min("_dp").alias("nbmin"))
        )
        # m feeds three consumers (removed-set, output, frontier update):
        # materialize, or the join subtree replays per consumer
        m = (
            und.join(nbmin, und.node == nbmin.src, "left")
            .filter(F.col("p") < F.coalesce(F.col("nbmin"), F.lit("g")))
            .select("node")
            .localCheckpoint()
        )
        rem = (
            sym.join(
                m.select(F.col("node").alias("_mn")), sym.src == F.col("_mn")
            )
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(und, "node", "left_semi")
            .join(m, "node", "left_anti")
            .localCheckpoint()
        )
        decided.append(
            m.select(
                "node",
                F.lit(1).alias("status"),
                F.lit(i).alias("decided_round"),
            )
        )
        decided.append(
            rem.select(
                "node",
                F.lit(2).alias("status"),
                F.lit(i).alias("decided_round"),
            )
        )
        und = (
            und.join(m, "node", "left_anti")
            .join(rem, "node", "left_anti")
            .localCheckpoint()
        )
    out = decided[0]
    for d in decided[1:]:
        out = out.unionAll(d)
    out = out.unionAll(
        und.select(
            "node", F.lit(0).alias("status"), F.lit(0).alias("decided_round")
        )
    )
    sym.unpersist()
    return out


def _mis_oracle_sql(twin: str, rounds: int = MIS_ROUNDS) -> str:
    """Unrolled-CTE oracle for g43: the same synchronous schedule round
    by round (AS MATERIALIZED per block — DuckDB inlines multi-referenced
    CTEs, which would make the unrolled fixpoint exponential)."""
    blocks = [
        f"""
    e0 AS MATERIALIZED (SELECT src, unnest(adj) AS dst FROM {twin}),
    sym AS MATERIALIZED (SELECT src, dst FROM e0 WHERE src <> dst
            UNION SELECT dst, src FROM e0 WHERE src <> dst),
    u0 AS MATERIALIZED (SELECT src AS node,
            md5('mis-' || CAST(src AS VARCHAR)) AS p FROM {twin})"""
    ]
    for i in range(1, rounds + 1):
        blocks.append(
            f"""
    nb{i} AS MATERIALIZED (SELECT s.src AS node, min(u.p) AS nbmin
            FROM sym s JOIN u{i - 1} u ON u.node = s.dst GROUP BY s.src),
    m{i} AS MATERIALIZED (SELECT u.node FROM u{i - 1} u
            LEFT JOIN nb{i} b ON b.node = u.node
            WHERE u.p < coalesce(b.nbmin, 'g')),
    r{i} AS MATERIALIZED (SELECT DISTINCT s.dst AS node
            FROM sym s JOIN m{i} m ON m.node = s.src
            JOIN u{i - 1} u ON u.node = s.dst
            WHERE s.dst NOT IN (SELECT node FROM m{i})),
    u{i} AS MATERIALIZED (SELECT u.node, u.p FROM u{i - 1} u
            WHERE u.node NOT IN (SELECT node FROM m{i})
              AND u.node NOT IN (SELECT node FROM r{i}))"""
        )
    parts = []
    for i in range(1, rounds + 1):
        parts.append(
            f"SELECT node, CAST(1 AS INTEGER) AS status,"
            f" CAST({i} AS INTEGER) AS decided_round FROM m{i}"
        )
        parts.append(
            f"SELECT node, CAST(2 AS INTEGER),"
            f" CAST({i} AS INTEGER) FROM r{i}"
        )
    parts.append(
        f"SELECT node, CAST(0 AS INTEGER), CAST(0 AS INTEGER) FROM u{rounds}"
    )
    return "WITH" + ",".join(blocks) + "\n    " + "\n    UNION ALL ".join(parts)


@register(
    "g43_maximal_independent_set",
    oracle=_mis_oracle_sql(_T),
    doc="Maximal independent set via derandomized Luby symmetry breaking "
    "(fixed md5 priorities, 6 synchronous rounds; the fixture converges "
    "in 4 — asserted in tests, with independence and maximality "
    "invariants). Emits (node, status, decided_round). Oracle = the "
    "identical schedule unrolled into materialized CTE blocks.",
)
def g43_maximal_independent_set(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    g = graph_df(spark)
    nodes = g.select(F.col("src").alias("node"))
    edges = g.select("src", F.explode("adj").alias("dst"))
    return maximal_independent_set(nodes, edges, rounds=MIS_ROUNDS)
