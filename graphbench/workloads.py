"""The workloads. Each is a closed loop: one client (the benchmark
process) sends its next operation only after the previous one returned.
``warmup`` runs the untimed operations that end every set-up. In a fresh
JVM an operation's first runs are several times slower than later ones
(JIT and code generation), and with fewer than four warm-up operations
per set-up the run-to-run spread of ``op_p50_s`` on ``scan`` was 0.24
of its median instead of 0.07.

An operation's ``run`` is the timed part; its ``check`` runs afterwards,
untimed, against the generator's CSR. ``work`` is the number of arcs an
operation moves, for the ``arcs_per_s`` metric.
"""

from __future__ import annotations

import os

import checks
import fixture

POINT_IDS = 16  # ids per point lookup (one frontier expansion)
RANGE_NODES = 1000  # nodes per range lookup (one site's pages)


def _graph(spark, fx, splits_per_core: int = 4):
    from hadoopwebgraph_spark.bvgraph.datasource import read_bvgraph

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    return read_bvgraph(spark, fx.basename, num_splits=splits_per_core * cores)


class Scan:
    """Full-graph scans alternating the README's ``numEdges`` reduction
    with a degree histogram: planning, ranged reads, the decode kernel
    and the Arrow hand-off to the JVM do the work; the encoder does none."""

    name = "scan"
    trace_block = 2  # traced and untraced halves both get each request type

    def __init__(self, fx, rng, work_dir):
        self.fx = fx

    def requests(self):
        i = 0
        while True:
            yield "num_edges" if i % 2 == 0 else "histogram"
            i += 1

    def warmup(self, spark):
        for req in ("num_edges", "histogram", "num_edges", "histogram"):
            self.run(spark, req)

    def run(self, spark, req):
        from pyspark.sql import functions as F

        df = _graph(spark, self.fx)
        if req == "num_edges":
            r = df.agg(
                F.sum(F.size("adj")).alias("arcs"),
                F.sum(F.col("src").cast("long") * F.size("adj")).alias("weighted"),
            ).collect()[0]
            return int(r["arcs"]), int(r["weighted"])
        rows = df.groupBy(F.size("adj").alias("d")).count().collect()
        return {int(r["d"]): int(r["count"]) for r in rows}

    def check(self, req, out) -> bool:
        if req == "num_edges":
            return checks.check_num_edges(self.fx, *out)
        return checks.check_histogram(self.fx, out)

    def work(self, req, out) -> int:
        return self.fx.arcs

    def rows_returned(self, req, out) -> int:
        return self.fx.nodes


class Lookup:
    """Selective reads: each operation is one client step, a ``point``
    request (``src IN`` POINT_IDS uniform ids, a frontier expansion)
    followed by a ``range`` request (RANGE_NODES contiguous ids: BVGraph
    ids follow URL order, so a range is one site's pages). The planner,
    partition pruning and per-query fixed cost dominate."""

    name = "lookup"
    trace_block = 1

    def __init__(self, fx, rng, work_dir):
        self.fx = fx
        self.rng = rng

    def requests(self):
        n = self.fx.nodes
        while True:
            ids = sorted(set(int(i) for i in self.rng.integers(0, n, POINT_IDS)))
            lo = int(self.rng.integers(0, n - RANGE_NODES + 1))
            yield ids, lo

    def warmup(self, spark):
        for i in range(2):
            self.run(spark, ([i], i * RANGE_NODES))

    def run(self, spark, req):
        from pyspark.sql import functions as F

        ids, lo = req
        df = _graph(spark, self.fx)
        point = df.where(F.col("src").isin(ids)).collect()
        rng = df.where(
            (F.col("src") >= lo) & (F.col("src") < lo + RANGE_NODES)
        ).collect()
        return {
            "point": [(r["src"], r["adj"]) for r in point],
            "range": [(r["src"], r["adj"]) for r in rng],
        }

    def check(self, req, out) -> bool:
        ids, lo = req
        return checks.check_rows(self.fx, ids, out["point"]) and checks.check_rows(
            self.fx, range(lo, lo + RANGE_NODES), out["range"]
        )

    def work(self, req, out) -> int:
        return sum(len(adj) for _, adj in out["point"] + out["range"])

    def rows_returned(self, req, out) -> int:
        return len(out["point"]) + len(out["range"])


class Ingest:
    """``write_bvgraph`` from a Parquet adjacency table: the shuffle path
    that builds a BVGraph from crawled data. The encode kernel, segment
    spill and compose do the work; the decode kernel does none."""

    name = "ingest"
    trace_block = 1

    def __init__(self, fx, rng, work_dir):
        self.fx = fx
        self.out_dir = os.path.join(work_dir, "ingest")
        os.makedirs(self.out_dir, exist_ok=True)
        self.last = None

    def requests(self):
        i = 0
        while True:
            yield os.path.join(self.out_dir, f"out{i % 2}")
            i += 1

    def warmup(self, spark):
        for _ in range(4):
            self.run(spark, os.path.join(self.out_dir, "warmup"))

    def run(self, spark, basename):
        from hadoopwebgraph_spark.bvgraph import sink

        sink.write_bvgraph(spark.read.parquet(self.fx.parquet), basename)
        self.last = basename
        return basename

    def check(self, req, out) -> bool:
        return checks.check_written_graph(self.fx, out)

    def work(self, req, out) -> int:
        return self.fx.arcs

    def rows_returned(self, req, out) -> int:
        return 0  # reads Parquet, not the BVGraph source

    def bits_per_arc(self) -> float:
        size = os.path.getsize(self.last + ".graph") + os.path.getsize(
            self.last + ".offsets"
        )
        return 8.0 * size / self.fx.arcs


class PageRank:
    """``graph_algos.pagerank`` for PAGERANK_ITERATIONS iterations over the
    ``explode(adj)`` edges of the BVGraph source, with the full node set
    passed in. Joins, shuffles and ``localCheckpoint`` dominate; the graph
    is decoded about once."""

    name = "pagerank"
    trace_block = 1

    def __init__(self, fx, rng, work_dir):
        self.fx = fx

    def requests(self):
        while True:
            yield fixture.PAGERANK_ITERATIONS

    def warmup(self, spark):
        self.run(spark, 1)  # one iteration compiles the per-iteration plans

    def run(self, spark, iterations):
        from pyspark.sql import functions as F

        from hadoopwebgraph_spark.queries import graph_algos

        # one split per core: the graph is decoded about once and the
        # iterations' joins, not the scan, set the task count
        df = _graph(spark, self.fx, splits_per_core=1)
        ranks = graph_algos.pagerank(
            df.select("src", F.explode("adj").alias("dst")),
            n_nodes=self.fx.nodes,
            damping=fixture.DAMPING,
            iterations=iterations,
            nodes=df.select(F.col("src").alias("node")),
        ).toPandas()
        return ranks["node"].to_numpy(), ranks["rank"].to_numpy()

    def check(self, req, out) -> bool:
        return checks.check_pagerank(self.fx, *out)

    def work(self, req, out) -> int:
        return self.fx.arcs * req

    def rows_returned(self, req, out) -> int:
        return len(out[0])


WORKLOADS = {w.name: w for w in (Scan, Lookup, Ingest, PageRank)}
