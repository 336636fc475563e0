"""Streaming graph ingestion: continuously land new edges and maintain
node degrees incrementally — the crawl-frontier shape of the reference's
ecosystem (a webgraph is built from a stream of crawled pages before it
is ever encoded into the BVGraph triples the reference reads,
HdfsBVGraph.java:31 / WebGraphInputFormat.java lineage) expressed as
Structured Streaming + the repo's replay-safe foreachBatch patterns
(functions/dedup.py::_dedup_one_batch is the template).
:func:`materialize_bvgraph` closes that loop: log -> compressed triple
-> the reference-equivalent source.

Per micro-batch: (1) within-batch duplicates collapse, (2) edges already
in the log are anti-joined away (the log IS the digest set — only
(src, dst) pairs shuffle, never payloads), (3) surviving edges land in a
``batch_id=N`` partition of the edge log and their degree CONTRIBUTIONS
(out/in counts per node) land in a ``batch_id=N`` partition of the delta
log. Both writes overwrite their own partition, so checkpoint replay
REPLACES partial output instead of appending duplicates, and the
snapshot read excludes the in-flight batch (crash-after-first-write
replay safety, same argument as the dedup stream).

Reading degrees is one partial-agg'd sum over the deltas — O(batches)
small files until folded; at 100 TB the delta log is the only thing a
degree query touches, never the edge log.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_EDGE_SCHEMA = "src bigint, dst bigint"


def _ingest_one_batch(
    batch_df: DataFrame, batch_id: int, edges_dir: str, deltas_dir: str
) -> None:
    """One micro-batch (module-level so replay semantics are
    unit-testable, like _dedup_one_batch). Idempotent under replay:
    both writes target ``batch_id=<id>`` partitions with overwrite; the
    edge-log read excludes the in-flight batch so a crash between the
    two writes cannot anti-join the batch against itself."""
    b = (
        batch_df.select(
            F.col("src").cast("long").alias("src"),
            F.col("dst").cast("long").alias("dst"),
        )
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .dropDuplicates(["src", "dst"])
    )
    spark_l = b.sparkSession
    from pyspark.errors import AnalysisException

    prev = None
    try:
        prev = (
            spark_l.read.parquet(edges_dir)
            .filter(F.col("batch_id") != F.lit(batch_id))
            .select("src", "dst")
        )
        prev.schema  # force analysis so a missing path raises HERE
    except AnalysisException as exc:
        get_cls = getattr(exc, "getCondition", None) or exc.getErrorClass
        cls = get_cls() or str(exc)
        if "PATH_NOT_FOUND" in cls or "UNABLE_TO_INFER_SCHEMA" in cls:
            prev = None  # first batch ever
        else:
            raise
    fresh = b if prev is None else b.join(prev, ["src", "dst"], "left_anti")
    fresh.persist()
    try:
        fresh.write.mode("overwrite").parquet(
            os.path.join(edges_dir, f"batch_id={batch_id}")
        )
        outd = fresh.groupBy(F.col("src").alias("node")).agg(
            F.count(F.lit(1)).alias("d_out")
        )
        ind = fresh.groupBy(F.col("dst").alias("node")).agg(
            F.count(F.lit(1)).alias("d_in")
        )
        deltas = (
            outd.join(ind, "node", "full_outer")
            .select(
                "node",
                F.coalesce("d_out", F.lit(0)).cast("long").alias("d_out"),
                F.coalesce("d_in", F.lit(0)).cast("long").alias("d_in"),
            )
        )
        deltas.write.mode("overwrite").parquet(
            os.path.join(deltas_dir, f"batch_id={batch_id}")
        )
    finally:
        fresh.unpersist()


def edge_ingest_stream(
    spark: SparkSession,
    incoming_dir: str,
    edges_dir: str,
    deltas_dir: str,
    checkpoint_dir: str,
    schema: str = DEFAULT_EDGE_SCHEMA,
):
    """Start an availableNow stream over ``incoming_dir`` (parquet edge
    files) feeding :func:`_ingest_one_batch`. The schema is DECLARED,
    never inferred, and a missing LOCAL watch dir is created, so a
    stream started before the producer's first write starts cleanly
    (BOTH halves of the partitioned_ingest_stream lesson: the file
    stream source refuses a missing path even with a schema). Returns
    the started StreamingQuery; callers ``awaitTermination()``."""
    if "://" not in incoming_dir:
        os.makedirs(incoming_dir, exist_ok=True)
    src = (
        spark.readStream.schema(schema)
        .parquet(incoming_dir)
    )
    return (
        src.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(
            lambda df, bid: _ingest_one_batch(df, bid, edges_dir, deltas_dir)
        )
        .start()
    )


def read_degrees(spark: SparkSession, deltas_dir: str) -> DataFrame:
    """Current degree snapshot: one partial-agg'd sum over the delta
    log. Returns DataFrame[node, out_degree, in_degree]."""
    return (
        spark.read.parquet(deltas_dir)
        .groupBy("node")
        .agg(
            F.sum("d_out").alias("out_degree"),
            F.sum("d_in").alias("in_degree"),
        )
    )


def materialize_bvgraph(
    spark: SparkSession, edges_dir: str, dst_basename: str, **props_kw
):
    """Materialize the streamed edge log as a compressed BVGraph triple
    — the ingest-to-queryable handoff: after a crawl window, fold the
    accumulated ``batch_id=*`` edge partitions into the dense sorted
    adjacency the whole graph stack (source, algorithms, transforms)
    runs on. Node count = max endpoint + 1 (dense ids are the producer's
    contract, as with the sink generally). One groupBy rebuild + the
    executor-parallel sink; run under the maintenance-window
    contract (stream stopped), like snapshot compaction.

    Note on degree-delta folding: deltas are SUMS, so the digest
    compaction's crash-superset argument does NOT transfer (a partially
    installed fold would double-count). Degrees are always exactly
    derivable from the edge log; fold by recomputing from it in a
    maintenance window rather than merging delta partitions in place.
    """
    from ..bvgraph.transform import _write_dense

    edges = spark.read.parquet(edges_dir).select("src", "dst")
    hi = edges.agg(
        F.greatest(F.max("src"), F.max("dst")).alias("hi")
    ).collect()[0]["hi"]
    if hi is None:
        raise ValueError(f"edge log at {edges_dir} is empty")
    return _write_dense(edges, int(hi) + 1, dst_basename, **props_kw)
