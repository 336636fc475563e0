"""SparkSession factory: a local session sized to the host (one task slot
per core, unless $SPARK_GRAFT_CPUS says otherwise) while remaining
cluster-correct (every setting below is what you would also set on a
1000-executor cluster, except shuffle partitions which scale with cluster
cores, and the driver's serial collector, which suits a local driver whose
heap is a few hundred MB)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Half the host's physical memory, capped at 24g: a local-mode
    driver heap must leave room for the Python workers and the OS."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    return f"{min(half_mb, 24 << 10)}m"


def get_spark(app_name: str = "hadoopwebgraph_spark") -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    driver_mem = os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # AQE re-plans at runtime: coalesces tiny shuffle partitions,
        # switches SMJ->broadcast when a side turns out small, splits skew.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # local mode: shuffle width ~ cores; a real cluster would use
        # ~2-3x total cores or rely on AQE initialPartitionNum.
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        # Serial GC: G1 grows the committed heap with the allocation rate,
        # so a fast scan loop raised the driver's peak RSS (graphbench
        # scan, 4-core host: 956 MB with G1, 731 MB with Serial, at the
        # same operation time). spark-submit puts --driver-java-options
        # after this default, so they still apply.
        .config("spark.driver.defaultJavaOptions", "-XX:+UseSerialGC")
        .config("spark.ui.enabled", "false")
        # bucketed-table demos (saveAsTable/bucketBy) write here
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/hwg_warehouse"),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # events.parquet stores ts as TIMESTAMP(NANOS), which Spark's reader
        # rejects; read it as raw nanos (long) and let catalog.load_events
        # convert to a microsecond timestamp.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Register the custom BVGraph source (and its filter pushdown) on
    # every session so spark.read.format("bvgraph") works out of the box.
    from .bvgraph.datasource import register as _register_bvgraph

    _register_bvgraph(spark)
    return spark
