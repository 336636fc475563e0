"""SparkSession factory tuned for the driver's local[32] harness while
remaining cluster-correct (every setting below is what you would also set
on a 1000-executor cluster, except shuffle partitions which scale with
cluster cores)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Half the host's physical memory, capped at 24g: a local-mode
    driver heap must leave room for the Python workers and the OS."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    return f"{min(half_mb, 24 << 10)}m"


def get_spark(app_name: str = "hadoopwebgraph_spark") -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
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
    # Measurement-session heap hygiene (r18, guide §5): commit + touch
    # the whole driver heap ONCE at startup instead of expanding it
    # lazily under query allocation pressure. Measured mechanism: after
    # an allocation-heavy block (the bench's 48M-arc gXL entries) the G1
    # heap EXPANDS during later queries and the page-commit cost lands
    # on their task threads — q62's steady-state degraded 0.8s -> 5.5s
    # across successive runs with ~1.2M minor faults/run and RSS growing
    # 5 -> 13 GB, at 0% hypervisor steal; with Xms=Xmx + AlwaysPreTouch
    # the same sequence is flat at 0.8-1.0s and ~3k faults/run. Opt-in
    # via env (bench.py / profile_one set it through benchlib) because
    # the ~15s pretouch of a 24g heap is wasteful for short-lived test
    # sessions; on a production cluster the equivalent executor-side
    # setting (Xms=Xmx, AlwaysPreTouch) is standard for dedicated nodes.
    if os.environ.get("SPARK_GRAFT_PRETOUCH", "") == "1":
        builder = builder.config(
            "spark.driver.extraJavaOptions",
            f"-Xms{driver_mem} -XX:+AlwaysPreTouch",
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Register the custom BVGraph source (and its filter pushdown) on
    # every session so spark.read.format("bvgraph") works out of the box.
    from .bvgraph.datasource import register as _register_bvgraph

    _register_bvgraph(spark)
    return spark
