#!/usr/bin/env python3
"""Graph-engine benchmark: one workload per invocation, in a fresh Spark
session, against a graph generated from ``--seed``.

    python3 graphbench/run.py --workload scan --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). See graphbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shlex
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".graphbench")
SETUPS = 2  # session set-ups per run; setup_s is their median
KEEP_FIXTURES = 4  # cached seeds kept on disk

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "op_p50_s": "s",
    "arcs_per_s": "arcs/s",
    "bits_per_arc": "bits/arc",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "datasource.push_filters_s": "s",
    "datasource.partitions_s": "s",
    "datasource.partitions_calls": "count",
    "datasource.partitions_planned": "count",
    "datasource.partitions_read": "count",
    "datasource.offsets_fold_s": "s",
    "datasource.offsets_fold_calls": "count",
    "datasource.read_s": "s",
    "datasource.read_calls": "count",
    "datasource.rows_decoded": "count",
    "datasource.rows_returned": "count",
    "io.read_s": "s",
    "io.bytes_read": "bytes",
    "io.bytes_read_per_arc": "bytes/arc",
    "native.decode_s": "s",
    "native.decode_arcs": "count",
    "native.decode_arcs_per_s": "arcs/s",
    "native.decode_fallbacks": "count",
    "native.encode_s": "s",
    "native.encode_arcs": "count",
    "native.encode_arcs_per_s": "arcs/s",
    "native.encode_fallbacks": "count",
    "storage.put_s": "s",
    "storage.put_bytes": "bytes",
    "storage.get_s": "s",
    "storage.get_bytes": "bytes",
    "sink.write_s": "s",
    "sink.compose_s": "s",
    "sink.write_amplification": "ratio",
    "graph_algos.pagerank_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.scheduler_delay_s": "s",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "trace.op_p50_s": "s",
    "trace.overhead_share": "ratio",
    "trace.layer_self_s": "s",
    "trace.residual_core_s": "s",
}


def host_env(run_dir: str, trace: bool) -> dict:
    """Fit the session to this host and keep every file it writes inside
    the checkout. Must run before pyspark starts a JVM."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(x for x in f if x.startswith("MemTotal")).split()[1])
    driver_gb = 2 if mem_kb >= 8 << 20 else 1
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{driver_gb}g",
        "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + ([os.path.join(HERE, "worker")] if trace else [])
        ),
    }
    submit = [
        "--driver-java-options",
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "--conf",
        "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        submit += [
            "--conf",
            "spark.eventLog.enabled=true",
            "--conf",
            f"spark.eventLog.dir=file://{log_dir}",
            "--conf",
            "spark.eventLog.compress=false",
        ]
        env["GRAPHBENCH_TRACE_DIR"] = os.path.join(run_dir, "trace")
        os.makedirs(env["GRAPHBENCH_TRACE_DIR"], exist_ok=True)
    env["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])
    os.environ.pop("SPARK_GRAFT_PRETOUCH", None)
    os.environ.update(env)
    return env


def start_session(wl):
    """get_spark() plus the workload's untimed warm-up operations. Returns
    (spark, set-up seconds, get_spark seconds)."""
    from hadoopwebgraph_spark import session

    t0 = time.perf_counter()
    spark = session.get_spark("graphbench")
    t1 = time.perf_counter()
    wl.warmup(spark)
    return spark, time.perf_counter() - t0, t1 - t0


def stop_jvm() -> None:
    """Stop the Spark session, then the JVM it ran in, and wait for it."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this process."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = int(next(x for x in f if x.startswith("VmHWM")).split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def measure(spark, wl, requests, seconds: float, trace: bool) -> dict:
    """Closed loop until ``seconds`` of operation time are spent. In a
    traced run operations alternate in blocks of ``wl.trace_block``
    between untraced and traced, so both halves see the same request mix
    and session age, and each half gets at least one block."""
    import tracing

    block = wl.trace_block
    ops = {"untraced": [], "traced": []}
    windows = []
    attempted = failed = 0
    spent = 0.0
    while spent < seconds or (trace and attempted < 2 * block):
        req = next(requests)
        traced = trace and (attempted // block) % 2 == 1
        tracing.set_recording(traced)
        attempted += 1
        w0 = time.time()
        t0 = time.perf_counter()
        try:
            out = wl.run(spark, req)
        except Exception:  # a failed operation: report it, keep measuring
            traceback.print_exc()
            out = None
        dt = time.perf_counter() - t0
        w1 = time.time()
        tracing.set_recording(False)
        spent += dt
        if out is None or not wl.check(req, out):
            failed += 1
            print(f"graphbench: operation {attempted} failed", file=sys.stderr)
            continue
        if traced:
            windows.append((w0, w1))
        ops["traced" if traced else "untraced"].append(
            {
                "s": dt,
                "arcs_per_s": wl.work(req, out) / dt,
                "rows_returned": wl.rows_returned(req, out),
            }
        )
    return {"ops": ops, "windows": windows, "attempted": attempted, "failed": failed}


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def end_to_end(fx, wl, setups, rss, ops) -> dict:
    bits = wl.bits_per_arc() if hasattr(wl, "bits_per_arc") else fx.bits_per_arc()
    return {
        "setup_s": _median(s for s, _ in setups),
        "peak_rss_mb": rss,
        "op_p50_s": _median(o["s"] for o in ops),
        "arcs_per_s": _median(o["arcs_per_s"] for o in ops),
        "bits_per_arc": bits,
    }


def per_layer(agg, engine, setups, ops, cpus) -> dict:
    traced, untraced = ops["traced"], ops["untraced"]
    n = max(1, len(traced))

    def get(name, key="self"):
        return agg.get(name, {}).get(key, 0) / n

    def ratio(a, b):
        return a / b if b else 0.0

    op_traced = _median(o["s"] for o in traced)
    op_untraced = _median(o["s"] for o in untraced)
    layer_self = sum(a["self"] for a in agg.values()) / n
    m = {
        "session.get_spark_s": _median(g for _, g in setups),
        "datasource.push_filters_s": get("datasource.push_filters"),
        "datasource.partitions_s": get("datasource.partitions"),
        "datasource.partitions_calls": get("datasource.partitions", "calls"),
        "datasource.partitions_planned": get("datasource.partitions", "planned"),
        "datasource.partitions_read": get("datasource.read", "nonempty"),
        "datasource.offsets_fold_s": get("datasource.offsets_fold"),
        "datasource.offsets_fold_calls": get("datasource.offsets_fold", "calls"),
        "datasource.read_s": get("datasource.read"),
        "datasource.read_calls": get("datasource.read", "calls"),
        "datasource.rows_decoded": get("datasource.read", "rows"),
        "datasource.rows_returned": sum(o["rows_returned"] for o in traced) / n,
        "io.read_s": get("io.read"),
        "io.bytes_read": get("io.read", "bytes"),
        "io.bytes_read_per_arc": ratio(
            get("io.read", "bytes"), get("native.decode", "arcs")
        ),
        "native.decode_s": get("native.decode"),
        "native.decode_arcs": get("native.decode", "arcs"),
        "native.decode_arcs_per_s": ratio(
            get("native.decode", "arcs"), get("native.decode")
        ),
        "native.decode_fallbacks": get("native.decode", "fallback"),
        "native.encode_s": get("native.encode"),
        "native.encode_arcs": get("native.encode", "arcs"),
        "native.encode_arcs_per_s": ratio(
            get("native.encode", "arcs"), get("native.encode")
        ),
        "native.encode_fallbacks": get("native.encode", "fallback"),
        "storage.put_s": get("storage.put"),
        "storage.put_bytes": get("storage.put", "bytes"),
        "storage.get_s": get("storage.get"),
        "storage.get_bytes": get("storage.get", "bytes"),
        "sink.write_s": get("sink.write_bvgraph"),
        "sink.compose_s": get("sink.compose"),
        "sink.write_amplification": ratio(
            get("storage.put", "bytes"), get("sink.write_bvgraph", "final_bytes")
        ),
        "graph_algos.pagerank_s": get("graph_algos.pagerank"),
        "trace.op_p50_s": op_traced,
        "trace.overhead_share": ratio(op_traced - op_untraced, op_untraced),
        "trace.layer_self_s": layer_self,
        "trace.residual_core_s": cpus * sum(o["s"] for o in traced) / n - layer_self,
    }
    for k, v in engine.items():
        m[k] = v / n
    return m


def prune_fixtures(cache: str, keep: str) -> None:
    dirs = [
        os.path.join(cache, d)
        for d in os.listdir(cache)
        if os.path.join(cache, d) != keep
    ]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for d in dirs[KEEP_FIXTURES - 1 :]:
        shutil.rmtree(d, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "hadoopwebgraph_spark")):
        print(
            "graphbench: no hadoopwebgraph_spark package next to graphbench/; "
            "run from the root of a checkout",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    import numpy as np

    import fixture
    import sparklog
    import tracing
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"graphbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    trace = bool(args.trace)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        env = host_env(run_dir, trace)
        print("graphbench env: " + json.dumps(env, sort_keys=True))
        cache = os.path.join(WORK, "fixtures")
        os.makedirs(cache, exist_ok=True)
        fx = fixture.ensure(args.seed, ROOT, cache)
        prune_fixtures(cache, os.path.dirname(fx.basename))

        rng = np.random.default_rng([args.seed, 1])
        wl = WORKLOADS[args.workload](fx, rng, run_dir)
        if trace:
            tracing.install(env["GRAPHBENCH_TRACE_DIR"])

        setups = []
        spark = None
        for i in range(SETUPS):
            if spark is not None:
                spark.stop()  # the next set-up builds a fresh SparkContext
            spark, setup_s, get_spark_s = start_session(wl)
            setups.append((setup_s, get_spark_s))

        run = measure(spark, wl, wl.requests(), args.seconds, trace)
        rss = peak_rss_mb(spark)
        app_id = spark.sparkContext.applicationId
        stop_jvm()

        ops = run["ops"]
        if trace:
            agg = tracing.merge(env["GRAPHBENCH_TRACE_DIR"], run["windows"])
            engine = sparklog.engine_metrics(
                sparklog.find_log(os.path.join(run_dir, "eventlog"), app_id),
                run["windows"],
            )
            values = per_layer(agg, engine, setups, ops, int(env["SPARK_GRAFT_CPUS"]))
            units = PER_LAYER
        else:
            values = end_to_end(fx, wl, setups, rss, ops["untraced"])
            units = END_TO_END
        print(
            f"graphbench {args.workload}: {run['attempted']} operations, "
            f"{run['failed']} failed; set-ups "
            + ", ".join(f"{s:.2f}s (get_spark {g:.2f}s)" for s, g in setups)
            + "; operations "
            + ", ".join(f"{o['s']:.2f}s" for o in ops["untraced"] + ops["traced"])
        )
        print(
            json.dumps(
                {
                    "correct": run["failed"] == 0,
                    "attempted": run["attempted"],
                    "failed": run["failed"],
                    "metrics": {
                        k: {"value": values[k], "unit": u} for k, u in units.items()
                    },
                }
            )
        )
        return 0
    finally:
        stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
