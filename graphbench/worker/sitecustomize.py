"""Installs the benchmark's layer tracing in every Python process Spark
starts (workers and data-source planners). Only traced runs put this
directory on PYTHONPATH; GRAPHBENCH_TRACE_DIR names where spans go."""

import os
import sys

_trace_dir = os.environ.get("GRAPHBENCH_TRACE_DIR")
if _trace_dir:
    sys.path.append(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import tracing

    tracing.install(_trace_dir)
