"""The engine's process-level surface: the environment variables it reads
and the scratch dirs its write-then-read queries leave behind."""

from __future__ import annotations

import ast
import os
import pathlib
import subprocess
import sys

_REPO = pathlib.Path(__file__).resolve().parent.parent

# Every SPARK_* environment variable the engine package reads. A new knob
# has to be added here on purpose.
ENGINE_KNOBS = {
    "SPARK_DRIVER_MEM",
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_WAREHOUSE",
    "SPARK_GRAFT_GRAPH_BASENAME",
    "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_EMB_DEDUP_THRESHOLD",
    "SPARK_GRAFT_INDEX_DIR",
}


def test_engine_reads_exactly_the_known_env_knobs():
    found = set()
    for path in (_REPO / "hadoopwebgraph_spark").rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and node.value.startswith("SPARK_")
            ):
                found.add(node.value)
    assert found == ENGINE_KNOBS


_SCRATCH_SCRIPT = """
import os
from hadoopwebgraph_spark.queries.graph import _scratch_dir

d = _scratch_dir("scratch_probe")
open(os.path.join(d, "stale"), "w").close()
assert _scratch_dir("scratch_probe") == d
assert os.listdir(d) == []
open(os.path.join(d, "graph.properties"), "w").close()
print(d)
"""


def test_scratch_dir_is_wiped_per_call_and_removed_at_exit(tmp_path):
    env = dict(os.environ, TMPDIR=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", _SCRATCH_SCRIPT],
        cwd=_REPO,
        env=env,
        capture_output=True,
        text=True,
        check=True,
    )
    scratch = out.stdout.strip().splitlines()[-1]
    assert os.path.dirname(scratch) == str(tmp_path)
    assert os.path.basename(scratch).startswith("hwg_scratch_probe.")
    assert not os.path.exists(scratch)
    assert list(tmp_path.iterdir()) == []
