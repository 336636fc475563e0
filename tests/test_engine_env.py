"""The engine's process-level surface: the environment variables it reads,
the scratch dirs its write-then-read queries leave behind, the import-cache
hook it installs in every Python process, and the driver JVM's collector."""

from __future__ import annotations

import ast
import os
import pathlib
import subprocess
import sys
import zipfile

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


_ZIP_SCRIPT = """
import importlib, sys, zipimport

sys.path.insert(0, sys.argv[1])
import zmod_a
import hadoopwebgraph_spark

reads = []
_read_directory = zipimport._read_directory


def counting(archive):
    reads.append(archive)
    return _read_directory(archive)


zipimport._read_directory = counting
importlib.invalidate_caches()
assert reads == [], reads
cached = sys.path_importer_cache.values()
assert not any(isinstance(f, zipimport.zipimporter) for f in cached)
import zmod_b
assert (zmod_a.VALUE, zmod_b.VALUE) == (1, 2)
assert reads == [], reads

for name in [m for m in sys.modules if m.startswith("hadoopwebgraph_spark")]:
    del sys.modules[name]
import hadoopwebgraph_spark
hooks = [f for f in sys.meta_path if type(f).__name__ == "KeepZipListings"]
assert len(hooks) == 1 and sys.meta_path[0] is hooks[0], sys.meta_path
print("ok")
"""


def test_invalidate_caches_does_not_reread_zip_archives(tmp_path):
    """Spark's worker calls importlib.invalidate_caches() on every task;
    once the engine is imported, that must not re-read a zip on sys.path,
    and the zip's other modules must still import."""
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zmod_a.py", "VALUE = 1\n")
        z.writestr("zmod_b.py", "VALUE = 2\n")
    out = subprocess.run(
        [sys.executable, "-c", _ZIP_SCRIPT, str(archive)],
        cwd=_REPO,
        capture_output=True,
        text=True,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"


def test_reused_workers_keep_zip_listings(spark):
    """A task in a worker that has imported the engine starts with no
    zipimporter left to re-read; the driver JVM runs the serial GC."""
    import pyarrow as pa

    def probe(batches):
        import sys
        import zipimport

        had_hook = any(type(f).__name__ == "KeepZipListings" for f in sys.meta_path)
        cached = sys.path_importer_cache.values()
        zips = sum(isinstance(f, zipimport.zipimporter) for f in cached)
        import hadoopwebgraph_spark  # noqa: F401

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"had_hook": [had_hook], "zips": [zips]}
        )

    df = spark.range(0, 8, 1, 8).mapInArrow(probe, "had_hook boolean, zips long")
    df.collect()
    rows = df.collect()
    hooked = [r for r in rows if r.had_hook]
    assert hooked, rows
    assert [r.zips for r in hooked] == [0] * len(hooked), rows

    jvm = spark.sparkContext._jvm
    args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
    assert "-XX:+UseSerialGC" in args, args
