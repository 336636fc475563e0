"""Keeps a zip archive's directory listing read once per process.

Spark's Python worker calls ``importlib.invalidate_caches()`` at the start
of every task (``pyspark.worker_util.setup_spark_files``), so that files
added with ``addPyFile`` become importable. On Python 3.11 that call is
eager for zip archives: ``PathFinder.invalidate_caches`` calls
``zipimporter.invalidate_caches`` on every ``zipimporter`` in
``sys.path_importer_cache``, and each one re-reads its archive's whole
central directory. A warm worker holds about 16 of them: 12 for
``pyspark.zip`` (1,328 entries), 2 for the ``spark-core`` jar (5,359
entries; Spark puts it on the workers' ``PYTHONPATH``) and 2 for the py4j
zip. That costs 0.15-0.22 s per task in workers that are otherwise
reused, and the data-source planner processes pay it too. On a 4-core
host a traced graphbench ``scan`` (16 tasks) spent 5.2 s of executor run
time per 2.1 s operation; with the hook, 1.4 s per 0.65 s operation.

``install()`` puts one inert finder at the front of ``sys.meta_path``.
It finds nothing (``find_spec`` returns ``None``), but its
``invalidate_caches`` runs before ``PathFinder``'s and removes the
``zipimporter`` entries from ``sys.path_importer_cache``, so there is
nothing left for ``PathFinder`` to re-read. Imports behave as before: the
next import from an archive builds a new ``zipimporter``, which takes the
listing from ``zipimport._zip_directory_cache`` instead of the file.
``FileFinder`` caches are still invalidated, so ``addPyFile`` files still
appear. The one difference: an archive rewritten in place at a path
already on ``sys.path`` keeps its old listing; Spark never does that (a
file added twice under one name must be identical).

``hadoopwebgraph_spark/__init__.py`` calls ``install()``, so every Python
process that imports the engine -- a worker running its source, sink or
UDFs, or a planner process -- keeps the finder for the rest of its life.
"""

from __future__ import annotations

import sys
import zipimport


class KeepZipListings:
    """A ``sys.meta_path`` entry that finds nothing and, on
    ``invalidate_caches``, drops the cached ``zipimporter`` path entry
    finders instead of letting them re-read their archives."""

    @staticmethod
    def find_spec(fullname, path=None, target=None):
        return None

    @staticmethod
    def invalidate_caches():
        cache = sys.path_importer_cache
        for entry, finder in list(cache.items()):
            if isinstance(finder, zipimport.zipimporter):
                cache.pop(entry, None)


def install() -> None:
    """Put the finder at the front of ``sys.meta_path``, once per process."""
    # By name, not by class: a reloaded module defines a new class.
    if not any(type(f).__name__ == "KeepZipListings" for f in sys.meta_path):
        sys.meta_path.insert(0, KeepZipListings())
