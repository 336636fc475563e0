"""hadoopwebgraph_spark — a PySpark-native analytics engine with the
capabilities of helgeho/HadoopWebGraph, rebuilt Spark-first.

The reference (read-only at /root/reference) is a Hadoop InputFormat that
exposes WebGraph/BVGraph compressed graphs to MapReduce/Spark as
``(nodeId, int[] successors)`` records (WebGraphInputFormat.java:16) and
delegates all further algebra to Spark (README.md:20-48).

This package re-expresses that contract idiomatically on the PySpark
DataFrame/SQL stack:

- ``bvgraph/``   — the custom part: a pure-Python BVGraph codec and a
                   Spark 4 Python DataSource (``spark.read.format("bvgraph")``)
                   yielding ``DataFrame[src INT, adj ARRAY<INT>]``.
- ``queries/``   — the full relational / graph / streaming operator surface
                   (Spark built-ins, Catalyst-optimized), registered for the
                   DuckDB correctness oracle.
- ``functions/`` — LLM-data-pipeline extensions: dedup (exact / MinHash /
                   SimHash / n-gram Jaccard), similarity search, text
                   analysis, multimodal column plumbing.
- ``streaming/`` — Structured Streaming paths for the events table.
"""

from . import _imports

# Spark's Python workers invalidate the import caches on every task; keep
# that from re-reading every zip archive on sys.path (see _imports).
_imports.install()

__version__ = "0.1.0"
