"""The benchmark's input graph and its ground truth, built from a seed.

One graph per seed from ``benchgen.gen_xl_adjacency(NODES, AVG_DEG, seed)``.
The generator's CSR arrays are the ground truth for every check. The
graph is encoded once, in this process, with the engine's own encoder
(``codec.encode_segment_csr`` plus ``native.encode_deltas`` for the
offsets stream) as one window-isolated segment, and cached on disk
together with a Parquet copy of the adjacency table (the ``ingest``
input) and the reference PageRank.

The cache key hashes the seed, the size and the sources of
``hadoopwebgraph_spark/bvgraph/``: a commit that changes the encoder
scans its own encoder's output and never reuses another commit's files.
Nothing here runs inside a timed region.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass

import numpy as np

NODES = 100_000
AVG_DEG = 16
DAMPING = 0.85
PAGERANK_ITERATIONS = 5


def source_hash(repo_root: str) -> str:
    """Hash of every source file of the BVGraph package (not build
    outputs), in a fixed order."""
    pkg = os.path.join(repo_root, "hadoopwebgraph_spark", "bvgraph")
    h = hashlib.sha256()
    for name in sorted(os.listdir(pkg)):
        if name.endswith((".py", ".c", ".h")):
            h.update(name.encode())
            with open(os.path.join(pkg, name), "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def generate(seed: int, n: int = NODES, avg_deg: int = AVG_DEG):
    """(values int32, list_offsets int64[n+1]) from the engine's generator."""
    from hadoopwebgraph_spark.bvgraph.benchgen import gen_xl_adjacency

    return gen_xl_adjacency(n, avg_deg, seed)


def encode(values, list_offsets, basename: str) -> None:
    """Write the BVGraph triple for a CSR graph with the engine's encoder."""
    from hadoopwebgraph_spark.bvgraph import codec, native
    from hadoopwebgraph_spark.bvgraph.bitio import BitWriter
    from hadoopwebgraph_spark.bvgraph.properties import BVGraphProperties

    n = len(list_offsets) - 1
    p = BVGraphProperties(nodes=n, arcs=int(list_offsets[-1]))
    nbits, graph, offsets = codec.encode_segment_csr(values, list_offsets, 0, p)
    offs = np.asarray(offsets, dtype=np.int64)
    res = native.encode_deltas(offs, 0, p.offset_code, p.zeta_k)
    if res is None:
        w = BitWriter()
        wr = w.make_writer(p.offset_code, p.zeta_k)
        last = 0
        for v in offs.tolist():
            wr(v - last)
            last = v
        obytes = w.to_bytes()
    else:
        obytes = res[1]
    codec.BVGraphFiles(basename).write(bytes(graph[: (nbits + 7) // 8]), obytes, p)


def reference_pagerank(values, list_offsets, iterations: int, damping: float):
    """NumPy power iteration with the engine's dangling-mass rule:
    rank' = (1-d) + d * (dangling_mass / n + sum of rank[u]/outdeg[u])."""
    n = len(list_offsets) - 1
    outdeg = np.diff(list_offsets)
    rank = np.ones(n)
    dangling_nodes = outdeg == 0
    safe = np.where(outdeg > 0, outdeg, 1)
    for _ in range(iterations):
        contrib = np.repeat(rank / safe, outdeg)
        in_sum = np.bincount(values, weights=contrib, minlength=n)
        dangling = rank[dangling_nodes].sum()
        rank = (1.0 - damping) + damping * (dangling / n + in_sum)
    return rank


@dataclass
class Fixture:
    seed: int
    basename: str
    parquet: str
    values: np.ndarray
    list_offsets: np.ndarray
    pagerank: np.ndarray

    @property
    def nodes(self) -> int:
        return len(self.list_offsets) - 1

    @property
    def arcs(self) -> int:
        return int(self.list_offsets[-1])

    def adj(self, node: int) -> list[int]:
        return self.values[self.list_offsets[node] : self.list_offsets[node + 1]].tolist()

    def bits_per_arc(self) -> float:
        size = os.path.getsize(self.basename + ".graph") + os.path.getsize(
            self.basename + ".offsets"
        )
        return 8.0 * size / self.arcs


def ensure(seed: int, repo_root: str, cache_root: str) -> Fixture:
    """Load the cached fixture for ``seed`` or build it."""
    key = hashlib.sha256(
        json.dumps([seed, NODES, AVG_DEG, source_hash(repo_root)]).encode()
    ).hexdigest()[:20]
    d = os.path.join(cache_root, key)
    done = os.path.join(d, "COMPLETE")
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        values, list_offsets = generate(seed)
        encode(values, list_offsets, os.path.join(tmp, "g"))
        _write_parquet(values, list_offsets, os.path.join(tmp, "adj.parquet"))
        np.savez(
            os.path.join(tmp, "truth.npz"),
            values=values,
            list_offsets=list_offsets,
            pagerank=reference_pagerank(
                values, list_offsets, PAGERANK_ITERATIONS, DAMPING
            ),
        )
        open(os.path.join(tmp, "COMPLETE"), "w").close()
        os.replace(tmp, d)
    truth = np.load(os.path.join(d, "truth.npz"))
    return Fixture(
        seed=seed,
        basename=os.path.join(d, "g"),
        parquet=os.path.join(d, "adj.parquet"),
        values=truth["values"],
        list_offsets=truth["list_offsets"],
        pagerank=truth["pagerank"],
    )


def _write_parquet(values, list_offsets, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = len(list_offsets) - 1
    pq.write_table(
        pa.table(
            {
                "src": pa.array(np.arange(n, dtype=np.int32)),
                "adj": pa.ListArray.from_arrays(
                    pa.array(list_offsets.astype(np.int32)), pa.array(values)
                ),
            }
        ),
        path,
    )
