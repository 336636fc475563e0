"""The benchmark's own tests: determinism per seed, checks that reject a
corrupted output, and metric names that match BENCHMARK.json. No Spark.

    python -m pytest graphbench/tests -q
"""

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
for p in (ROOT, BENCH):
    if p not in sys.path:
        sys.path.insert(0, p)

import checks  # noqa: E402
import fixture  # noqa: E402
import run  # noqa: E402
import sparklog  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

N, DEG = 2000, 8


@pytest.fixture(scope="module")
def fx(tmp_path_factory):
    d = tmp_path_factory.mktemp("fx")
    values, list_offsets = fixture.generate(7, N, DEG)
    basename = str(d / "g")
    fixture.encode(values, list_offsets, basename)
    return fixture.Fixture(
        seed=7,
        basename=basename,
        parquet=str(d / "adj.parquet"),
        values=values,
        list_offsets=list_offsets,
        pagerank=fixture.reference_pagerank(
            values, list_offsets, fixture.PAGERANK_ITERATIONS, fixture.DAMPING
        ),
    )


def _flip_one_arc(values, list_offsets):
    """The CSR with one node's last successor moved to node N-1, which it
    did not point to; the list stays strictly ascending."""
    bad = values.copy()
    last = list_offsets[1:] - 1
    x = next(
        x for x in range(N // 2, N) if list_offsets[x + 1] > list_offsets[x]
        and bad[last[x]] < N - 1
    )
    bad[last[x]] = N - 1
    return bad


# -- determinism -------------------------------------------------------------


def test_generator_is_deterministic_per_seed():
    a = fixture.generate(3, N, DEG)
    b = fixture.generate(3, N, DEG)
    c = fixture.generate(4, N, DEG)
    assert all(np.array_equal(x, y) for x, y in zip(a, b))
    assert not np.array_equal(a[0], c[0])


def test_fixture_cache_key_changes_with_seed(tmp_path, monkeypatch):
    monkeypatch.setattr(fixture, "NODES", N)
    monkeypatch.setattr(fixture, "AVG_DEG", DEG)
    a = fixture.ensure(1, ROOT, str(tmp_path))
    again = fixture.ensure(1, ROOT, str(tmp_path))
    b = fixture.ensure(2, ROOT, str(tmp_path))
    assert a.basename == again.basename != b.basename
    assert np.array_equal(a.values, again.values)
    assert os.path.exists(a.parquet)


def test_request_sequences_are_deterministic_per_seed(fx, tmp_path):
    def first(name, seed, k=6):
        wl = workloads.WORKLOADS[name](
            fx, np.random.default_rng([seed, 1]), str(tmp_path)
        )
        it = wl.requests()
        return [next(it) for _ in range(k)]

    for name in workloads.WORKLOADS:
        assert first(name, 5) == first(name, 5)
    assert first("lookup", 5) != first("lookup", 6)


# -- checks reject corrupted outputs ----------------------------------------


def test_scan_checks(fx):
    arcs, weighted, hist = checks.scan_truth(fx.list_offsets)
    assert checks.check_num_edges(fx, arcs, weighted)
    assert not checks.check_num_edges(fx, arcs + 1, weighted)
    assert not checks.check_num_edges(fx, arcs, weighted - 1)
    assert checks.check_histogram(fx, dict(hist))
    bad = dict(hist)
    d = next(iter(bad))
    bad[d] += 1
    assert not checks.check_histogram(fx, bad)


def test_lookup_check(fx):
    ids = [3, 17, 1500]
    rows = [(i, fx.adj(i)) for i in ids]
    assert checks.check_rows(fx, ids, rows)
    flipped = [(s, list(a)) for s, a in rows]
    flipped[1][1][0] += 1
    assert not checks.check_rows(fx, ids, flipped)
    assert not checks.check_rows(fx, ids, rows[:-1])
    assert not checks.check_rows(fx, ids, rows + rows[:1])


def test_ingest_check(fx, tmp_path):
    assert checks.check_written_graph(fx, fx.basename)
    bad = str(tmp_path / "bad")
    fixture.encode(_flip_one_arc(fx.values, fx.list_offsets), fx.list_offsets, bad)
    assert not checks.check_written_graph(fx, bad)


def test_ingest_check_reads_properties(fx, tmp_path):
    import shutil

    bad = str(tmp_path / "props")
    for ext in (".graph", ".offsets", ".properties"):
        shutil.copy(fx.basename + ext, bad + ext)
    with open(bad + ".properties") as f:
        text = f.read()
    with open(bad + ".properties", "w") as f:
        f.write(text.replace(f"arcs={fx.arcs}", f"arcs={fx.arcs + 1}"))
    assert not checks.check_written_graph(fx, bad)


def test_pagerank_check(fx):
    nodes = np.arange(N)[::-1]
    ranks = fx.pagerank[nodes]
    assert checks.check_pagerank(fx, nodes, ranks)
    off = ranks.copy()
    off[5] *= 1 + 1e-6
    assert not checks.check_pagerank(fx, nodes, off)
    assert not checks.check_pagerank(fx, nodes[:-1], ranks[:-1])


def test_reference_pagerank_keeps_mass_with_dangling_nodes():
    # node 2 has no successors: its rank is spread over every node
    values = np.array([1, 2, 0], dtype=np.int32)
    list_offsets = np.array([0, 2, 3, 3], dtype=np.int64)
    r = fixture.reference_pagerank(values, list_offsets, 5, 0.85)
    assert abs(r.sum() - 3) < 1e-12


# -- metric names ------------------------------------------------------------


def _benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_match_benchmark_json():
    spec = _benchmark_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)


def test_printed_metrics_are_the_listed_ones(fx, tmp_path):
    wl = workloads.WORKLOADS["pagerank"](fx, None, str(tmp_path))
    op = {"s": 2.0, "arcs_per_s": 5.0, "rows_returned": N}
    e2e = run.end_to_end(fx, wl, [(3.0, 1.0), (2.0, 0.5)], 900.0, [op])
    assert set(e2e) == set(run.END_TO_END)
    layers = run.per_layer(
        {},
        dict.fromkeys(sparklog.FIELDS, 0.0),
        [(3.0, 1.0)],
        {"traced": [op], "untraced": [op]},
        4,
    )
    assert set(layers) == set(run.PER_LAYER)


# -- tracing -----------------------------------------------------------------


def test_self_time_excludes_child_spans(tmp_path, monkeypatch):
    monkeypatch.setattr(tracing, "_DIR", str(tmp_path))
    monkeypatch.setattr(tracing, "_FLAG", str(tmp_path / "ON"))
    import time

    def child():
        time.sleep(0.05)

    child_t = tracing.wrap(child, "child")

    def parent():
        time.sleep(0.02)
        child_t()

    parent_t = tracing.wrap(parent, "parent")
    parent_t()  # not recording: no spans
    tracing.set_recording(True)
    t0 = time.time()
    parent_t()
    tracing.set_recording(False)
    agg = tracing.merge(str(tmp_path), [(t0, time.time())])
    assert agg["child"]["calls"] == agg["parent"]["calls"] == 1
    assert agg["parent"]["dur"] >= agg["child"]["dur"] >= 0.05
    assert abs(agg["parent"]["self"] - (agg["parent"]["dur"] - agg["child"]["dur"])) < 1e-9
    assert agg["parent"]["self"] < 0.05


def test_generator_span_counts_items_and_excludes_consumer(tmp_path, monkeypatch):
    monkeypatch.setattr(tracing, "_DIR", str(tmp_path))
    monkeypatch.setattr(tracing, "_FLAG", str(tmp_path / "ON"))
    import time

    class Batch:
        num_rows = 10

    def gen():
        for _ in range(3):
            yield Batch()

    traced = tracing.wrap_generator(
        gen, "read", per_item=lambda b: {"rows": b.num_rows}
    )
    tracing.set_recording(True)
    t0 = time.time()
    for _ in traced():
        time.sleep(0.03)  # consumer time, not the generator's
    tracing.set_recording(False)
    agg = tracing.merge(str(tmp_path), [(t0, time.time())])
    assert agg["read"]["calls"] == 1 and agg["read"]["rows"] == 30
    assert agg["read"]["dur"] < 0.03
