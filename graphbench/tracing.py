"""Span tracing around the calls into each engine layer, from outside it.

``install(trace_dir)`` wraps the public functions of the session, the
BVGraph source/kernel/sink/storage modules and ``graph_algos.pagerank``
at the names through which the engine looks them up (``datasource``
imports ``read_bytes_range`` and ``load_offsets`` by name, so those are
wrapped on ``datasource``; ``codec`` and ``datasource`` reach the kernel
as ``native.<fn>``, so those are wrapped on ``native``).

The driver installs the wrappers in its own process; Spark's Python
workers and data-source planner processes install them at start-up
through ``worker/sitecustomize.py``, which the runner puts on the
workers' ``PYTHONPATH`` for traced runs only.

Each process keeps finished spans in memory and appends them to its own
``spans-<pid>.jsonl`` when its outermost span closes (Spark's forked
workers leave through ``os._exit``, so an exit hook would never run).
``merge`` reads every file back and aggregates the spans that started
inside a time window. Spans are recorded only while the flag file
``ON`` exists in the trace directory, so the runner can measure the same
session with and without recording.

A span's self time is its duration minus the time covered by its child
spans in the same process.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time

_DIR: str | None = None
_FLAG: str | None = None
_local = threading.local()
_done: list = []


class _Frame:
    __slots__ = ("name", "start", "busy", "child", "attrs", "parent", "t0")

    def __init__(self, name: str, parent: str | None):
        self.name = name
        self.start = time.time()
        self.busy = 0.0
        self.child = 0.0
        self.attrs: dict = {}
        self.parent = parent
        self.t0 = 0.0


def _stack() -> list:
    st = getattr(_local, "stack", None)
    if st is None:
        st = _local.stack = []
    return st


def _recording() -> bool:
    return _FLAG is not None and os.path.exists(_FLAG)


def _open(name: str) -> _Frame | None:
    if not _recording():
        return None
    st = _stack()
    return _Frame(name, st[-1].name if st else None)


def _resume(fr: _Frame) -> None:
    _stack().append(fr)
    fr.t0 = time.perf_counter()


def _suspend(fr: _Frame) -> None:
    dt = time.perf_counter() - fr.t0
    fr.busy += dt
    st = _stack()
    st.pop()
    if st:
        st[-1].child += dt


def _close(fr: _Frame) -> None:
    _done.append(
        (fr.name, fr.parent, fr.start, fr.busy, fr.busy - fr.child, fr.attrs)
    )
    if not _stack():
        _flush()


def _flush() -> None:
    if not _done or _DIR is None:
        return
    path = os.path.join(_DIR, f"spans-{os.getpid()}.jsonl")
    with open(path, "a") as f:
        for name, parent, start, dur, self_s, attrs in _done:
            f.write(
                json.dumps(
                    {
                        "name": name,
                        "parent": parent,
                        "start": start,
                        "dur": dur,
                        "self": self_s,
                        "attrs": attrs,
                    }
                )
                + "\n"
            )
    _done.clear()


def wrap(fn, name: str, attrs=None):
    """Record one span per call of ``fn``; ``attrs(args, kwargs, result)``
    returns the counts to attach to it."""

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        fr = _open(name)
        if fr is None:
            return fn(*args, **kwargs)
        _resume(fr)
        try:
            result = fn(*args, **kwargs)
        except BaseException:
            _suspend(fr)
            _close(fr)
            raise
        _suspend(fr)
        if attrs is not None:
            fr.attrs.update(attrs(args, kwargs, result))
        _close(fr)
        return result

    traced.__wrapped_by_graphbench__ = True
    return traced


def wrap_generator(fn, name: str, attrs=None, per_item=None):
    """Like ``wrap`` for a generator function: the span covers only the
    time spent inside the generator (its ``next`` calls), not the time
    the consumer holds each item. ``per_item(item)`` returns counts to add
    up over the items."""

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        fr = _open(name)
        gen = fn(*args, **kwargs)
        if fr is None:
            yield from gen
            return
        if attrs is not None:
            fr.attrs.update(attrs(args, kwargs, None))
        try:
            while True:
                _resume(fr)
                try:
                    item = next(gen)
                except StopIteration:
                    return
                finally:
                    _suspend(fr)
                if per_item is not None:
                    for k, v in per_item(item).items():
                        fr.attrs[k] = fr.attrs.get(k, 0) + v
                yield item
        finally:
            _close(fr)

    traced.__wrapped_by_graphbench__ = True
    return traced


def _patch(owner, attr: str, make) -> None:
    fn = getattr(owner, attr)
    if getattr(fn, "__wrapped_by_graphbench__", False):
        return
    setattr(owner, attr, make(fn))


def _final_bytes(args, kwargs, result) -> dict:
    basename = args[1] if len(args) > 1 else kwargs["basename"]
    return {
        "final_bytes": os.path.getsize(basename + ".graph")
        + os.path.getsize(basename + ".offsets")
    }


def install(trace_dir: str) -> None:
    """Wrap every traced layer function in this process (idempotent)."""
    global _DIR, _FLAG
    _DIR = trace_dir
    _FLAG = os.path.join(trace_dir, "ON")

    from hadoopwebgraph_spark import session
    from hadoopwebgraph_spark.bvgraph import datasource, native, sink, storage
    from hadoopwebgraph_spark.queries import graph_algos

    _patch(session, "get_spark", lambda f: wrap(f, "session.get_spark"))

    reader = datasource.BVGraphReader
    _patch(
        reader,
        "partitions",
        lambda f: wrap(
            f, "datasource.partitions", lambda a, k, r: {"planned": len(r)}
        ),
    )
    _patch(reader, "pushFilters", lambda f: wrap(f, "datasource.push_filters"))
    _patch(
        datasource,
        "load_offsets",
        lambda f: wrap(f, "datasource.offsets_fold"),
    )
    _patch(
        reader,
        "read",
        lambda f: wrap_generator(
            f,
            "datasource.read",
            attrs=lambda a, k, r: {"nonempty": int(a[1].up_to > a[1].from_node)},
            per_item=lambda batch: {"rows": batch.num_rows},
        ),
    )
    _patch(
        datasource,
        "read_bytes_range",
        lambda f: wrap(f, "io.read", lambda a, k, r: {"bytes": len(r)}),
    )
    _patch(
        native,
        "decode_range",
        lambda f: wrap(
            f,
            "native.decode",
            lambda a, k, r: {
                "arcs": 0 if r is None else len(r[0]),
                "fallback": int(r is None),
            },
        ),
    )
    _patch(
        native,
        "encode_segment",
        lambda f: wrap(
            f,
            "native.encode",
            lambda a, k, r: {"arcs": len(a[0]), "fallback": int(r is None)},
        ),
    )
    for cls in (storage.LocalFSStore, storage.MemoryStore, storage.PyArrowFSStore):
        _patch(
            cls,
            "put",
            lambda f: wrap(f, "storage.put", lambda a, k, r: {"bytes": len(a[2])}),
        )
        _patch(
            cls,
            "get",
            lambda f: wrap(f, "storage.get", lambda a, k, r: {"bytes": len(r)}),
        )
    _patch(sink, "write_bvgraph", lambda f: wrap(f, "sink.write_bvgraph", _final_bytes))
    _patch(sink, "compose_graph", lambda f: wrap(f, "sink.compose"))
    _patch(sink, "compose_offsets", lambda f: wrap(f, "sink.compose"))
    _patch(graph_algos, "pagerank", lambda f: wrap(f, "graph_algos.pagerank"))


def set_recording(on: bool) -> None:
    if _FLAG is None:
        return
    if on:
        open(_FLAG, "w").close()
    elif os.path.exists(_FLAG):
        os.unlink(_FLAG)


def merge(trace_dir: str, windows) -> dict:
    """Aggregate every process's spans that started inside one of the
    ``(start, end)`` wall-clock windows:
    ``{name: {"calls", "dur", "self", <attr>: sum}}``."""
    agg: dict[str, dict] = {}
    for fname in sorted(os.listdir(trace_dir)):
        if not (fname.startswith("spans-") and fname.endswith(".jsonl")):
            continue
        with open(os.path.join(trace_dir, fname)) as f:
            for line in f:
                s = json.loads(line)
                if not any(a <= s["start"] <= b for a, b in windows):
                    continue
                a = agg.setdefault(s["name"], {"calls": 0, "dur": 0.0, "self": 0.0})
                a["calls"] += 1
                a["dur"] += s["dur"]
                a["self"] += s["self"]
                for k, v in s["attrs"].items():
                    a[k] = a.get(k, 0) + v
    return agg
