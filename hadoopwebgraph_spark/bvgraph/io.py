"""File access for the BVGraph triple — the engine's counterpart of the
reference's seekable HDFS adapter (HdfsRepositionableStream.java:9-70).

Plain paths use local ``open``; URIs (``file://``, ``s3://``, ``s3a://``,
``gs://``, ``hdfs://``) route through ``fs_for_path``, so the same
DataSource reads object storage unchanged. Unlike the reference's
unbuffered graph streams (HdfsBVGraph.java:46,217,389 — a known perf
hazard), executors issue ONE ranged request per partition
(``read_bytes_range``) covering exactly the partition's byte extent,
then decode from memory; the driver reads the small ``.properties`` /
``.offsets`` files whole."""

from __future__ import annotations


def fs_for_path(path: str):
    """``(pyarrow FileSystem, fs-local path)`` for a plain path or a URI —
    the one scheme-routing seam shared by this module, the sink's segment
    store and the maintenance jobs. ``s3a://``/``s3n://`` (the Hadoop
    connector schemes Spark uses) become pyarrow's ``s3://``, so one URI
    string drives both the Spark read/write and the pyarrow calls."""
    from pyarrow import fs as pafs

    if "://" not in path:
        return pafs.LocalFileSystem(), path
    for hadoop_scheme in ("s3a://", "s3n://"):
        if path.startswith(hadoop_scheme):
            path = "s3://" + path[len(hadoop_scheme) :]
            break
    return pafs.FileSystem.from_uri(path)


def read_bytes(path: str) -> bytes:
    """Read a whole file, local path or filesystem URI (driver-side:
    properties + offsets only)."""
    if "://" in path:
        filesystem, fs_path = fs_for_path(path)
        with filesystem.open_input_stream(fs_path) as f:
            return f.read()
    with open(path, "rb") as f:
        return f.read()


def read_bytes_range(path: str, start: int, length: int) -> bytes:
    """Read ``length`` bytes at byte offset ``start`` in one seek+read —
    the executor-side primitive (≙ HdfsRepositionableStream.position/read,
    HdfsRepositionableStream.java:17-29). Never touches bytes outside the
    requested window."""
    if length <= 0:
        return b""
    if "://" in path:
        filesystem, fs_path = fs_for_path(path)
        with filesystem.open_input_file(fs_path) as f:
            f.seek(start)
            return f.read(length)
    with open(path, "rb") as f:
        f.seek(start)
        return f.read(length)


def open_output(path: str):
    """Writable stream for a local path or filesystem URI — the single
    place the ``'://' -> pyarrow.fs`` output branching lives (used by
    ``write_bytes`` and the sink's compose)."""
    if "://" in path:
        filesystem, fs_path = fs_for_path(path)
        return filesystem.open_output_stream(fs_path)
    return open(path, "wb")


def write_bytes(path: str, data: bytes) -> None:
    """Write a whole small file, local path or filesystem URI (driver-side:
    the sink's ``.properties``)."""
    with open_output(path) as f:
        f.write(data)


def file_stat(path: str) -> tuple[int, float]:
    """(size_bytes, mtime_epoch) for cache keys; works on local + URIs."""
    if "://" in path:
        filesystem, fs_path = fs_for_path(path)
        info = filesystem.get_file_info(fs_path)
        mtime = info.mtime.timestamp() if info.mtime is not None else 0.0
        return info.size, mtime
    import os

    st = os.stat(path)
    return st.st_size, st.st_mtime


def read_text(path: str) -> str:
    return read_bytes(path).decode("utf-8")
