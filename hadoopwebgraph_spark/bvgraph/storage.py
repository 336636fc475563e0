"""Shared-storage seam for the distributed BVGraph sink.

The sink's two jobs (encode, re-phase) and the driver's final compose all
exchange intermediate segment artifacts. WHERE those artifacts live is a
cluster-topology decision, so it is pluggable:

- ``LocalFSStore``: a directory on a filesystem every task and the driver
  can see — true on local[*] and on NFS / FUSE-mounted object storage.
  The default, and what the test suite exercises end-to-end.
- ``MemoryStore``: an in-process dict. The single-process stand-in for an
  object store in compose tests (a real deployment would implement
  ``SegmentStore`` over S3/GCS: ``put`` = PUT object, ``open_read`` = GET).

The final assembly likewise has two strategies behind one interface:

- ``FileComposer``: streams boundary bytes and splices segment interiors
  into one local file (``shutil.copyfileobj`` — no per-byte Python).
- ``MultipartComposer``: the object-storage shape. Segment interiors are
  byte-aligned by construction (the re-phase job exists exactly so this
  is possible), so the final object is a server-side concatenation of
  already-uploaded parts plus tiny literal runs for the boundary bytes —
  S3 ``UploadPartCopy`` semantics. The driver moves O(n_segments) bytes,
  never the graph. This class mocks the server side by recording the op
  list and resolving it against the store; a real implementation would
  issue the multipart calls instead.

Both composers expose ``write`` (file-like, fed by the sink's compose
with boundary bytes) for literal bytes and ``part(key)`` for a spilled
interior; compose tests assert byte-identical output.
"""

from __future__ import annotations

import io
import os
import shutil
from abc import ABC, abstractmethod
from typing import BinaryIO


class SegmentStore(ABC):
    """Keyed byte-blob storage shared by encode tasks, re-phase tasks and
    the composing driver. Implementations must be picklable (they ship to
    executors) and safe for distinct-key concurrent writes."""

    @abstractmethod
    def put(self, key: str, data: bytes) -> None: ...

    @abstractmethod
    def get(self, key: str) -> bytes: ...

    @abstractmethod
    def open_read(self, key: str) -> BinaryIO: ...

    @abstractmethod
    def size(self, key: str) -> int: ...

    @abstractmethod
    def cleanup(self) -> None:
        """Remove every artifact (the sink's post-compose spill GC)."""


class LocalFSStore(SegmentStore):
    """Segment artifacts as files under one directory on a filesystem
    shared by all tasks and the driver (local mode, NFS, mounted object
    storage). Writes are create-then-rename so a partially written
    artifact is never visible under its final key."""

    def __init__(self, root: str):
        self.root = root

    def _path(self, key: str) -> str:
        return os.path.join(self.root, key)

    def put(self, key: str, data: bytes) -> None:
        os.makedirs(self.root, exist_ok=True)
        tmp = self._path(f"{key}.tmp-{os.getpid()}")
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, self._path(key))

    def get(self, key: str) -> bytes:
        with open(self._path(key), "rb") as f:
            return f.read()

    def open_read(self, key: str) -> BinaryIO:
        return open(self._path(key), "rb")

    def size(self, key: str) -> int:
        return os.path.getsize(self._path(key))

    def cleanup(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


class PyArrowFSStore(SegmentStore):
    """Segment artifacts as objects under a URI root (``s3://``, ``gs://``,
    ``hdfs://``, ``file://``) via ``pyarrow.fs`` — the blob-store
    implementation for clusters WITHOUT a task/driver-shared POSIX
    filesystem. Picklable by construction: only the root URI ships to
    executors; the FileSystem handle is re-resolved lazily per process
    (pyarrow FileSystem objects don't survive pickling into tasks)."""

    def __init__(self, root_uri: str):
        self.root = root_uri.rstrip("/")
        self._fs = None
        self._base: str | None = None
        self._dir_ok = False  # root dir created once per process, not per put

    def _resolve(self):
        if self._fs is None:
            from pyarrow import fs as pafs

            self._fs, self._base = pafs.FileSystem.from_uri(self.root)
        return self._fs, self._base

    def __getstate__(self):
        return {"root": self.root}

    def __setstate__(self, state):
        self.root = state["root"]
        self._fs = None
        self._base = None
        self._dir_ok = False

    def put(self, key: str, data: bytes) -> None:
        fs, base = self._resolve()
        if not self._dir_ok:
            fs.create_dir(base, recursive=True)
            self._dir_ok = True
        with fs.open_output_stream(f"{base}/{key}") as f:
            f.write(data)

    def get(self, key: str) -> bytes:
        fs, base = self._resolve()
        with fs.open_input_stream(f"{base}/{key}") as f:
            return f.read()

    def open_read(self, key: str) -> BinaryIO:
        fs, base = self._resolve()
        return fs.open_input_stream(f"{base}/{key}")

    def size(self, key: str) -> int:
        fs, base = self._resolve()
        return fs.get_file_info(f"{base}/{key}").size

    def cleanup(self) -> None:
        from pyarrow import fs as pafs

        fs, base = self._resolve()
        # probe first: a never-populated spill root is NORMAL and must
        # not fail a completed write; pyarrow surfaces missing dirs as
        # OSError/ArrowIOError (FileNotFoundError only on local), so the
        # probe — not a broad except — distinguishes "nothing to clean"
        # from a REAL delete failure (permissions, transient network),
        # which would otherwise silently leak the whole spill prefix
        if fs.get_file_info(base).type == pafs.FileType.NotFound:
            return
        try:
            fs.delete_dir(base)
        except OSError as exc:
            import warnings

            warnings.warn(
                f"spill cleanup failed — data leaked at {base}: {exc}",
                stacklevel=2,
            )


def fs_for_path(path: str):
    """Resolve ``(pyarrow FileSystem, fs-local base path)`` for a plain
    path or a URI — the scheme-routing seam the maintenance jobs share
    with the sink. ``s3a://``/``s3n://`` (the Hadoop connector schemes
    Spark uses) are normalized to pyarrow's ``s3://`` so one URI string
    can drive both the Spark read/write AND the pyarrow listing/swap."""
    from pyarrow import fs as pafs

    if "://" in path:
        for hadoop_scheme in ("s3a://", "s3n://"):
            if path.startswith(hadoop_scheme):
                path = "s3://" + path[len(hadoop_scheme) :]
                break
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), path


def move_dir(fs, src: str, dst: str) -> None:
    """Directory move with an object-store fallback: local/HDFS rename is
    one atomic call; stores without directory rename (S3) fall back to
    per-object moves into the destination prefix, then drop the source
    prefix. Callers needing crash-atomicity must target a destination
    that cannot already exist (the digest-snapshot install contract) —
    a partially-moved prefix is then detectable and convergent, never
    silently merged with pre-existing data."""
    from pyarrow import fs as pafs

    try:
        fs.move(src, dst)
        return
    except (OSError, NotImplementedError):
        pass
    fs.create_dir(dst, recursive=True)
    sel = pafs.FileSelector(src, recursive=True)
    infos = sorted(fs.get_file_info(sel), key=lambda i: i.path)
    for info in infos:
        rel = info.path[len(src) :].lstrip("/")
        if info.type == pafs.FileType.Directory:
            fs.create_dir(f"{dst}/{rel}", recursive=True)
        elif info.type == pafs.FileType.File:
            fs.move(info.path, f"{dst}/{rel}")
    fs.delete_dir(src)


def store_for(basename: str) -> SegmentStore:
    """Select the segment store from the output basename's scheme — the
    topology contract of the distributed sink. A plain path or ``file://``
    URI assumes a filesystem shared by every task and the driver (local
    mode, NFS, FUSE-mounted object storage) and spills next to the
    output; any other scheme (``s3://``, ``gs://``, ``hdfs://``) routes
    spill artifacts through ``pyarrow.fs`` so no shared POSIX mount is
    silently assumed."""
    if "://" in basename and not basename.startswith("file://"):
        return PyArrowFSStore(basename + ".spill")
    if basename.startswith("file://"):
        return LocalFSStore(basename[len("file://") :] + ".spill")
    return LocalFSStore(basename + ".spill")


class MemoryStore(SegmentStore):
    """Dict-backed store: the single-process mock of an object store for
    compose tests (and usable directly when encode/re-phase/compose all
    run in one process)."""

    def __init__(self):
        self.blobs: dict[str, bytes] = {}

    def put(self, key: str, data: bytes) -> None:
        self.blobs[key] = bytes(data)

    def get(self, key: str) -> bytes:
        return self.blobs[key]

    def open_read(self, key: str) -> BinaryIO:
        return io.BytesIO(self.blobs[key])

    def size(self, key: str) -> int:
        return len(self.blobs[key])

    def cleanup(self) -> None:
        self.blobs.clear()


class FileComposer:
    """Compose the final stream into one local file: literal bytes are
    written through (file-like ``write``), segment interiors are spliced
    from the store with an OS-level copy."""

    def __init__(self, path: str, store: SegmentStore):
        from .io import open_output

        self.fh = open_output(path)
        self.store = store

    def write(self, b: bytes) -> None:
        self.fh.write(b)

    def part(self, key: str) -> int:
        """Splice a stored byte-aligned interior; returns its size."""
        with self.store.open_read(key) as pf:
            shutil.copyfileobj(pf, self.fh, 1 << 20)
        return self.store.size(key)

    def close(self) -> None:
        self.fh.close()


class MultipartComposer:
    """Object-storage compose: record the op sequence (literal runs +
    part references) a server-side multipart assembly would execute. The
    driver ships only the literal boundary bytes — part bytes are
    referenced by key and never stream through it.

    ``result()`` resolves the ops against the store, standing in for the
    storage service's concatenation; tests assert it is byte-identical to
    ``FileComposer`` output."""

    def __init__(self, store: SegmentStore):
        self.store = store
        self.ops: list[tuple[str, bytearray | str]] = []

    def write(self, b: bytes) -> None:
        if self.ops and self.ops[-1][0] == "lit":
            self.ops[-1][1].extend(b)  # type: ignore[union-attr]
        else:
            self.ops.append(("lit", bytearray(b)))

    def part(self, key: str) -> int:
        self.ops.append(("part", key))
        return self.store.size(key)

    def result(self) -> bytes:
        out = bytearray()
        for kind, payload in self.ops:
            out.extend(
                payload if kind == "lit" else self.store.get(payload)  # type: ignore[arg-type]
            )
        return bytes(out)

    def close(self) -> None:
        pass
