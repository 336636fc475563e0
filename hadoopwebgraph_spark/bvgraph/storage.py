"""Shared-storage seam for the distributed BVGraph sink.

The sink's encode tasks spill each segment's raw chunks here, and the
composing driver reads them back in stream order. WHERE those chunks
live is a cluster-topology decision, so it is pluggable:

- ``LocalFSStore``: a directory on a filesystem every task and the driver
  can see — true on local[*] and on NFS / FUSE-mounted object storage.
  The default, and what the test suite exercises end-to-end.
- ``PyArrowFSStore``: objects under an ``s3://``/``s3a://``/``gs://``/
  ``hdfs://`` root via ``io.fs_for_path``, for clusters without a shared
  POSIX mount.
- ``MemoryStore``: an in-process dict, for compose tests and writes that
  encode and compose in one process.
"""

from __future__ import annotations

import os
import shutil
from abc import ABC, abstractmethod

from .io import fs_for_path


class SegmentStore(ABC):
    """Keyed byte-blob storage shared by the encode tasks and the
    composing driver. Implementations must be picklable (they ship to
    executors) and safe for distinct-key concurrent writes."""

    @abstractmethod
    def put(self, key: str, data: bytes) -> None: ...

    @abstractmethod
    def get(self, key: str) -> bytes: ...

    @abstractmethod
    def cleanup(self) -> None:
        """Remove every artifact (the sink runs it after every write,
        failed ones included)."""


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
            self._fs, self._base = fs_for_path(self.root)
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
    """Dict-backed store: the single-process stand-in for an object store
    in compose tests (and usable directly when encode and compose run in
    one process)."""

    def __init__(self):
        self.blobs: dict[str, bytes] = {}

    def put(self, key: str, data: bytes) -> None:
        self.blobs[key] = bytes(data)

    def get(self, key: str) -> bytes:
        return self.blobs[key]

    def cleanup(self) -> None:
        self.blobs.clear()

