"""Table-maintenance operators: small-file compaction (the lakehouse
OPTIMIZE job).

Streaming ingestion and fine-grained upserts leave parquet directories
with thousands of KB-sized files; at 100 TB the resulting
footer-read/task-schedule overhead dominates scan time long before the
data does. `compact_files` rewrites a directory to ~`target_bytes`
files: it sizes the output from the directory's actual on-disk bytes
(driver-side listing — one cheap FS metadata pass, no data read), then
runs ONE repartition job. With `sort_col` it uses repartitionByRange +
sortWithinPartitions so an existing clustering (including a Z-order
curve column, see layout.py) survives compaction and min/max pruning
keeps working; without it a plain round-robin repartition balances
bytes. The rewrite lands in a staging directory that replaces the
original atomically (rename), so concurrent readers see either the old
or the new layout, never a half-written mix.

Storage routing: every listing / rename / delete goes through
``bvgraph.io.fs_for_path`` (pyarrow.fs), so the SAME path string
drives Spark's read/write and the metadata ops — plain paths and
``file://`` use the local filesystem, ``hdfs://``/``s3a://``/``gs://``
route to the matching pyarrow filesystem with no shared-POSIX-mount
assumption. The one semantic caveat on object storage: directory
"rename" is per-object copy+delete (``storage.move_dir``), so the
compact_files swap is not atomic there — the digest-snapshot install
below is designed to not need atomicity at all (unique fresh target +
superset semantics), which is the job that actually must run at 100 TB.
"""

from __future__ import annotations

import math
import posixpath
import uuid

from pyspark.sql import SparkSession

from ..bvgraph.io import fs_for_path
from ..bvgraph.storage import move_dir

# The third maintenance job (r13) lives with the snapshot layout it
# compacts but belongs to this surface: fold a batch-partition snapshot
# (inverted-index tf partials, theta sketches, priority samples) into
# one partition. NOT interchangeable with compact_digest_snapshot —
# the two crash contracts differ (exclusion markers vs superset
# semantics) and each refuses the other's layout.
from .snapshot_util import compact_snapshot  # noqa: F401  (re-export)


def _dir_parquet_bytes(fs, base: str) -> tuple[int, int]:
    """(total_bytes, n_files) of the parquet data files under base."""
    from pyarrow import fs as pafs

    sel = pafs.FileSelector(base, recursive=True, allow_not_found=True)
    total = 0
    n = 0
    for info in fs.get_file_info(sel):
        if info.type == pafs.FileType.File and info.path.endswith(".parquet"):
            total += info.size
            n += 1
    return total, n


def _recover_compaction(fs, base: str) -> None:
    """Make a crashed :func:`compact_files` run recoverable: called at
    the start of every run (and usable standalone after a crash).

    The swap protocol (see compact_files) brackets its moves with two
    marker FILES so every crash window is distinguishable even where
    ``move_dir`` degrades to per-object moves (object storage, where a
    mid-move crash leaves files split across base and ``.old-token``):

    - ``.swap-begin-token`` written before move(base -> .old-token)
    - ``.swap-cleared-token`` written after that move fully completes
      (so the originals are ENTIRELY in ``.old-token`` and anything in
      base afterwards is staging-derived)

    Recovery per token, in order:

    - ``cleared`` marker present + ``.old-token`` exists: base (if any)
      holds a partial — or even complete — staging install; drop it and
      move ``.old-token`` back. At worst the compaction WORK is lost,
      never data (re-running redoes it). Restoring into a
      partial-install base without this marker knowledge would merge
      old and new files and double rows.
    - only ``begin`` marker + ``.old-token`` exists: the base->old move
      itself crashed midway; no staging file has touched base, so merge
      ``.old-token`` back into base (``move_dir`` merges per-object
      when the target exists; files live in exactly one of the two).
    - markers with no ``.old-token``: nothing was lost; drop markers.
    - ``.old-token`` with NO marker: the install completed and markers
      were cleaned, only the old-copy delete was missed — superseded;
      drop it. (A pre-marker-protocol crash could also land here with
      base missing: restore when unambiguous, raise when several
      ``.old-*`` candidates exist rather than guess.)
    - ``.compact-*`` staging dirs: half-written or superseded either
      way; drop them.

    After this sweep a re-run of compact_files converges from every
    crash point with the directory's rows intact throughout.
    """
    from pyarrow import fs as pafs

    parent = posixpath.dirname(base.rstrip("/")) or "."
    stem = posixpath.basename(base.rstrip("/"))
    olds, stagings, begins, cleareds = {}, [], set(), set()
    for info in fs.get_file_info(
        pafs.FileSelector(parent, recursive=False, allow_not_found=True)
    ):
        name = posixpath.basename(info.path)
        if info.type == pafs.FileType.Directory:
            if name.startswith(f"{stem}.old-"):
                olds[name.split(".old-", 1)[1]] = info.path
            elif name.startswith(f"{stem}.compact-"):
                stagings.append(info.path)
        elif info.type == pafs.FileType.File:
            if name.startswith(f"{stem}.swap-begin-"):
                begins.add(name.split(".swap-begin-", 1)[1])
            elif name.startswith(f"{stem}.swap-cleared-"):
                cleareds.add(name.split(".swap-cleared-", 1)[1])

    def base_exists() -> bool:
        return fs.get_file_info(base).type == pafs.FileType.Directory

    for token in sorted(begins | cleareds):
        old = olds.pop(token, None)
        if old is not None:
            if token in cleareds:
                # originals fully in old; base holds staging leftovers
                if base_exists():
                    fs.delete_dir(base)
                # Demote to the begin-only state BEFORE restoring:
                # move_dir is per-object on object storage, so a crash
                # mid-restore leaves originals split across base and
                # old — and with the cleared marker still present the
                # NEXT recovery would hit base_exists() -> delete_dir
                # and destroy the already-restored rows. With the
                # marker gone first, a mid-restore crash re-enters the
                # begin-only branch below, whose merge is idempotent.
                fs.delete_file(f"{base}.swap-cleared-{token}")
                cleareds.discard(token)
                move_dir(fs, old, base)
            else:
                # base->old crashed midway: merge the moved-out part back
                move_dir(fs, old, base)
        if token in cleareds:
            fs.delete_file(f"{base}.swap-cleared-{token}")
        if token in begins:
            fs.delete_file(f"{base}.swap-begin-{token}")
    if olds and not base_exists():
        # pre-protocol crash residue: restore only when unambiguous
        if len(olds) > 1:
            raise RuntimeError(
                f"compact recovery: {base} is missing and multiple backup "
                f"dirs exist ({sorted(olds.values())}); resolve manually"
            )
        move_dir(fs, next(iter(olds.values())), base)
        olds = {}
    for d in list(olds.values()) + stagings:
        fs.delete_dir(d)


def compact_files(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 << 20,
    sort_col: str | None = None,
) -> dict:
    """Compact a parquet directory to ceil(bytes / target_bytes) files.

    ``path`` may be a plain path or any pyarrow.fs-routable URI (the
    Spark session must be able to read/write the same URI — true for
    file://, hdfs:// and the s3a:// connector). Returns
    {"files_before", "files_after", "bytes", "rows"}.

    Crash safety: the install is the classic two-step swap (the target
    IS the live directory, so the digest snapshot's unique-fresh-target
    trick below does not apply); every run begins with
    :func:`_recover_compaction`, so a crash in any gap of a previous
    swap is healed — the stranded ``.old-<token>`` copy is restored (or
    dropped when superseded) and staging leftovers are swept. Data is
    never lost; the one residue of a mid-swap crash is a missing-dir
    read window until the next run (or a standalone recovery call).
    """
    fs, base = fs_for_path(path)
    _recover_compaction(fs, base)
    total, before = _dir_parquet_bytes(fs, base)
    n_out = max(1, math.ceil(total / target_bytes))
    df = spark.read.parquet(path)
    token = uuid.uuid4().hex[:8]
    staging = f"{path}.compact-{token}"
    if sort_col is not None:
        out = df.repartitionByRange(n_out, sort_col).sortWithinPartitions(sort_col)
    else:
        out = df.repartition(n_out)
    out.write.mode("overwrite").parquet(staging)
    rows = spark.read.parquet(staging).count()
    old = f"{base}.old-{token}"
    # marker-bracketed swap: _recover_compaction can classify any crash
    # window (incl. per-object move_dir fallbacks) without guessing
    fs.open_output_stream(f"{base}.swap-begin-{token}").close()
    move_dir(fs, base, old)
    fs.open_output_stream(f"{base}.swap-cleared-{token}").close()
    move_dir(fs, f"{base}.compact-{token}", base)
    fs.delete_dir(old)
    fs.delete_file(f"{base}.swap-cleared-{token}")
    fs.delete_file(f"{base}.swap-begin-{token}")
    _total2, after = _dir_parquet_bytes(fs, base)
    return {
        "files_before": before,
        "files_after": after,
        "bytes": total,
        "rows": rows,
    }


def compact_digest_snapshot(
    spark: SparkSession, digests_dir: str, target_bytes: int = 128 << 20
) -> dict:
    """Compact the incremental-dedup digest snapshot
    (``functions/dedup.py::incremental_dedup_stream``).

    The stream appends one ``batch_id=<n>`` partition per micro-batch, so
    after weeks of ingestion the per-batch anti-join reads thousands of
    KB-sized digest files. This maintenance job folds every partition
    into ONE deduplicated partition under a fresh NEGATIVE batch id
    (-1 for the first compaction, -2 for the next, ...) and drops the
    rest. Run it while the stream is STOPPED (the standard
    maintenance-window contract, same as checkpoint cleanup).

    Crash safety, with NO rename dance: the new id is unique (one below
    the smallest existing id), so the install is a single move of the
    fully-written staging dir onto a target that cannot exist; old
    partitions are removed only after. A crash at ANY point leaves only
    valid integer ``batch_id=<n>`` directories whose union is a digest
    SUPERSET — anti-join semantics are unchanged (a superset dedups
    identically), partition discovery still infers an integer column,
    `_dedup_one_batch`'s replay-exclusion filter (non-negative ids)
    keeps working, and re-running the compaction converges. This holds
    even where ``move_dir`` degrades to per-object copies (object
    storage): a half-installed new partition only ever contains digests
    re-derived from the old partitions, so the union is unchanged.
    Orphaned ``<dir>.compact-*`` staging dirs from a crashed write sit
    OUTSIDE the snapshot directory and are swept on the next run.

    Returns {"files_before", "files_after", "digests", "batch_id"}.
    """
    from pyarrow import fs as pafs

    fs, base = fs_for_path(digests_dir)
    total, before = _dir_parquet_bytes(fs, base)
    # sweep staging leftovers from a previous crashed compaction
    parent = posixpath.dirname(base.rstrip("/")) or "."
    stem = posixpath.basename(base.rstrip("/"))
    for info in fs.get_file_info(
        pafs.FileSelector(parent, recursive=False, allow_not_found=True)
    ):
        if info.type == pafs.FileType.Directory and posixpath.basename(
            info.path
        ).startswith(f"{stem}.compact-"):
            fs.delete_dir(info.path)
    ids = []
    for info in fs.get_file_info(pafs.FileSelector(base, recursive=False)):
        d = posixpath.basename(info.path)
        if d.startswith("batch_id="):
            try:
                ids.append(int(d.split("=", 1)[1]))
            except ValueError:
                raise ValueError(f"non-integer partition dir in snapshot: {d}")
    new_id = min(0, *ids) - 1 if ids else -1
    # size the compacted partition from on-disk bytes, like compact_files
    # (a billion-digest snapshot must not funnel through one task)
    n_out = max(1, math.ceil(total / target_bytes))
    distinct = spark.read.parquet(digests_dir).select("h").distinct()
    token = uuid.uuid4().hex[:8]
    distinct.repartition(n_out).write.mode("overwrite").parquet(
        f"{digests_dir}.compact-{token}"
    )
    n_digests = spark.read.parquet(f"{digests_dir}.compact-{token}").count()
    move_dir(fs, f"{base}.compact-{token}", f"{base}/batch_id={new_id}")
    for i in ids:
        fs.delete_dir(f"{base}/batch_id={i}")
    _total, after = _dir_parquet_bytes(fs, base)
    return {
        "files_before": before,
        "files_after": after,
        "digests": n_digests,
        "batch_id": new_id,
    }
