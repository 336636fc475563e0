"""ctypes loader for the C kernel (_kernel.c): the fast path behind
``codec``'s decode, segment-encode and offsets entry points. ``codec`` is
the only caller; it runs its pure-Python spec when a function here
returns ``None``, which happens only when the kernel is unavailable (no C
compiler or a load error). Malformed input the kernel detects raises
``ValueError`` instead (the spec raises the same error on a truncated
buffer). The kernel carries all the speed; the spec reads each code by
its definition.
Both implementations are pinned to identical outputs by the hypothesis
suite (tests/test_codec_properties.py).

Compilation happens at most once per source hash: ``cc -O3 -shared
-fPIC`` into ``_build/kernel-<hash>.so`` next to this file, with an
atomic rename so concurrently-forked Spark Python workers never observe a
half-written .so (losers of the race just overwrite with identical
bytes).
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile

import numpy as np

_HERE = os.path.dirname(os.path.abspath(__file__))
_SRC = os.path.join(_HERE, "_kernel.c")
_BUILD_DIR = os.path.join(_HERE, "_build")

_i8p = ctypes.POINTER(ctypes.c_uint8)
_i32 = ctypes.c_int32
_i64 = ctypes.c_int64
_i32p = ctypes.POINTER(ctypes.c_int32)
_i64p = ctypes.POINTER(ctypes.c_int64)


def _compile_and_load():
    with open(_SRC, "rb") as f:
        src = f.read()
    tag = hashlib.sha256(src).hexdigest()[:16]
    so_path = os.path.join(_BUILD_DIR, f"kernel-{tag}.so")
    if not os.path.exists(so_path):
        os.makedirs(_BUILD_DIR, exist_ok=True)
        fd, tmp_path = tempfile.mkstemp(dir=_BUILD_DIR, suffix=".so.tmp")
        os.close(fd)
        try:
            subprocess.run(
                ["cc", "-O3", "-shared", "-fPIC", "-o", tmp_path, _SRC],
                check=True,
                capture_output=True,
            )
            os.replace(tmp_path, so_path)  # atomic: racers converge
        finally:
            if os.path.exists(tmp_path):
                os.unlink(tmp_path)
    lib = ctypes.CDLL(so_path)
    lib.bvg_decode_range.restype = _i64
    lib.bvg_decode_range.argtypes = [
        _i8p, _i64,  # data, data_bytes
        _i32, _i32, _i32, _i32,  # window_size, max_ref_count, min_ivl, zeta_k
        _i32, _i32, _i32, _i32, _i32,  # out/ref/bcnt/blk/res codes
        _i64, _i64,  # from_node, up_to
        _i64p, _i64, _i64,  # seed_offsets, seed_base, start_bit
        _i32p, _i64,  # out_values, out_cap
        _i64p,  # out_list_offsets
        _i64p,  # out_bitpos (nullable)
    ]
    lib.bvg_decode_offsets.restype = _i64
    lib.bvg_decode_offsets.argtypes = [_i8p, _i64, _i64, _i32, _i32, _i64p]
    lib.bvg_encode_deltas.restype = _i64
    lib.bvg_encode_deltas.argtypes = [_i64p, _i64, _i64, _i32, _i32, _i8p, _i64]
    lib.bvg_encode_segment.restype = _i64
    lib.bvg_encode_segment.argtypes = [
        _i32p, _i64p, _i64, _i64,  # values, list_offsets, n_nodes, first_src
        _i32, _i32, _i32, _i32,  # window_size, max_ref_count, min_ivl, zeta_k
        _i32, _i32, _i32, _i32, _i32,  # out/ref/bcnt/blk/res codes
        _i8p, _i64,  # out_buf, out_cap (bytes)
        _i64p,  # out_offsets
    ]
    return lib


_LIB = None
_TRIED = False


def get_lib():
    """The loaded kernel, or None (no compiler / load failure)."""
    global _LIB, _TRIED
    if not _TRIED:
        _TRIED = True
        try:
            _LIB = _compile_and_load()
        except Exception:
            _LIB = None
    return _LIB


def _borrow_u8p(buf: bytes) -> _i8p:
    """Zero-copy pointer into a bytes object (caller must keep it alive
    for the duration of the C call)."""
    return ctypes.cast(ctypes.c_char_p(buf), _i8p)


def _format_args(p) -> list[int]:
    """The kernel's shared format parameters, in its argument order."""
    return [
        p.window_size,
        p.max_ref_count,
        p.min_interval_length,
        p.zeta_k,
        p.outdegree_code,
        p.reference_code,
        p.block_count_code,
        p.block_code,
        p.residual_code,
    ]


def _sized(call, cap: int, what: str):
    """Run ``call(cap) -> (rc, out)``. A code below -8 means ``cap`` was too
    small and names the size needed, so the call is retried at that size;
    any other negative code is malformed input the kernel detected."""
    for _ in range(8):
        rc, out = call(cap)
        if rc >= 0:
            return int(rc), out
        if rc >= -8:
            raise ValueError(f"{what} (kernel rc={rc})")
        cap = -rc
    raise RuntimeError(f"{what}: the kernel kept asking for a larger buffer")


def decode_range(
    padded: bytes,
    p,
    from_node: int,
    up_to: int,
    seed_offsets: np.ndarray | None = None,
    seed_base: int = 0,
    start_bit: int = 0,
    want_bitpos: bool = False,
):
    """Decode nodes [from_node, up_to) from a bitio.pad()-padded buffer.

    Returns (values int32[], list_offsets int64[n+1], bitpos int64[n]|None),
    or None if the kernel is unavailable."""
    lib = get_lib()
    if lib is None:
        return None
    n = up_to - from_node
    if n <= 0:
        return (
            np.empty(0, np.int32),
            np.zeros(1, np.int64),
            np.empty(0, np.int64) if want_bitpos else None,
        )
    seeds = None if seed_offsets is None else np.ascontiguousarray(seed_offsets, np.int64)
    list_offsets = np.empty(n + 1, dtype=np.int64)
    bitpos = np.empty(n, dtype=np.int64) if want_bitpos else None

    def call(cap):
        values = np.empty(cap, dtype=np.int32)
        rc = lib.bvg_decode_range(
            _borrow_u8p(padded),
            len(padded) - 16,  # bitio._PAD length
            *_format_args(p),
            from_node,
            up_to,
            None if seeds is None else seeds.ctypes.data_as(_i64p),
            seed_base,
            start_bit,
            values.ctypes.data_as(_i32p),
            cap,
            list_offsets.ctypes.data_as(_i64p),
            None if bitpos is None else bitpos.ctypes.data_as(_i64p),
        )
        return rc, values

    cap = max(4 * (len(padded) - 16) + 1024, 4096)
    rc, values = _sized(call, cap, "corrupt or truncated .graph stream")
    return values[:rc], list_offsets, bitpos


def encode_segment(
    values: np.ndarray, list_offsets: np.ndarray, first_src: int, p
):
    """Encode a window-isolated segment (CSR adjacency) with the C kernel.

    Returns (nbits, buf bytes of ceil(nbits/8), offsets int64[n+1]), or None
    if the kernel is unavailable. Output bytes are bit-identical to the
    Python spec (same candidate order and strict-less tie-break)."""
    lib = get_lib()
    if lib is None:
        return None
    values = np.ascontiguousarray(values, dtype=np.int32)
    list_offsets = np.ascontiguousarray(list_offsets, dtype=np.int64)
    n = len(list_offsets) - 1
    out_offsets = np.empty(n + 1, dtype=np.int64)

    def call(cap):
        buf = np.zeros(cap, dtype=np.uint8)
        rc = lib.bvg_encode_segment(
            values.ctypes.data_as(_i32p),
            list_offsets.ctypes.data_as(_i64p),
            n,
            first_src,
            *_format_args(p),
            buf.ctypes.data_as(_i8p),
            cap,
            out_offsets.ctypes.data_as(_i64p),
        )
        return rc, buf

    cap = max(2 * values.nbytes + 8 * n + 1024, 4096)
    nbits, buf = _sized(call, cap, "segment encode failed")
    return nbits, buf[: (nbits + 7) // 8].tobytes(), out_offsets


def encode_deltas(values: np.ndarray, prev: int, code: int, zeta_k: int):
    """Delta-encode a monotone int64 sequence (offsets stream chunk).
    Returns (nbits, bytes of ceil(nbits/8)), or None if the kernel is
    unavailable."""
    lib = get_lib()
    if lib is None:
        return None
    values = np.ascontiguousarray(values, dtype=np.int64)

    def call(cap):
        buf = np.zeros(cap, dtype=np.uint8)
        rc = lib.bvg_encode_deltas(
            values.ctypes.data_as(_i64p),
            len(values),
            prev,
            code,
            zeta_k,
            buf.ctypes.data_as(_i8p),
            cap,
        )
        return rc, buf

    cap = max(4 * len(values) + 64, 1024)
    nbits, buf = _sized(call, cap, "offsets encode failed (non-monotone input?)")
    return nbits, buf[: (nbits + 7) // 8].tobytes()


def decode_offsets(offsets_bytes_padded: bytes, count: int, code: int, zeta_k: int):
    """Cumulative-sum fold of a delta-coded offsets stream.

    Returns the offsets array, or None if the kernel is unavailable.
    Kernel-detected corruption raises ``ValueError``."""
    lib = get_lib()
    if lib is None:
        return None
    out = np.empty(count, dtype=np.int64)
    rc = lib.bvg_decode_offsets(
        _borrow_u8p(offsets_bytes_padded),
        len(offsets_bytes_padded) - 16,  # bitio._PAD length
        count,
        code,
        zeta_k,
        out.ctypes.data_as(_i64p),
    )
    if rc != 0:
        raise ValueError(
            f"corrupt or truncated .offsets stream (kernel rc={rc}: "
            f"{'bad code' if rc == -2 else 'cursor past data extent'})"
        )
    return out
