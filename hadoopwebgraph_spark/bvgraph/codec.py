"""BVGraph encode/decode kernel — the irreducible custom component
(SURVEY.md §2 Tier A4/A5/A7/A9).

Decoder semantics replicate the reference's successor pipeline
(HdfsBVGraph.java:98-201): outdegree -> reference within the window ->
copy blocks (first raw, rest stored-1, alternating copy/skip starting with
copy, implicit tail when the count is even) -> intervals (first left
zigzag-offset from x, lengths stored minus min_interval_length, then
gap+1 lefts) -> residuals (zigzag first from x, then +1 gaps), merged as
sorted streams. Sequential iteration keeps a cyclic window of the last
``window_size`` lists and seeds it by random access when starting
mid-graph (HdfsBVGraph.java:203-294).

The encoder is this library's own (the reference has none — it only
re-writes offsets, HdfsBVGraph.java:394-408): per node it tries every
admissible reference candidate in the window, encodes each to a scratch
bit writer, and keeps the cheapest, honoring max_ref_count chains.

This module is the only caller of the C kernel (``native``). Its four
kernel entry points — ``decode_range``, ``encode_segment_csr``,
``encode_offsets`` and ``load_offsets`` — call the kernel once and run
the Python spec below only when the kernel is unavailable; output is
identical either way. The spec keeps no fast path of its own: it reads
every field with the plain ``bitio`` code readers from an unpadded
buffer, so it stays the simplest statement of the format that the
hypothesis suite pins the kernel to.
"""

from __future__ import annotations


from dataclasses import dataclass

import numpy as np

from . import native
from .bitio import BitReader, BitWriter, int2nat, nat2int, pad
from .properties import BVGraphProperties


# ---------------------------------------------------------------------------
# encoding
# ---------------------------------------------------------------------------


def _runs_copy_skip(ref_list: list[int], target: set[int]) -> list[int]:
    """Alternating copy/skip run lengths over ref_list (copy first)."""
    runs: list[int] = []
    copying = True
    cur = 0
    for v in ref_list:
        is_copy = v in target
        if is_copy == copying:
            cur += 1
        else:
            runs.append(cur)
            copying = not copying
            cur = 1
    runs.append(cur)
    return runs


def _extract_intervals(extras: list[int], min_len: int) -> tuple[list[tuple[int, int]], list[int]]:
    """Split sorted extras into maximal >=min_len consecutive runs
    (intervals) and leftover residuals."""
    intervals: list[tuple[int, int]] = []
    residuals: list[int] = []
    i, m = 0, len(extras)
    while i < m:
        j = i
        while j + 1 < m and extras[j + 1] == extras[j] + 1:
            j += 1
        run = j - i + 1
        if run >= min_len:
            intervals.append((extras[i], run))
        else:
            residuals.extend(extras[i : j + 1])
        i = j + 1
    return intervals, residuals


def _encode_node(
    w: BitWriter,
    p: BVGraphProperties,
    x: int,
    succ: list[int],
    ref: int,
    ref_list: list[int] | None,
) -> None:
    """Encode one node's list given a chosen reference (0 = none)."""
    wr_out = w.make_writer(p.outdegree_code, p.zeta_k)
    wr_ref = w.make_writer(p.reference_code, p.zeta_k)
    wr_bcnt = w.make_writer(p.block_count_code, p.zeta_k)
    wr_blk = w.make_writer(p.block_code, p.zeta_k)
    wr_res = w.make_writer(p.residual_code, p.zeta_k)

    d = len(succ)
    wr_out(d)
    if d == 0:
        return
    if p.window_size > 0:
        wr_ref(ref)

    extras = succ
    if ref > 0:
        assert ref_list is not None
        target = set(succ)
        runs = _runs_copy_skip(ref_list, target)
        # last run is always implicit (even count -> copy tail, odd -> skip)
        blocks = runs[:-1]
        wr_bcnt(len(blocks))
        for i, b in enumerate(blocks):
            wr_blk(b if i == 0 else b - 1)
        copied = {v for v in ref_list if v in target}
        extras = [v for v in succ if v not in copied]

    if p.min_interval_length > 0:
        if extras:
            intervals, residuals = _extract_intervals(extras, p.min_interval_length)
            w.write_gamma(len(intervals))
            prev = 0
            for i, (left, length) in enumerate(intervals):
                if i == 0:
                    w.write_gamma(int2nat(left - x))
                else:
                    w.write_gamma(left - prev - 1)
                w.write_gamma(length - p.min_interval_length)
                prev = left + length
            extras = residuals
    # residuals
    if extras:
        wr_res(int2nat(extras[0] - x))
        for i in range(1, len(extras)):
            wr_res(extras[i] - extras[i - 1] - 1)


def to_csr(adjacency: list[list[int]]) -> tuple[np.ndarray, np.ndarray]:
    """Adjacency lists -> CSR: flat int32 ``values`` and n+1 int64
    ``list_offsets``."""
    list_offsets = np.zeros(len(adjacency) + 1, dtype=np.int64)
    np.cumsum([len(a) for a in adjacency], out=list_offsets[1:])
    values = np.fromiter(
        (v for a in adjacency for v in a), dtype=np.int32, count=int(list_offsets[-1])
    )
    return values, list_offsets


def encode_graph(
    adjacency: list[list[int]],
    p: BVGraphProperties | None = None,
    **props_kw,
) -> tuple[bytes, bytes, BVGraphProperties]:
    """Encode an adjacency list into (.graph bytes, .offsets bytes, props):
    the whole graph as one segment, so references may reach back across
    every node (full cross-node reference selection)."""
    values, list_offsets = to_csr(adjacency)
    if p is None:
        p = BVGraphProperties(nodes=len(adjacency), arcs=len(values), **props_kw)
    else:
        p.nodes, p.arcs = len(adjacency), len(values)
    p.validate()
    _, graph_bytes, offsets = encode_segment_csr(values, list_offsets, 0, p)
    return graph_bytes, encode_offsets(offsets, p)[1], p


def encode_segment_py(
    adj: list[list[int]], first_src: int, p: BVGraphProperties
) -> tuple[int, bytes, list[int]]:
    """Encode a window-isolated segment: nodes ``first_src + i`` with
    local reference selection (refs stay inside the segment). Per node it
    tries ref=0 plus every window candidate whose chain depth stays within
    max_ref_count and keeps the encoding with the fewest bits (measured
    exactly on a scratch writer) — the executable spec for the C encoder.
    Lists must be strictly ascending; ``encode_segment_csr`` checks that.

    Returns (nbits, buffer of ceil(nbits/8) bytes, n+1 bit offsets).
    """
    w = BitWriter()
    offsets = [0]
    ref_counts = [0] * max(p.window_size + 1, 1)
    for local_x, succ in enumerate(adj):
        x = first_src + local_x
        best: tuple[int, int] | None = None
        candidates = [0]
        if p.window_size > 0:
            for r in range(1, min(p.window_size, local_x) + 1):
                if ref_counts[(local_x - r) % len(ref_counts)] + 1 <= p.max_ref_count:
                    candidates.append(r)
        for r in candidates:
            scratch = BitWriter()
            _encode_node(
                scratch, p, x, succ, r, adj[local_x - r] if r > 0 else None
            )
            if best is None or scratch.nbits < best[0]:
                best = (scratch.nbits, r)
        r = best[1]
        ref_counts[local_x % len(ref_counts)] = (
            0 if r == 0 else ref_counts[(local_x - r) % len(ref_counts)] + 1
        )
        _encode_node(w, p, x, succ, r, adj[local_x - r] if r > 0 else None)
        offsets.append(w.nbits)
    return w.nbits, w.to_bytes(), offsets


def encode_segment_csr(
    values, list_offsets, first_src: int, p: BVGraphProperties
) -> tuple[int, bytes, np.ndarray]:
    """Segment encode from CSR adjacency (flat ``values`` int32 + n+1
    ``list_offsets`` int64) — the layout Arrow list columns already use,
    so the sink's mapInArrow path feeds the kernel without materializing
    per-row Python lists.

    Returns (nbits, buffer of ceil(nbits/8) bytes, n+1 int64 bit offsets).
    """
    # BVGraph lists are strictly ascending successor sets; both encoders
    # assume it and would emit undecodable bits otherwise (gap coding
    # goes negative). A non-positive gap is legal only at a list boundary.
    if len(values) > 1:
        bad = np.flatnonzero(np.diff(values) <= 0) + 1
        if len(bad):
            starts = np.asarray(list_offsets[1:-1], dtype=np.int64)
            bad = np.setdiff1d(bad, starts, assume_unique=False)
            if len(bad):
                node = int(np.searchsorted(list_offsets, bad[0], side="right") - 1)
                raise ValueError(
                    f"node {first_src + node}: successor list must be "
                    "strictly ascending (sorted, duplicate-free) — "
                    "sort_array() the adj column (and dedup) before encoding"
                )
    res = native.encode_segment(values, list_offsets, first_src, p)
    if res is not None:
        return res
    adj = [
        values[list_offsets[i] : list_offsets[i + 1]].tolist()
        for i in range(len(list_offsets) - 1)
    ]
    nbits, buf, offsets = encode_segment_py(adj, first_src, p)
    return nbits, buf, np.asarray(offsets, dtype=np.int64)


def encode_offsets(positions, p: BVGraphProperties) -> tuple[int, bytes]:
    """Delta-code a monotone run of bit positions, starting from 0, in
    the offsets code. Returns (nbits, bytes of ceil(nbits/8)), pad bits
    zero. A whole ``.offsets`` stream is the encode of all n+1 positions
    (the first one, 0, codes as 0)."""
    arr = np.asarray(positions, dtype=np.int64)
    res = native.encode_deltas(arr, 0, p.offset_code, p.zeta_k)
    if res is not None:
        return res
    w = BitWriter()
    wr = w.make_writer(p.offset_code, p.zeta_k)
    last = 0
    for v in arr.tolist():
        wr(v - last)
        last = v
    return w.nbits, w.to_bytes()


# ---------------------------------------------------------------------------
# decoding
# ---------------------------------------------------------------------------


def load_offsets(offsets_bytes: bytes, p: BVGraphProperties) -> np.ndarray:
    """Fold the delta-coded offsets stream into an int64 bit-position array
    (n+1 entries) — the NumPy equivalent of the reference's Elias-Fano
    list (HdfsBVGraph.java:371-387,410-436). 8 bytes/node keeps 134M nodes
    in ~1 GB driver memory; EliasFanoOffsets (below the planner) compacts
    the retained copy. A truncated stream raises ``ValueError``."""
    fast = native.decode_offsets(pad(offsets_bytes), p.nodes + 1, p.offset_code, p.zeta_k)
    if fast is not None:
        return fast
    r = BitReader(offsets_bytes)
    rd = r.make_reader(p.offset_code, p.zeta_k)
    out = np.empty(p.nodes + 1, dtype=np.int64)
    acc = 0
    try:
        for i in range(p.nodes + 1):
            acc += rd()
            out[i] = acc
    except IndexError as e:
        raise ValueError(f"corrupt or truncated .offsets stream ({e})") from e
    return out


def decode_range(
    graph_bytes: bytes,
    p: BVGraphProperties,
    from_node: int = 0,
    up_to: int | None = None,
    seed_offsets: np.ndarray | None = None,
    seed_base: int = 0,
    want_bitpos: bool = False,
) -> tuple[np.ndarray, np.ndarray, np.ndarray | None]:
    """Decode nodes [from_node, up_to) (default: to the last node) of a
    ``.graph`` buffer into CSR form.

    A mid-graph start needs ``seed_offsets``: the bit positions, within
    ``graph_bytes``, of nodes [seed_base, from_node] — enough to seed the
    reference window and the reference chains it recurses into.

    Returns (values int32[], list_offsets int64[n+1], bitpos), where
    ``bitpos`` (int64[n], the bit cursor after each node) is computed only
    when ``want_bitpos`` and is None otherwise. A corrupt or truncated
    buffer raises ``ValueError``."""
    if up_to is None:
        up_to = p.nodes
    if from_node > 0 and seed_offsets is None:
        raise ValueError("mid-graph start requires seed_offsets")
    res = native.decode_range(
        pad(graph_bytes),
        p,
        from_node,
        up_to,
        seed_offsets=seed_offsets,
        seed_base=seed_base,
        start_bit=int(seed_offsets[-1]) if from_node > 0 else 0,
        want_bitpos=want_bitpos,
    )
    if res is not None:
        return res
    offsets = None if seed_offsets is None else _OffsetSlice(seed_base, seed_offsets)
    lists, bitpos = [], []
    try:
        it = NodeIterator(graph_bytes, p, from_node, up_to, offsets)
        for _, lst in it:
            lists.append(lst)
            bitpos.append(it.reader.pos)
    except IndexError as e:
        raise ValueError(f"corrupt or truncated .graph stream ({e})") from e
    values, list_offsets = to_csr(lists)
    return values, list_offsets, np.asarray(bitpos, np.int64) if want_bitpos else None


class _OffsetSlice:
    """Absolute-indexed view over a seed offsets sub-array starting at node
    ``base``. Out-of-slice access fails loudly — a reference chain deeper
    than the planned backreach is a bug, not a wraparound."""

    __slots__ = ("base", "arr")

    def __init__(self, base: int, arr):
        self.base = base
        self.arr = arr

    def __getitem__(self, i: int) -> int:
        j = i - self.base
        if j < 0 or j >= len(self.arr):
            raise IndexError(
                f"node {i} outside shipped offsets slice "
                f"[{self.base}, {self.base + len(self.arr)})"
            )
        return int(self.arr[j])


class _Decoder:
    """Shared decode state over one .graph buffer."""

    def __init__(self, graph_bytes: bytes, p: BVGraphProperties, offsets: np.ndarray | None = None):
        self.data = graph_bytes
        self.p = p
        self.offsets = offsets

    def decode_node_random(self, x: int) -> list[int]:
        """Random-access decode of node x (offsets required); recurses into
        the reference chain like HdfsBVGraph.successors with window=None
        (HdfsBVGraph.java:189)."""
        assert self.offsets is not None, "random access requires offsets"
        r = BitReader(self.data, int(self.offsets[x]))
        return self._decode_at(r, x, window=None, outd=None)

    def _decode_at(
        self,
        r: BitReader,
        x: int,
        window: list[list[int]] | None,
        outd: list[int] | None,
    ) -> list[int]:
        p = self.p
        rd_out, rd_ref, rd_bcnt, rd_blk, rd_res = (
            r.make_reader(code, p.zeta_k)
            for code in (
                p.outdegree_code,
                p.reference_code,
                p.block_count_code,
                p.block_code,
                p.residual_code,
            )
        )
        cyclic = p.window_size + 1

        d = rd_out()
        if window is not None:
            outd[x % cyclic] = d
        if d == 0:
            return []

        ref = rd_ref() if p.window_size > 0 else -1

        copied: list[int] = []
        extra_count = d
        if ref > 0:
            block_count = rd_bcnt()
            blocks = []
            for i in range(block_count):
                b = rd_blk() + (0 if i == 0 else 1)
                blocks.append(b)
            if window is not None:
                ref_list = window[(x - ref + cyclic) % cyclic][: outd[(x - ref + cyclic) % cyclic]]
            else:
                ref_list = self.decode_node_random(x - ref)
            # apply copy/skip mask
            pos = 0
            copying = True
            for b in blocks:
                if copying:
                    copied.extend(ref_list[pos : pos + b])
                pos += b
                copying = not copying
            if len(blocks) % 2 == 0:
                copied.extend(ref_list[pos:])  # implicit trailing copy run
            extra_count = d - len(copied)

        intervals: list[int] = []
        if extra_count > 0 and p.min_interval_length > 0:
            interval_count = r.read_gamma()
            prev = 0
            for i in range(interval_count):
                if i == 0:
                    left = nat2int(r.read_gamma()) + x
                else:
                    left = r.read_gamma() + prev + 1
                length = r.read_gamma() + p.min_interval_length
                intervals.extend(range(left, left + length))
                prev = left + length
                extra_count -= length

        residuals: list[int] = []
        if extra_count > 0:
            v = x + nat2int(rd_res())
            residuals.append(v)
            for _ in range(extra_count - 1):
                v += rd_res() + 1
                residuals.append(v)

        if not copied and not intervals:
            return residuals
        # merge three already-sorted streams (mirrors MergedIntIterator);
        # Timsort's run detection makes concat+sort the fastest merge here
        return sorted(copied + intervals + residuals)


class NodeIterator:
    """Sequential decode over [from_node, upper_bound) with the cyclic
    reference window, seeding mid-graph starts by random access
    (HdfsBVGraph.java:221-229 equivalent)."""

    def __init__(
        self,
        graph_bytes: bytes,
        p: BVGraphProperties,
        from_node: int = 0,
        upper_bound: int | None = None,
        offsets: np.ndarray | None = None,
    ):
        self.dec = _Decoder(graph_bytes, p, offsets)
        self.p = p
        self.n = p.nodes
        self.from_node = from_node
        self.upper = min(self.n, upper_bound if upper_bound is not None else self.n)
        cyclic = p.window_size + 1
        self.window: list[list[int]] = [[] for _ in range(cyclic)]
        self.outd = [0] * cyclic
        self.reader = BitReader(graph_bytes)
        if from_node > 0:
            if offsets is None:
                raise ValueError("mid-graph start requires offsets")
            for i in range(1, min(from_node + 1, cyclic)):
                pos = (from_node - i) % cyclic
                lst = self.dec.decode_node_random(from_node - i)
                self.window[pos] = lst
                self.outd[pos] = len(lst)
            self.reader.position(int(offsets[from_node]))
        self.curr = from_node - 1

    def __iter__(self):
        return self

    def __next__(self) -> tuple[int, list[int]]:
        if self.curr >= self.upper - 1:
            raise StopIteration
        self.curr += 1
        x = self.curr
        cyclic = self.p.window_size + 1
        lst = self.dec._decode_at(self.reader, x, self.window, self.outd)
        self.window[x % cyclic] = lst
        self.outd[x % cyclic] = len(lst)
        return x, lst


def decode_all(graph_bytes: bytes, p: BVGraphProperties) -> list[list[int]]:
    return [lst for _, lst in NodeIterator(graph_bytes, p)]


@dataclass
class BVGraphFiles:
    """On-disk triple basename.{graph,offsets,properties}."""

    basename: str

    def write(self, graph_bytes: bytes, offsets_bytes: bytes, p: BVGraphProperties) -> None:
        from .properties import format_properties

        with open(self.basename + ".graph", "wb") as f:
            f.write(graph_bytes)
        with open(self.basename + ".offsets", "wb") as f:
            f.write(offsets_bytes)
        with open(self.basename + ".properties", "w") as f:
            f.write(format_properties(p))

    def read(self) -> tuple[bytes, bytes, BVGraphProperties]:
        from .properties import parse_properties

        with open(self.basename + ".properties") as f:
            p = parse_properties(f.read())
        with open(self.basename + ".graph", "rb") as f:
            g = f.read()
        with open(self.basename + ".offsets", "rb") as f:
            o = f.read()
        return g, o, p


def write_offsets(graph_bytes: bytes, p: BVGraphProperties) -> bytes:
    """Regenerate the offsets stream by a full sequential decode — the
    reference's only sink (writeOffsets, HdfsBVGraph.java:394-408)."""
    _, _, bitpos = decode_range(graph_bytes, p, want_bitpos=True)
    return encode_offsets(np.concatenate([[0], bitpos]), p)[1]
