"""Bit-level I/O for the BVGraph format: MSB-first bit streams and the
instantaneous codes the format uses (unary, Elias gamma/delta,
Boldi-Vigna zeta-k, nibble).

Semantics follow the published WebGraph format (Boldi & Vigna, "The
WebGraph Framework I: Compression Techniques", WWW 2004) as exercised by
the reference's decoder (/root/reference/.../HdfsBVGraph.java:98-201 reads
these codes via readOutdegree/readReference/readBlock/readResidual). This
is an independent implementation: pure Python over bytes/bytearray, MSB
first within each byte, matching the dsiutils InputBitStream bit order the
reference relies on.

The readers are the plain executable spec of each code, not a fast path:
the C kernel (``native``) does the decoding every workload runs, and the
hypothesis suite pins it to these definitions.

Code ids match the BVGraph compressionflags nibble values
(HdfsBVGraph.java:307-315 unpacks one 4-bit code id per field):
DELTA=1 GAMMA=2 UNARY=7 ZETA=8 NIBBLE=9 (GOLOMB/ARITH/INTERP unsupported,
as in the reference's own BVGraph decode path).
"""

from __future__ import annotations

DELTA = 1
GAMMA = 2
UNARY = 7
ZETA = 8
NIBBLE = 9

CODE_NAMES = {
    "DELTA": DELTA,
    "GAMMA": GAMMA,
    "UNARY": UNARY,
    "ZETA": ZETA,
    "NIBBLE": NIBBLE,
}


def int2nat(x: int) -> int:
    """Zigzag: 0,-1,1,-2,2… -> 0,1,2,3,4… (Fast.int2nat equivalent)."""
    return 2 * x if x >= 0 else -2 * x - 1


def nat2int(x: int) -> int:
    """Inverse zigzag (Fast.nat2int equivalent)."""
    return x >> 1 if (x & 1) == 0 else -((x >> 1) + 1)


_PAD = b"\x00" * 16  # native subtracts this length back off


def pad(data: bytes) -> bytes:
    """Zero-pad a buffer for the C kernel (``native``), whose word-wide
    reads may touch up to 16 bytes past the last code."""
    return data + _PAD


class BitReader:
    """MSB-first bit reader over a bytes-like buffer. Each code is read
    by its textbook definition from ``read_unary``, ``read_int`` and
    ``read_bit``; a read past the end of the buffer raises
    ``IndexError``."""

    __slots__ = ("data", "pos")

    def __init__(self, data: bytes, pos_bits: int = 0):
        self.data = data
        self.pos = pos_bits

    def position(self, pos_bits: int) -> None:
        self.pos = pos_bits

    def read_bit(self) -> int:
        p = self.pos
        self.pos = p + 1
        return (self.data[p >> 3] >> (7 - (p & 7))) & 1

    def read_int(self, k: int) -> int:
        """Read k bits as an unsigned big-endian integer."""
        p = self.pos
        end = p + k
        if end > len(self.data) << 3:
            raise IndexError(
                f"{k}-bit read at bit {p} runs past the {len(self.data)}-byte buffer"
            )
        self.pos = end
        if k == 0:
            return 0
        first = p >> 3
        last = (end - 1) >> 3
        chunk = int.from_bytes(self.data[first : last + 1], "big")
        return (chunk >> (((last + 1) << 3) - end)) & ((1 << k) - 1)

    def read_unary(self) -> int:
        """Count 0-bits until the terminating 1-bit, a byte at a time."""
        data = self.data
        p = self.pos
        n = 0
        while True:
            rem = 8 - (p & 7)
            window = data[p >> 3] & ((1 << rem) - 1)
            if window == 0:
                n += rem
                p += rem
                continue
            lead = rem - window.bit_length()
            n += lead
            p += lead + 1
            self.pos = p
            return n

    def read_gamma(self) -> int:
        """gamma(x): msb(x+1) in unary, then the msb low bits of x+1."""
        msb = self.read_unary()
        return ((1 << msb) | self.read_int(msb)) - 1

    def read_delta(self) -> int:
        """delta(x): msb(x+1) in gamma, then the msb low bits of x+1."""
        msb = self.read_gamma()
        return ((1 << msb) | self.read_int(msb)) - 1

    def read_zeta(self, k: int) -> int:
        """zeta_k(x): h = msb(x+1) // k in unary, then x+1 in a minimal
        binary code over [2^(hk), 2^((h+1)k)): hk+k-1 bits, plus one more
        bit for the upper part of the interval."""
        h = self.read_unary()
        left = 1 << (h * k)
        m = self.read_int(h * k + k - 1)
        if m < left:
            return m + left - 1
        return (m << 1) + self.read_bit() - 1

    def read_nibble(self) -> int:
        x = 0
        while True:
            x <<= 3
            stop = self.read_bit()
            x |= self.read_int(3)
            if stop:
                return x

    def make_reader(self, code: int, zeta_k: int = 3):
        """Bind a code id to a zero-arg read callable."""
        if code == GAMMA:
            return self.read_gamma
        if code == DELTA:
            return self.read_delta
        if code == UNARY:
            return self.read_unary
        if code == ZETA:
            return lambda: self.read_zeta(zeta_k)
        if code == NIBBLE:
            return self.read_nibble
        raise ValueError(f"unsupported code id {code}")


class BitWriter:
    """MSB-first bit writer accumulating into a bytearray."""

    __slots__ = ("buf", "cur", "fill", "nbits")

    def __init__(self):
        self.buf = bytearray()
        self.cur = 0  # partial byte
        self.fill = 0  # bits used in cur
        self.nbits = 0

    def write_bit(self, b: int) -> None:
        self.cur = (self.cur << 1) | (b & 1)
        self.fill += 1
        self.nbits += 1
        if self.fill == 8:
            self.buf.append(self.cur)
            self.cur = 0
            self.fill = 0

    def write_int(self, x: int, k: int) -> None:
        """Write the k low bits of x, MSB first."""
        if k == 0:
            return
        self.nbits += k
        fill = self.fill
        cur = (self.cur << k) | (x & ((1 << k) - 1))
        fill += k
        while fill >= 8:
            fill -= 8
            self.buf.append((cur >> fill) & 0xFF)
        self.cur = cur & ((1 << fill) - 1)
        self.fill = fill

    def write_unary(self, x: int) -> None:
        while x >= 32:
            self.write_int(0, 32)
            x -= 32
        self.write_int(1, x + 1)

    def write_gamma(self, x: int) -> None:
        v = x + 1
        msb = v.bit_length() - 1
        self.write_unary(msb)
        self.write_int(v, msb)  # low msb bits (implicit leading 1 dropped)

    def write_delta(self, x: int) -> None:
        v = x + 1
        msb = v.bit_length() - 1
        self.write_gamma(msb)
        self.write_int(v, msb)

    def write_zeta(self, x: int, k: int) -> None:
        v = x + 1
        h = (v.bit_length() - 1) // k
        self.write_unary(h)
        left = 1 << (h * k)
        if v - left < left:
            self.write_int(v - left, h * k + k - 1)
        else:
            self.write_int(v, h * k + k)

    def write_nibble(self, x: int) -> None:
        groups = []
        while True:
            groups.append(x & 0x7)
            x >>= 3
            if x == 0:
                break
        for i in range(len(groups) - 1, -1, -1):
            self.write_bit(1 if i == 0 else 0)
            self.write_int(groups[i], 3)

    def make_writer(self, code: int, zeta_k: int = 3):
        if code == GAMMA:
            return self.write_gamma
        if code == DELTA:
            return self.write_delta
        if code == UNARY:
            return self.write_unary
        if code == ZETA:
            return lambda x: self.write_zeta(x, zeta_k)
        if code == NIBBLE:
            return self.write_nibble
        raise ValueError(f"unsupported code id {code}")

    def to_bytes(self) -> bytes:
        out = bytes(self.buf)
        if self.fill:
            out += bytes([(self.cur << (8 - self.fill)) & 0xFF])
        return out
