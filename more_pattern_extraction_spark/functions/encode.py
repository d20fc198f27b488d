"""Chunk codecs: delta-of-delta timestamps + Gorilla-XOR float streams.

Implements the value/timestamp compression scheme of the Gorilla TSDB
paper (Pelkonen et al., "Gorilla: A Fast, Scalable, In-Memory Time Series
Database", VLDB 2015 — public) for the engine's per-partition chunk
structs (BASELINE.json north rule).  These are *queryable artifacts* —
Parquet's own page encodings are orthogonal storage-level concerns.

Pure functions over numpy arrays; used inside grouped pandas UDFs
(operators/chunks.py), never per Spark row.  The bit-packing loop is
per-chunk Python-over-ints (chunks are a few thousand points); a numba/C
kernel is a drop-in upgrade since the wire format is fixed.

Wire formats
------------
timestamps (int64, e.g. epoch-us bucket starts):
  [first:64][delta0: zigzag-varint] then per point a DoD token:
  '0' → dod == 0
  '10'   + 7-bit  zigzag(dod)   (|dod| < 2^6)
  '110'  + 14-bit zigzag(dod)   (|dod| < 2^13)
  '1110' + 24-bit zigzag(dod)   (|dod| < 2^23)
  '1111' + 64-bit zigzag(dod)
values (float64, NaN-safe — NaN is a bit pattern like any other):
  [first:64] then per point:
  '0' → identical to previous (xor == 0)
  '10' + meaningful bits, reusing the previous (lz, mbits) block
  '11' + 5-bit lz + 6-bit (mbits-1) + mbits meaningful bits
"""

from __future__ import annotations

import numpy as np

_MASK64 = (1 << 64) - 1


class BitWriter:
    __slots__ = ("buf", "acc", "nbits")

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, nbits: int) -> None:
        self.acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        self.nbits += nbits
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def getvalue(self) -> bytes:
        if self.nbits:
            return bytes(self.buf) + bytes([(self.acc << (8 - self.nbits)) & 0xFF])
        return bytes(self.buf)


class BitReader:
    __slots__ = ("data", "pos")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0

    def read(self, nbits: int) -> int:
        pos = self.pos
        self.pos = pos + nbits
        if nbits == 1:
            return (self.data[pos >> 3] >> (7 - (pos & 7))) & 1
        byte_start = pos >> 3
        byte_end = (pos + nbits + 7) >> 3
        chunk = int.from_bytes(self.data[byte_start:byte_end], "big")
        shift = (byte_end - byte_start) * 8 - (pos - (byte_start << 3)) - nbits
        return (chunk >> shift) & ((1 << nbits) - 1)


def _zigzag(v: int) -> int:
    return (v << 1) ^ (v >> 63) if v >= 0 else ((-v) << 1) - 1


def _unzigzag(u: int) -> int:
    return (u >> 1) if (u & 1) == 0 else -((u + 1) >> 1)


def _wrap64(v: int) -> int:
    """Reduce to signed int64 (numpy diff/cumsum arithmetic is modular)."""
    v &= _MASK64
    return v - (1 << 64) if v >= (1 << 63) else v


def encode_dod(ts: np.ndarray) -> bytes:
    """Delta-of-delta encode an int64 array (non-decreasing not required)."""
    ts = np.asarray(ts, dtype=np.int64)
    n = len(ts)
    w = BitWriter()
    if n == 0:
        return w.getvalue()
    w.write(int(ts[0]) & _MASK64, 64)
    if n == 1:
        return w.getvalue()
    deltas = np.diff(ts)
    w.write(_zigzag(int(deltas[0])) & _MASK64, 64)
    dods = np.diff(deltas)
    for d in dods.tolist():
        if d == 0:
            w.write(0, 1)
            continue
        z = _zigzag(d)
        if z < (1 << 7):
            w.write(0b10, 2)
            w.write(z, 7)
        elif z < (1 << 14):
            w.write(0b110, 3)
            w.write(z, 14)
        elif z < (1 << 24):
            w.write(0b1110, 4)
            w.write(z, 24)
        else:
            w.write(0b1111, 4)
            w.write(z & _MASK64, 64)
    return w.getvalue()


def decode_dod(buf: bytes, n: int) -> np.ndarray:
    out = np.empty(n, dtype=np.int64)
    if n == 0:
        return out
    r = BitReader(buf)
    first = r.read(64)
    if first >= 1 << 63:
        first -= 1 << 64
    out[0] = first
    if n == 1:
        return out
    delta = _unzigzag(r.read(64))
    out[1] = _wrap64(int(out[0]) + delta)
    for i in range(2, n):
        if r.read(1) == 0:
            dod = 0
        else:
            if r.read(1) == 0:
                dod = _unzigzag(r.read(7))
            elif r.read(1) == 0:
                dod = _unzigzag(r.read(14))
            elif r.read(1) == 0:
                dod = _unzigzag(r.read(24))
            else:
                dod = _unzigzag(r.read(64))
        delta = _wrap64(delta + dod)
        out[i] = _wrap64(int(out[i - 1]) + delta)
    return out


def encode_gorilla(vals: np.ndarray) -> bytes:
    """Gorilla XOR-encode a float64 array (NaNs round-trip bit-exactly)."""
    bits = np.asarray(vals, dtype=np.float64).view(np.uint64)
    n = len(bits)
    w = BitWriter()
    if n == 0:
        return w.getvalue()
    prev = int(bits[0])
    w.write(prev, 64)
    lz_prev, mb_prev = -1, -1  # previous meaningful block
    for i in range(1, n):
        cur = int(bits[i])
        x = prev ^ cur
        prev = cur
        if x == 0:
            w.write(0, 1)
            continue
        blen = x.bit_length()
        lz = 64 - blen
        if lz > 31:
            lz = 31
        tz = (x & -x).bit_length() - 1
        mb = 64 - lz - tz
        if lz_prev >= 0 and lz >= lz_prev and (64 - lz_prev - mb_prev) <= tz:
            # fits inside the previous block → '10' + reuse block
            w.write(0b10, 2)
            w.write(x >> (64 - lz_prev - mb_prev), mb_prev)
        else:
            w.write(0b11, 2)
            w.write(lz, 5)
            w.write(mb - 1, 6)
            w.write(x >> tz, mb)
            lz_prev, mb_prev = lz, mb
    return w.getvalue()


def decode_gorilla(buf: bytes, n: int) -> np.ndarray:
    out = np.empty(n, dtype=np.uint64)
    if n == 0:
        return out.view(np.float64)
    r = BitReader(buf)
    prev = r.read(64)
    out[0] = prev
    lz_prev = mb_prev = 0
    for i in range(1, n):
        if r.read(1) == 0:
            out[i] = prev
            continue
        if r.read(1) == 0:
            mbits = r.read(mb_prev)
            x = mbits << (64 - lz_prev - mb_prev)
        else:
            lz_prev = r.read(5)
            mb_prev = r.read(6) + 1
            mbits = r.read(mb_prev)
            x = mbits << (64 - lz_prev - mb_prev)
        prev ^= x
        out[i] = prev
    return out.view(np.float64)


# ---------------------------------------------------------------------------
# Vectorized batch encoders: encode EVERY chunk of an Arrow batch in one
# numpy pass (the per-chunk Python encoders above cost ~25-50 µs of fixed
# overhead each; at 10^12-turn scale chunks are numerous and small, so the
# fixed cost dominates).  Wire format is IDENTICAL — decode_dod /
# decode_gorilla read both — except the Gorilla fast path always emits
# fresh '11' blocks (never the '10' block-reuse token, whose encoder state
# is inherently sequential; for rollup-style data the xors are near-full-
# width so reuse saved ~0 bits anyway).
# ---------------------------------------------------------------------------

_U1 = np.uint64(1)


def _bit_length_u64(x: np.ndarray) -> np.ndarray:
    """Vectorized int.bit_length for uint64 arrays (exact, 6 passes)."""
    bl = np.zeros(x.shape, dtype=np.uint64)
    v = x.copy()
    for sh in (32, 16, 8, 4, 2, 1):
        shl = np.uint64(sh)
        m = v >= (_U1 << shl)
        bl[m] += shl
        v[m] >>= shl
    bl += (v > 0).astype(np.uint64)
    return bl


def pack_bitfields(
    vals: np.ndarray, nbits: np.ndarray, chunk_ids: np.ndarray, n_chunks: int
) -> list[bytes]:
    """Pack variable-width MSB-first bit fields (grouped and ordered by
    chunk) into one byte-aligned ``bytes`` per chunk — fully vectorized.

    Equivalent to running BitWriter per chunk: fields stream MSB-first,
    each chunk's stream is zero-padded to a byte boundary."""
    vals = vals.astype(np.uint64, copy=False)
    nbits = nbits.astype(np.int64, copy=False)
    bits_per_chunk = np.bincount(chunk_ids, weights=nbits, minlength=n_chunks).astype(np.int64)
    pad = (-bits_per_chunk) % 8
    # append one zero pad-field per chunk; a stable sort keyed only by
    # (chunk, is_pad) moves each pad to its chunk's end without disturbing
    # field order
    v2 = np.concatenate([vals, np.zeros(n_chunks, np.uint64)])
    b2 = np.concatenate([nbits, pad])
    key = np.concatenate(
        [chunk_ids.astype(np.int64) * 2, np.arange(n_chunks, dtype=np.int64) * 2 + 1]
    )
    order = np.argsort(key, kind="stable")
    v2, b2 = v2[order], b2[order]
    total = int(b2.sum())
    nbytes = (bits_per_chunk + pad) // 8
    offs = np.concatenate([[0], np.cumsum(nbytes)])
    if total == 0:
        return [b""] * n_chunks
    starts = np.concatenate([[0], np.cumsum(b2)])[:-1]
    fidx = np.repeat(np.arange(len(b2)), b2)
    pif = np.arange(total, dtype=np.int64) - np.repeat(starts, b2)
    shifts = (b2[fidx] - 1 - pif).astype(np.uint64)
    bits = ((v2[fidx] >> shifts) & _U1).astype(np.uint8)
    buf = np.packbits(bits).tobytes()  # MSB-first, zero-padded — BitWriter-compatible
    return [buf[offs[c]: offs[c + 1]] for c in range(n_chunks)]


def _zigzag_vec(d: np.ndarray) -> np.ndarray:
    """Vectorized zigzag on int64 (wrapping arithmetic matches the scalar
    encoder's 64-bit-masked output bit-for-bit)."""
    with np.errstate(over="ignore"):
        return ((d << np.int64(1)) ^ (d >> np.int64(63))).view(np.uint64)


def encode_dod_many(
    ts: np.ndarray, chunk_ids: np.ndarray, n_chunks: int
) -> list[bytes]:
    """DoD-encode many chunks at once: ``ts`` int64 rows sorted by
    (chunk, time), ``chunk_ids`` the parallel chunk index per row."""
    ts = np.asarray(ts, dtype=np.int64)
    chunk_ids = np.asarray(chunk_ids, dtype=np.int64)
    n = len(ts)
    counts = np.bincount(chunk_ids, minlength=n_chunks)
    starts = np.concatenate([[0], np.cumsum(counts)])[:-1]
    intra = np.arange(n, dtype=np.int64) - np.repeat(starts, counts)

    fm = intra == 0
    f_chunk, f_val = chunk_ids[fm], ts[fm].view(np.uint64)
    f_seq = np.zeros(fm.sum(), np.int64)
    f_bits = np.full(fm.sum(), 64, np.int64)

    dm = intra == 1
    didx = np.flatnonzero(dm)
    d0 = ts[didx] - ts[didx - 1]
    d_chunk, d_val = chunk_ids[didx], _zigzag_vec(d0)
    d_seq = np.ones(len(didx), np.int64)
    d_bits = np.full(len(didx), 64, np.int64)

    tm = intra >= 2
    tidx = np.flatnonzero(tm)
    with np.errstate(over="ignore"):
        dod = ts[tidx] - 2 * ts[tidx - 1] + ts[tidx - 2]
    z = _zigzag_vec(dod)
    c0 = dod == 0
    c1 = ~c0 & (z < (_U1 << np.uint64(7)))
    c2 = ~c0 & ~c1 & (z < (_U1 << np.uint64(14)))
    c3 = ~c0 & ~c1 & ~c2 & (z < (_U1 << np.uint64(24)))
    hdr_val = np.select([c0, c1, c2, c3], [0, 0b10, 0b110, 0b1110], 0b1111).astype(np.uint64)
    hdr_bits = np.select([c0, c1, c2, c3], [1, 2, 3, 4], 4).astype(np.int64)
    pay_bits = np.select([c0, c1, c2, c3], [0, 7, 14, 24], 64).astype(np.int64)
    t = intra[tidx] - 2
    h_chunk, h_seq = chunk_ids[tidx], 2 + 2 * t
    pm = pay_bits > 0
    p_chunk, p_seq = chunk_ids[tidx][pm], (3 + 2 * t)[pm]
    p_val, p_bits = z[pm], pay_bits[pm]

    chunk = np.concatenate([f_chunk, d_chunk, h_chunk, p_chunk])
    seq = np.concatenate([f_seq, d_seq, h_seq, p_seq])
    val = np.concatenate([f_val, d_val, hdr_val, p_val])
    bits = np.concatenate([f_bits, d_bits, hdr_bits, p_bits])
    order = np.lexsort((seq, chunk))
    return pack_bitfields(val[order], bits[order], chunk[order], n_chunks)


def encode_gorilla_many(
    vals: np.ndarray, chunk_ids: np.ndarray, n_chunks: int
) -> list[bytes]:
    """Gorilla-XOR-encode many chunks at once (always-fresh '11' blocks)."""
    bits64 = np.ascontiguousarray(np.asarray(vals, dtype=np.float64)).view(np.uint64)
    chunk_ids = np.asarray(chunk_ids, dtype=np.int64)
    n = len(bits64)
    counts = np.bincount(chunk_ids, minlength=n_chunks)
    starts = np.concatenate([[0], np.cumsum(counts)])[:-1]
    intra = np.arange(n, dtype=np.int64) - np.repeat(starts, counts)

    fm = intra == 0
    f_chunk, f_val = chunk_ids[fm], bits64[fm]
    f_seq = np.zeros(fm.sum(), np.int64)
    f_bits = np.full(fm.sum(), 64, np.int64)

    tm = intra >= 1
    tidx = np.flatnonzero(tm)
    x = bits64[tidx] ^ bits64[tidx - 1]
    zero = x == 0
    bl = _bit_length_u64(x)
    lz = np.minimum(np.uint64(31), np.uint64(64) - bl)
    low = x & (~x + _U1)
    tz = np.where(zero, np.uint64(0), _bit_length_u64(low) - _U1)
    mb = np.uint64(64) - lz - tz
    # header: '0' for xor==0; else '11'+5-bit lz+6-bit (mb-1), merged into
    # one ≤13-bit field; payload = meaningful bits (x >> tz, mb wide)
    hdr_val = np.where(
        zero, np.uint64(0),
        (np.uint64(0b11) << np.uint64(11)) | (lz << np.uint64(6)) | (mb - _U1),
    )
    hdr_bits = np.where(zero, 1, 13).astype(np.int64)
    t = intra[tidx] - 1
    h_chunk, h_seq = chunk_ids[tidx], 1 + 2 * t
    pm = ~zero
    p_chunk, p_seq = chunk_ids[tidx][pm], (2 + 2 * t)[pm]
    p_val = (x >> tz)[pm]
    p_bits = mb[pm].astype(np.int64)

    chunk = np.concatenate([f_chunk, h_chunk, p_chunk])
    seq = np.concatenate([f_seq, h_seq, p_seq])
    val = np.concatenate([f_val, hdr_val, p_val])
    bits = np.concatenate([f_bits, hdr_bits, p_bits])
    order = np.lexsort((seq, chunk))
    return pack_bitfields(val[order], bits[order], chunk[order], n_chunks)
