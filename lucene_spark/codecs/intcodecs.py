"""Vectorized integer codecs for postings blocks.

numpy re-implementations of the codec *semantics* used by the reference's
postings format (behavioral reference, not a port):

- VByte (store/DataOutput.java writeVInt): 7-bit groups, MSB continuation.
- FOR: fixed-bit-width packing of a block (codecs/lucene103/ForUtil.java:32).
- FOR-delta: delta-encode then pack; decode = unpack + cumsum
  (codecs/lucene103/ForDeltaUtil.java:28-60).
- PFOR: patched FOR with <=7 exceptions (codecs/lucene103/PForUtil.java:30).
- Unary bitset: docids of a dense block as a bitmap
  (codecs/lucene103/Lucene103PostingsWriter.java:438-455).

All functions operate on non-negative int arrays and raw ``bytes``.
"""

from __future__ import annotations

import numpy as np

from ..constants import PFOR_MAX_EXCEPTIONS

__all__ = [
    "vbyte_encode",
    "vbyte_decode",
    "bits_required",
    "for_pack",
    "for_unpack",
    "pfor_encode",
    "pfor_decode",
    "bitset_encode",
    "bitset_decode",
]


def vbyte_encode(values: np.ndarray) -> bytes:
    """Variable-byte encode non-negative ints (<= 2^35-1 per value)."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    # fast path: every value fits one byte (freqs and most doc deltas) —
    # the encoded stream IS the byte array
    if int(v.max()) < 0x80:
        return v.astype(np.uint8).tobytes()
    nbytes = np.ones(v.size, dtype=np.int64)
    for k in range(1, 5):
        nbytes += (v >= (np.uint64(1) << np.uint64(7 * k))).astype(np.int64)
    starts = np.zeros(v.size, dtype=np.int64)
    np.cumsum(nbytes[:-1], out=starts[1:])
    out = np.zeros(int(nbytes.sum()), dtype=np.uint8)
    cur = v.copy()
    remaining = nbytes.copy()
    for k in range(5):
        active = remaining > 0
        if not active.any():
            break
        byte = (cur & np.uint64(0x7F)).astype(np.uint8)
        byte[remaining > 1] |= 0x80
        out[starts[active] + k] = byte[active]
        cur >>= np.uint64(7)
        remaining -= 1
    return out.tobytes()


def vbyte_encode_concat(
    values: np.ndarray, bounds: np.ndarray
) -> tuple[bytes, np.ndarray]:
    """VByte-encode many groups in ONE pass.

    ``bounds`` are group boundaries into ``values`` (len = n_groups+1, as
    from cumsum). Returns (stream, byte_offsets) where group g's encoding is
    ``stream[byte_offsets[g]:byte_offsets[g+1]]`` — byte-identical to
    per-group ``vbyte_encode`` calls (VByte is per-value independent), but
    ~50x cheaper than one numpy call per group.
    """
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b"", np.zeros(len(bounds), dtype=np.int64)
    # fast path (same as vbyte_encode): one byte per value means byte
    # offsets ARE the value bounds
    if int(v.max()) < 0x80:
        return v.astype(np.uint8).tobytes(), np.asarray(bounds, dtype=np.int64)
    nbytes = np.ones(v.size, dtype=np.int64)
    for k in range(1, 5):
        nbytes += (v >= (np.uint64(1) << np.uint64(7 * k))).astype(np.int64)
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    cur = v.copy()
    remaining = nbytes.copy()
    for k in range(5):
        active = remaining > 0
        if not active.any():
            break
        byte = (cur & np.uint64(0x7F)).astype(np.uint8)
        byte[remaining > 1] |= 0x80
        out[starts[active] + k] = byte[active]
        cur >>= np.uint64(7)
        remaining -= 1
    offsets = np.zeros(len(bounds), dtype=np.int64)
    offsets[1:] = ends[np.asarray(bounds[1:], dtype=np.int64) - 1]
    return out.tobytes(), offsets


def vbyte_decode(data: bytes, n: int | None = None) -> np.ndarray:
    """Decode a VByte stream to an int64 array; with ``n``, raise
    ValueError unless it holds exactly ``n`` values."""
    if not data:
        return np.zeros(0, dtype=np.int64)
    b = np.frombuffer(data, dtype=np.uint8)
    if b.max() < 0x80:  # every value one byte (freqs, most deltas)
        out = b.astype(np.int64)
    else:
        ends = np.flatnonzero(b < 0x80)
        if not ends.size or ends[-1] != b.size - 1:
            raise ValueError("truncated VByte stream")
        starts = np.empty(ends.size, dtype=np.int64)
        starts[0] = 0
        starts[1:] = ends[:-1] + 1
        out = (b[starts] & 0x7F).astype(np.int64)
        # one pass per byte place (at most 5), over the values that long
        longer = np.flatnonzero(ends > starts)
        place = 1
        while longer.size:
            at = starts[longer] + place
            out[longer] |= (b[at] & 0x7F).astype(np.int64) << (7 * place)
            longer = longer[ends[longer] > at]
            place += 1
    if n is not None and out.size != n:
        raise ValueError(f"expected {n} values, decoded {out.size}")
    return out


def bits_required(values: np.ndarray) -> int:
    """Bits needed to represent max(values) (>=0); 0 for all-zero/empty."""
    v = np.asarray(values, dtype=np.int64)
    if v.size == 0:
        return 0
    m = int(v.max())
    return m.bit_length()


def for_pack(values: np.ndarray, width: int) -> bytes:
    """Pack ints at fixed bit width (little-endian bit order)."""
    v = np.asarray(values, dtype=np.uint64)
    if width == 0 or v.size == 0:
        return b""
    shifts = np.arange(width, dtype=np.uint64)
    bits = ((v[:, None] >> shifts) & np.uint64(1)).astype(np.uint8)
    return np.packbits(bits.ravel(), bitorder="little").tobytes()


def for_unpack(data: bytes, n: int, width: int) -> np.ndarray:
    """Inverse of for_pack."""
    if width == 0:
        return np.zeros(n, dtype=np.int64)
    flat = np.unpackbits(
        np.frombuffer(data, dtype=np.uint8), count=n * width, bitorder="little"
    )
    bits = flat.reshape(n, width).astype(np.uint64)
    shifts = np.arange(width, dtype=np.uint64)
    return (bits << shifts).sum(axis=1).astype(np.int64)


def pfor_encode(values: np.ndarray) -> bytes:
    """Patched FOR: pack at the width of the (n-7)th largest value, storing
    up to PFOR_MAX_EXCEPTIONS (index, high-bits) pairs aside.

    Layout: [width:1][n_exc:1][packed low bits][exc indices vbyte][exc highs vbyte]
    """
    v = np.asarray(values, dtype=np.int64)
    n = v.size
    if n == 0:
        return bytes([0, 0])
    full_width = bits_required(v)
    if n > PFOR_MAX_EXCEPTIONS:
        kth = np.partition(v, n - PFOR_MAX_EXCEPTIONS - 1)[n - PFOR_MAX_EXCEPTIONS - 1]
        base_width = int(kth).bit_length()
    else:
        base_width = full_width
    if base_width >= full_width:
        base_width = full_width
        exc_idx = np.zeros(0, dtype=np.int64)
    else:
        exc_idx = np.flatnonzero(v >= (1 << base_width))
        if exc_idx.size > PFOR_MAX_EXCEPTIONS:  # ties at the threshold
            base_width = full_width
            exc_idx = np.zeros(0, dtype=np.int64)
    low = v & ((1 << base_width) - 1 if base_width else 0)
    packed = for_pack(low, base_width)
    highs = v[exc_idx] >> base_width
    return (
        bytes([base_width, exc_idx.size])
        + packed
        + vbyte_encode(exc_idx)
        + vbyte_encode(highs)
    )


def pfor_decode(data: bytes, n: int) -> np.ndarray:
    """Inverse of pfor_encode."""
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    width, n_exc = data[0], data[1]
    packed_len = (n * width + 7) // 8
    out = for_unpack(data[2 : 2 + packed_len], n, width)
    if n_exc:
        rest = np.frombuffer(data, dtype=np.uint8)[2 + packed_len :]
        ends = np.flatnonzero((rest & 0x80) == 0)
        split = ends[n_exc - 1] + 1
        exc_idx = vbyte_decode(rest[:split].tobytes(), n_exc)
        highs = vbyte_decode(rest[split:].tobytes(), n_exc)
        out[exc_idx] |= highs << width
    return out


def bitset_encode(docids: np.ndarray, base: int) -> bytes:
    """Bitmap of sorted docids relative to ``base`` (exclusive): bit
    (docid - base - 1) set."""
    rel = np.asarray(docids, dtype=np.int64) - base - 1
    size = int(rel[-1]) + 1
    bits = np.zeros(size, dtype=np.uint8)
    bits[rel] = 1
    return np.packbits(bits, bitorder="little").tobytes()


def bitset_decode(data: bytes, base: int) -> np.ndarray:
    """Inverse of bitset_encode."""
    bits = np.unpackbits(np.frombuffer(data, dtype=np.uint8), bitorder="little")
    return base + 1 + np.flatnonzero(bits).astype(np.int64)
