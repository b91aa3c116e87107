"""Postings block encode/decode + block-max impact skylines.

Mirrors the *semantics* of the reference's block postings format
(lucene/core/src/java/org/apache/lucene/codecs/lucene103/):

- 128-doc blocks (Lucene103PostingsFormat.java:343);
- full blocks: docid deltas either FOR-packed, unary bitset, or the
  "consecutive" special case, chosen by the same storage-cost rule
  (Lucene103PostingsWriter.java:421-455); freqs PFOR-packed (:458);
- tail blocks (<128 docs): VByte (PostingsUtil.writeVIntBlock analog, :391-394);
- per-block competitive (freq, norm) skyline
  (codecs/CompetitiveImpactAccumulator.java:104-125); there is no level-1
  rollup of impacts (Lucene103PostingsWriter.java:480-532): the only reader
  of impacts, the windowed block-max top-k in search/segment.py, was faster
  on per-block skylines alone;
- singleton pulsing (df==1 -> docid inlined in the term dict, no blocks;
  Lucene103PostingsWriter.java:564-571) is handled by the index builder.

A block row is a plain dict so the Spark side can emit it straight into an
Arrow record batch.
"""

from __future__ import annotations

import numpy as np

from ..constants import BLOCK_SIZE
from .intcodecs import (
    bits_required,
    bitset_decode,
    bitset_encode,
    for_pack,
    for_unpack,
    pfor_decode,
    pfor_encode,
    vbyte_decode,
    vbyte_encode,
    vbyte_encode_concat,
)

__all__ = [
    "ENC_CONSECUTIVE",
    "ENC_FOR_DELTA",
    "ENC_BITSET",
    "ENC_VBYTE_TAIL",
    "skyline",
    "encode_term_postings",
    "decode_block_docids",
    "decode_block_freqs",
    "encode_positions",
    "decode_positions",
    "decode_payloads",
]

ENC_CONSECUTIVE = 0  # docRange == n_docs: docids are base+1 .. base+n
ENC_FOR_DELTA = 1    # FOR-packed deltas (delta[0] relative to base)
ENC_BITSET = 2       # unary bitmap over (base, last_docid]
ENC_VBYTE_TAIL = 3   # VByte deltas (tail block)
# 4/5 are runtime pseudo-rows (singleton / delete-list, search/segment.py)


def skyline(freqs: np.ndarray, norms: np.ndarray) -> list[tuple[int, int]]:
    """Competitive (freq, norm) pairs: for each norm byte the max freq,
    keeping only pairs with freq strictly greater than every lower norm's
    (CompetitiveImpactAccumulator.getCompetitiveFreqNormPairs semantics).

    Returns pairs ordered by increasing freq and increasing norm.
    """
    max_freqs = np.zeros(256, dtype=np.int64)
    np.maximum.at(max_freqs, np.asarray(norms, dtype=np.int64) & 0xFF,
                  np.asarray(freqs, dtype=np.int64))
    out: list[tuple[int, int]] = []
    best = 0
    for norm in np.flatnonzero(max_freqs):
        f = int(max_freqs[norm])
        if f > best:
            out.append((f, int(norm)))
            best = f
    return out


def skylines_grouped(
    codes: np.ndarray, freqs: np.ndarray, norms: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Competitive (freq, norm) skylines for many groups in ONE pass.

    Exactly CompetitiveImpactAccumulator.getCompetitiveFreqNormPairs
    (codecs/CompetitiveImpactAccumulator.java:104-125) per group: max freq
    per norm, keep pairs with freq strictly above every lower norm's.
    Returns (freqs, norms, group_bounds) with groups in ascending code
    order; group g's pairs are ``freqs[bounds[g]:bounds[g+1]]`` (every
    group has >=1 pair, so bounds has n_groups+1 entries). Pure numpy: the
    per-group cummax is a segmented maximum-accumulate — offsetting each
    value by code*BIG makes a new group's first value exceed everything
    before it, so the accumulate resets at group starts."""
    if codes.size == 0:
        return (
            np.zeros(0, dtype=np.int64),
            np.zeros(0, dtype=np.int64),
            np.zeros(1, dtype=np.int64),
        )
    codes = np.asarray(codes, dtype=np.int64)
    freqs = np.asarray(freqs, dtype=np.int64)
    n64 = np.asarray(norms).astype(np.int64)
    order = np.lexsort((freqs, n64, codes))
    c, n, f = codes[order], n64[order], freqs[order]
    # last element of each (code, norm) run = max freq for that norm
    last = np.empty(c.size, dtype=bool)
    last[-1] = True
    np.logical_or(c[:-1] != c[1:], n[:-1] != n[1:], out=last[:-1])
    c, n, f = c[last], n[last], f[last]
    # strictly-increasing freq filter within each code (norms ascending):
    # survivor iff freq > exclusive segmented cummax
    big = np.int64(int(f.max()) + 1)
    cm = np.maximum.accumulate(f + c * big) - c * big
    first_in_group = np.empty(c.size, dtype=bool)
    first_in_group[0] = True
    np.not_equal(c[1:], c[:-1], out=first_in_group[1:])
    excl = np.empty(c.size, dtype=np.int64)
    excl[0] = -1
    excl[1:] = cm[:-1]
    excl[first_in_group] = -1
    keep = f > excl
    c, n, f = c[keep], n[keep], f[keep]
    gfirst = np.empty(c.size, dtype=bool)
    if c.size:
        gfirst[0] = True
        np.not_equal(c[1:], c[:-1], out=gfirst[1:])
    starts = np.flatnonzero(gfirst)
    bounds = np.concatenate((starts, [c.size]))
    return f, n, bounds


def positions_to_deltas(freqs: np.ndarray, positions: np.ndarray) -> np.ndarray:
    """Per-doc position delta form (first position absolute, rest deltas)
    for a flat concatenation of per-doc sorted position lists — the input
    shape VByte position payloads are built from (encode_positions)."""
    positions = np.asarray(positions, dtype=np.int64)
    if positions.size == 0:
        return positions
    deltas = np.diff(positions, prepend=0)
    starts = np.zeros(positions.size, dtype=bool)
    starts[np.cumsum(np.asarray(freqs, dtype=np.int64))[:-1]] = True
    starts[0] = True
    deltas[starts] = positions[starts]
    return deltas


def _encode_full_block(deltas: np.ndarray, base: int, last: int) -> tuple[int, bytes]:
    """Pick the storage-cheapest encoding for a full 128-doc block
    (decision rule of Lucene103PostingsWriter.java:428-455)."""
    n = deltas.size
    doc_range = last - base
    if doc_range == n:
        return ENC_CONSECUTIVE, b""
    width = bits_required(deltas)
    bits_for = min(32, width + 1) * n  # "next number of bits per value" bias
    if bits_for <= doc_range:
        return ENC_FOR_DELTA, for_pack(deltas, width) + bytes([width])
    return ENC_BITSET, bitset_encode(base + np.cumsum(deltas), base)


def encode_positions(freqs: np.ndarray, positions: np.ndarray) -> bytes:
    """Encode per-doc position lists for one block (.pos analog).

    ``positions`` is the flat concatenation of each doc's sorted positions;
    ``freqs`` gives the per-doc counts (the split points). Each doc's run is
    delta-encoded with its first position absolute, then the whole run is
    VByte-packed (Lucene103PostingsWriter writes position deltas the same
    way, Lucene103PostingsWriter.java:299-340).
    """
    positions = np.asarray(positions, dtype=np.int64)
    if positions.size == 0:
        return b""
    return vbyte_encode(positions_to_deltas(freqs, positions))


def decode_positions(data: bytes, freqs: np.ndarray) -> np.ndarray:
    """Inverse of :func:`encode_positions`; returns the flat positions."""
    freqs = np.asarray(freqs, dtype=np.int64)
    total = int(freqs.sum())
    if total == 0:
        return np.zeros(0, dtype=np.int64)
    deltas = vbyte_decode(data, total)
    cs = np.cumsum(deltas)
    bounds = np.cumsum(freqs)[:-1]
    corrections = np.repeat(
        np.concatenate(([0], cs[bounds - 1])), np.diff(np.concatenate(([0], bounds, [total])))
    )
    return cs - corrections


def decode_payloads(data: bytes, freqs: np.ndarray) -> np.ndarray:
    """Flat per-position payload ints for a block (inverse of the VByte
    value stream written by encode_term_postings' ``payloads`` path).
    Payloads are absolute non-negative ints (not deltas — payload bytes
    carry arbitrary app data, Lucene stores them verbatim per position,
    Lucene103PostingsWriter.java:299-340 writes payload bytes alongside the
    position deltas); ``freqs`` gives the per-doc split points."""
    total = int(np.asarray(freqs, dtype=np.int64).sum())
    if total == 0:
        return np.zeros(0, dtype=np.int64)
    return vbyte_decode(data, total)


def encode_term_postings(
    docids: np.ndarray,
    freqs: np.ndarray,
    norms: np.ndarray,
    positions: np.ndarray | None = None,
    base: int = -1,
    pos_deltas: np.ndarray | None = None,
    payloads: np.ndarray | None = None,
) -> list[dict]:
    """Encode one term's postings (sorted unique docids) into block rows.

    ``positions``, when given, is the flat concatenation of per-doc position
    lists aligned with ``docids``/``freqs``. Callers that already hold the
    delta form (per-doc first position absolute, rest delta-encoded — the
    builder computes it once for the whole segment) can pass ``pos_deltas``
    instead, skipping the re-diff. ``base`` is the docid the first delta is
    taken against (must be < docids[0]; segment merge passes the group's
    doc_base-1 so partial runs stay relocatable).
    """
    docids = np.asarray(docids, dtype=np.int64)
    freqs = np.asarray(freqs, dtype=np.int64)
    norms = np.asarray(norms, dtype=np.int64)
    n = docids.size
    # delta chain is block-agnostic: each block's base is the previous
    # block's last docid, so deltas == plain diff with the initial base
    all_deltas = np.empty(n, dtype=np.int64)
    all_deltas[0] = docids[0] - base
    np.subtract(docids[1:], docids[:-1], out=all_deltas[1:])
    norm_bytes = (norms & 0xFF).astype(np.uint8).tobytes()
    with_pos = positions is not None or pos_deltas is not None
    edges = list(range(0, n, BLOCK_SIZE)) + [n]
    if with_pos or payloads is not None:
        pos_bounds = np.concatenate(([0], np.cumsum(freqs)))
        block_bounds = pos_bounds[np.asarray(edges, dtype=np.int64)]
    if with_pos:
        # one VByte pass for the whole term, sliced per block — the delta
        # form is per-doc (first absolute), so block grouping is free
        if pos_deltas is None:
            pos_deltas = positions_to_deltas(freqs, positions)
        pstream, poffs = vbyte_encode_concat(pos_deltas, block_bounds)
    if payloads is not None:
        ystream, yoffs = vbyte_encode_concat(
            np.asarray(payloads, dtype=np.int64), block_bounds
        )
    # per-block impact skylines in one grouped pass
    sky_f, sky_n, sky_b = skylines_grouped(
        np.arange(n, dtype=np.int64) // BLOCK_SIZE, freqs, norms
    )
    rows: list[dict] = []
    for block_no, start in enumerate(edges[:-1]):
        end = edges[block_no + 1]
        d = docids[start:end]
        f = freqs[start:end]
        deltas = all_deltas[start:end]
        first, last = int(d[0]), int(d[-1])
        if d.size < BLOCK_SIZE:
            enc, payload = ENC_VBYTE_TAIL, vbyte_encode(deltas)
            freqs_enc = vbyte_encode(f)
        else:
            enc, payload = _encode_full_block(deltas, base, last)
            freqs_enc = pfor_encode(f)
        rows.append(
            {
                "block_no": block_no,
                "n_docs": int(d.size),
                "base_docid": int(base),
                "first_docid": first,
                "last_docid": last,
                "encoding": enc,
                "docids_enc": payload,
                "freqs_enc": freqs_enc,
                "norms_enc": norm_bytes[start:end],
                "positions_enc": (
                    pstream[poffs[block_no] : poffs[block_no + 1]]
                    if with_pos
                    else None
                ),
                "payloads_enc": (
                    ystream[yoffs[block_no] : yoffs[block_no + 1]]
                    if payloads is not None
                    else None
                ),
                "impacts": list(
                    zip(
                        sky_f[sky_b[block_no] : sky_b[block_no + 1]].tolist(),
                        sky_n[sky_b[block_no] : sky_b[block_no + 1]].tolist(),
                    )
                ),
            }
        )
        base = last
    return rows


def decode_block_docids(
    encoding: int, payload: bytes, n_docs: int, base_docid: int, last_docid: int
) -> np.ndarray:
    """Decode a block row back to absolute docids."""
    if encoding == ENC_CONSECUTIVE:
        return np.arange(base_docid + 1, base_docid + 1 + n_docs, dtype=np.int64)
    if encoding == ENC_FOR_DELTA:
        width = payload[-1]
        deltas = for_unpack(payload[:-1], n_docs, width)
        return base_docid + np.cumsum(deltas)
    if encoding == ENC_BITSET:
        return bitset_decode(payload, base_docid)
    if encoding == ENC_VBYTE_TAIL:
        return base_docid + np.cumsum(vbyte_decode(payload, n_docs))
    raise ValueError(f"unknown encoding {encoding}")


def decode_block_freqs(encoding: int, freqs_enc: bytes, n_docs: int) -> np.ndarray:
    if encoding == ENC_VBYTE_TAIL:
        return vbyte_decode(freqs_enc, n_docs)
    return pfor_decode(freqs_enc, n_docs)
