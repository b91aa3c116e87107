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
    "decode_rows",
    "decode_positions_rows",
    "decode_payloads_rows",
    "ragged_index",
]

ENC_CONSECUTIVE = 0  # docRange == n_docs: docids are base+1 .. base+n
ENC_FOR_DELTA = 1    # FOR-packed deltas (delta[0] relative to base)
ENC_BITSET = 2       # unary bitmap over (base, last_docid]
ENC_VBYTE_TAIL = 3   # VByte deltas (tail block)
# any other encoding is a runtime pseudo row: a pulsed singleton (index/pseudo.py)


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


# --- bulk decode: many block rows in a fixed number of numpy passes ----------
# The scalar decoders above stay the reference (the property test in
# tests/test_codecs.py holds the bulk ones to them row by row). The bulk
# decoders take the columns of many rows at once, as numpy arrays (object
# arrays for the byte columns), and return flat arrays with per-row offsets:
# row r's postings are docids[offsets[r]:offsets[r + 1]]. The number of numpy
# passes depends on the distinct bit widths, not on the rows (the ForUtil /
# PForUtil block-at-a-time decode, batched across blocks and terms).


def ragged_index(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """The concatenation of ``arange(s, s + n)`` for every (s, n)."""
    lens = np.asarray(lens, dtype=np.int64)
    ends = np.cumsum(lens)
    if ends.size == 0 or ends[-1] == 0:
        return np.zeros(0, dtype=np.int64)
    shift = np.asarray(starts, dtype=np.int64) - (ends - lens)
    return np.arange(ends[-1], dtype=np.int64) + np.repeat(shift, lens)


def _joined(col: np.ndarray, rows: np.ndarray):
    """(joined bytes as uint8, start and length of each row in them) of
    ``col[rows]``."""
    parts = col[rows]
    lens = np.fromiter(map(len, parts), dtype=np.int64, count=rows.size)
    raw = np.frombuffer(b"".join(parts), dtype=np.uint8)
    return raw, np.cumsum(lens) - lens, lens


def _unpack_full(raw, starts, widths, out, targets) -> None:
    """FOR-unpack full blocks grouped by bit width: the block at
    ``raw[starts[i]:]`` (16·w bytes at width w) goes to ``out[targets[i] +
    arange(BLOCK_SIZE)]``. One ``for_unpack`` per distinct width."""
    lane = np.arange(BLOCK_SIZE, dtype=np.int64)
    for w in np.unique(widths):
        g = widths == w
        nbytes = BLOCK_SIZE * int(w) // 8
        src = raw[(starts[g, None] + np.arange(nbytes)).ravel()]
        out[(targets[g, None] + lane).ravel()] = for_unpack(
            src, BLOCK_SIZE * int(g.sum()), int(w)
        )


def decode_rows(
    encoding: np.ndarray,
    n_docs: np.ndarray,
    base_docid: np.ndarray,
    docids_enc: np.ndarray,
    freqs_enc: np.ndarray,
    norms_enc: np.ndarray,
    pseudo_freq: np.ndarray,
    pseudo_norm: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(offsets, docids, freqs, norms) of many block rows at once, equal
    row by row to ``decode_block_docids`` / ``decode_block_freqs`` / the
    norm bytes. A row whose encoding is none of the four stored ones is a
    runtime pseudo row (a pulsed singleton: n_docs=1, base=docid-1) with no
    byte columns; its freq and norm come from ``pseudo_freq`` /
    ``pseudo_norm``, which hold one value per pseudo row, in row order.

    Docids decode as a segmented cumsum of per-row deltas over base:
    consecutive and pseudo rows are deltas of 1, FOR rows unpack per bit
    width, VByte tails decode in one pass over their joined streams, and
    bitset rows take one ``unpackbits`` over their joined bytes."""
    enc = np.asarray(encoding, dtype=np.int64)
    n = np.asarray(n_docs, dtype=np.int64)
    base = np.asarray(base_docid, dtype=np.int64)
    offsets = np.zeros(n.size + 1, dtype=np.int64)
    np.cumsum(n, out=offsets[1:])
    starts = offsets[:-1]
    total = int(offsets[-1])
    deltas = np.ones(total, dtype=np.int64)
    freqs = np.empty(total, dtype=np.int64)
    norms = np.empty(total, dtype=np.int64)

    stored = enc <= ENC_VBYTE_TAIL
    rows = np.flatnonzero(stored)
    freqs[starts[~stored]] = pseudo_freq
    norms[starts[~stored]] = pseudo_norm
    norms[ragged_index(starts[rows], n[rows])] = np.frombuffer(
        b"".join(norms_enc[rows]), dtype=np.uint8
    )

    tail = np.flatnonzero(enc == ENC_VBYTE_TAIL)
    if tail.size:
        at = ragged_index(starts[tail], n[tail])
        deltas[at] = vbyte_decode(b"".join(docids_enc[tail]), at.size)
        freqs[at] = vbyte_decode(b"".join(freqs_enc[tail]), at.size)

    packed = np.flatnonzero(enc == ENC_FOR_DELTA)
    if packed.size:
        raw, at, lens = _joined(docids_enc, packed)
        widths = raw[at + lens - 1]
        _unpack_full(raw, at, widths, deltas, starts[packed])

    bitset = np.flatnonzero(enc == ENC_BITSET)
    if bitset.size:
        raw, at, _lens = _joined(docids_enc, bitset)
        ones = np.flatnonzero(np.unpackbits(raw, bitorder="little"))
        row = np.searchsorted(at * 8, ones, side="right") - 1
        rel = ones - at[row] * 8 + 1  # docid - base
        first = np.zeros(rel.size, dtype=bool)
        first[np.cumsum(n[bitset]) - n[bitset]] = True
        d = np.empty_like(rel)
        d[0] = rel[0]
        np.subtract(rel[1:], rel[:-1], out=d[1:])
        d[first] = rel[first]
        deltas[ragged_index(starts[bitset], n[bitset])] = d

    # full blocks (every stored encoding but the VByte tail): PFOR freqs
    full = np.flatnonzero(stored & (enc != ENC_VBYTE_TAIL))
    if full.size:
        raw, at, lens = _joined(freqs_enc, full)
        widths, n_exc = raw[at], raw[at + 1].astype(np.int64)
        _unpack_full(raw, at + 2, widths, freqs, starts[full])
        ex = np.flatnonzero(n_exc)
        if ex.size:
            # exception indices, then their high bits, as VByte after the
            # packed low bits (pfor_encode's layout)
            w = widths[ex].astype(np.int64)
            lo = at[ex] + 2 + BLOCK_SIZE * w // 8
            vals = vbyte_decode(
                raw[ragged_index(lo, at[ex] + lens[ex] - lo)].tobytes(),
                int(2 * n_exc[ex].sum()),
            )
            k = n_exc[ex]
            within = ragged_index(np.zeros(ex.size, np.int64), 2 * k)
            is_idx = within < np.repeat(k, 2 * k)
            where = np.repeat(starts[full[ex]], k) + vals[is_idx]
            freqs[where] |= vals[~is_idx] << np.repeat(w, k)

    cs = np.cumsum(deltas)
    before = cs[starts] - deltas[starts]
    return offsets, cs + np.repeat(base - before, n), freqs, norms


def decode_positions_rows(positions_enc: np.ndarray, freqs: np.ndarray) -> np.ndarray:
    """Flat positions of many rows' postings, equal row by row to
    ``decode_positions``: one VByte pass over the joined streams, then a
    per-doc cumsum that restarts at each doc's first (absolute) position —
    the inverse of the builder's per-doc delta form. ``freqs`` are the flat
    per-posting freqs of the same rows, in the same order."""
    freqs = np.asarray(freqs, dtype=np.int64)
    total = int(freqs.sum())
    if total == 0:
        return np.zeros(0, dtype=np.int64)
    deltas = vbyte_decode(b"".join(positions_enc), total)
    cs = np.cumsum(deltas)
    first = np.cumsum(freqs) - freqs
    return cs - np.repeat(cs[first] - deltas[first], freqs)


def decode_payloads_rows(payloads_enc: np.ndarray, row_occ: np.ndarray) -> np.ndarray:
    """Flat per-position payload ints of many rows (``decode_payloads``
    row by row), aligned with ``decode_positions_rows``; ``row_occ`` is the
    number of positions of each row. A row that stores no payloads (None)
    reads -1 at each of its positions."""
    row_occ = np.asarray(row_occ, dtype=np.int64)
    out = np.full(int(row_occ.sum()), -1, dtype=np.int64)
    rows = np.flatnonzero(np.not_equal(payloads_enc, None))
    if rows.size:
        at = ragged_index((np.cumsum(row_occ) - row_occ)[rows], row_occ[rows])
        out[at] = vbyte_decode(b"".join(payloads_enc[rows]), at.size)
    return out
