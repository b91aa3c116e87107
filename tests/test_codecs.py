"""Codec round-trips (TestForUtil/TestPForUtil/TestForDeltaUtil analogs,
lucene/core/src/test/org/apache/lucene/codecs/lucene103/) + block format +
impact skylines."""

import numpy as np
import pytest
from hypothesis import given, seed, settings
from hypothesis import strategies as st

from lucene_spark.codecs.blocks import (
    ENC_BITSET,
    ENC_CONSECUTIVE,
    ENC_FOR_DELTA,
    ENC_VBYTE_TAIL,
    decode_block_docids,
    decode_block_freqs,
    encode_term_postings,
    skyline,
)
from lucene_spark.codecs.intcodecs import (
    bits_required,
    bitset_decode,
    bitset_encode,
    for_pack,
    for_unpack,
    pfor_decode,
    pfor_encode,
    vbyte_decode,
    vbyte_encode,
)
from lucene_spark.constants import BLOCK_SIZE


@pytest.mark.parametrize("seed", range(8))
def test_vbyte_roundtrip(seed):
    rng = np.random.default_rng(seed)
    n = int(rng.integers(0, 500))
    hi = int(rng.choice([2, 128, 2**14, 2**28, 2**34]))
    v = rng.integers(0, hi, n)
    assert (vbyte_decode(vbyte_encode(v), n) == v).all()


def _vbyte_decode_reference(data: bytes, n: int | None = None) -> np.ndarray:
    """The earlier ``vbyte_decode``: each byte's value by ``np.searchsorted``
    over the value ends, summed into place with ``np.add.at``."""
    if not data:
        return np.zeros(0, dtype=np.int64)
    b = np.frombuffer(data, dtype=np.uint8)
    ends = np.flatnonzero((b & 0x80) == 0)
    starts = np.empty(ends.size, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    idx = np.arange(b.size)
    group = np.searchsorted(ends, idx)
    shift = (idx - starts[group]).astype(np.uint64)
    out = np.zeros(ends.size, dtype=np.uint64)
    np.add.at(out, group, (b & 0x7F).astype(np.uint64) << (np.uint64(7) * shift))
    out = out.astype(np.int64)
    if n is not None and out.size != n:
        raise ValueError(f"expected {n} values, decoded {out.size}")
    return out


@seed(20261019)
@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.integers(0, 0x7F),
            st.integers(0x80, 2**14 - 1),
            st.integers(0, 2**35 - 1),
        ),
        max_size=300,
    ),
    st.integers(-2, 2),
)
def test_vbyte_decode_matches_reference(values, n_off):
    """``vbyte_decode`` equals the earlier decoder on one-byte and
    multi-byte values alike, and both raise the same error when the stream
    holds other than ``n`` values."""
    data = vbyte_encode(np.array(values, dtype=np.int64))
    n = len(values) + n_off
    assert np.array_equal(vbyte_decode(data), values)
    if n_off == 0 or not data:
        got = vbyte_decode(data, n)
        assert got.dtype == np.int64
        assert np.array_equal(got, _vbyte_decode_reference(data, n))
        return
    with pytest.raises(ValueError) as want:
        _vbyte_decode_reference(data, n)
    with pytest.raises(ValueError) as got:
        vbyte_decode(data, n)
    assert str(got.value) == str(want.value)


def test_vbyte_decode_rejects_a_truncated_stream():
    """A stream that ends inside a value (a continuation byte last) is an
    error, not a silently shorter array."""
    data = vbyte_encode(np.array([5, 300, 2**20]))
    with pytest.raises(ValueError, match="truncated"):
        vbyte_decode(data[:-1])


@pytest.mark.parametrize("seed", range(8))
def test_for_roundtrip(seed):
    rng = np.random.default_rng(seed + 100)
    n = int(rng.integers(1, 300))
    v = rng.integers(0, int(rng.choice([1, 2, 1000, 2**20])) + 1, n)
    w = bits_required(v)
    assert (for_unpack(for_pack(v, w), n, w) == v).all()


@pytest.mark.parametrize("seed", range(12))
def test_pfor_roundtrip(seed):
    rng = np.random.default_rng(seed + 200)
    n = int(rng.integers(1, 200))
    v = rng.integers(1, 8, n)
    # inject outliers to force the exception path
    n_out = int(rng.integers(0, 12))
    idx = rng.integers(0, n, size=n_out)
    v[idx] = rng.integers(2**10, 2**25, size=n_out)
    assert (pfor_decode(pfor_encode(v), n) == v).all()


def test_pfor_exception_count_limits_width():
    # 120 small values + 5 huge: packed width must stay small
    v = np.concatenate([np.ones(123, dtype=np.int64), np.full(5, 2**20)])
    enc = pfor_encode(v)
    assert enc[0] <= 2  # base width from the small values
    assert enc[1] == 5
    assert (pfor_decode(enc, v.size) == v).all()


def test_bitset_roundtrip():
    rng = np.random.default_rng(7)
    d = np.unique(rng.integers(0, 4000, 600))
    for base in (-1, int(d[0]) - 1):
        assert (bitset_decode(bitset_encode(d, base), base) == d).all()


@pytest.mark.parametrize("seed", range(6))
def test_block_roundtrip_random(seed):
    rng = np.random.default_rng(seed + 300)
    n = int(rng.integers(1, 3000))
    docids = np.unique(rng.integers(0, 50_000, n))
    freqs = rng.integers(1, 500, docids.size)
    norms = rng.integers(0, 256, docids.size)
    rows = encode_term_postings(docids, freqs, norms)
    got_d, got_f = [], []
    for r in rows:
        d = decode_block_docids(
            r["encoding"], r["docids_enc"], r["n_docs"], r["base_docid"], r["last_docid"]
        )
        f = decode_block_freqs(r["encoding"], r["freqs_enc"], r["n_docs"])
        assert d[0] == r["first_docid"] and d[-1] == r["last_docid"]
        assert (np.diff(d) > 0).all()  # strictly increasing docids per block
        got_d.append(d)
        got_f.append(f)
    assert (np.concatenate(got_d) == docids).all()
    assert (np.concatenate(got_f) == freqs).all()
    # tail blocks only at the end
    for r in rows[:-1]:
        assert r["n_docs"] == BLOCK_SIZE


def test_block_consecutive_encoding():
    # a dense run directly after the previous block: docRange == BLOCK_SIZE
    docids = np.arange(0, 256, dtype=np.int64)
    rows = encode_term_postings(docids, np.ones(256, int), np.zeros(256, int))
    assert rows[0]["encoding"] == ENC_BITSET or rows[0]["encoding"] == ENC_CONSECUTIVE
    # second block follows the first contiguously -> consecutive
    assert rows[1]["encoding"] == ENC_CONSECUTIVE
    d = decode_block_docids(rows[1]["encoding"], rows[1]["docids_enc"], 128, 127, 255)
    assert (d == np.arange(128, 256)).all()


def test_block_encoding_choices():
    rng = np.random.default_rng(11)
    # sparse: FOR wins
    sparse = np.unique(rng.integers(0, 10**7, 128 * 2))[: 128 * 2]
    rows = encode_term_postings(sparse, np.ones(sparse.size, int), np.zeros(sparse.size, int))
    assert rows[0]["encoding"] == ENC_FOR_DELTA
    # dense: bitset wins
    dense = np.unique(rng.integers(0, 300, 200))
    if dense.size >= BLOCK_SIZE:
        rows = encode_term_postings(dense, np.ones(dense.size, int), np.zeros(dense.size, int))
        assert rows[0]["encoding"] in (ENC_BITSET, ENC_CONSECUTIVE)
    # tail
    tail = np.array([5, 9, 100])
    rows = encode_term_postings(tail, np.array([1, 2, 3]), np.zeros(3, int))
    assert rows[0]["encoding"] == ENC_VBYTE_TAIL


def test_skyline_semantics():
    # for each norm the max freq; dominated pairs dropped
    freqs = np.array([3, 1, 5, 2, 5, 7])
    norms = np.array([10, 10, 20, 30, 30, 5])
    sky = skyline(freqs, norms)
    # norm 5 -> 7 beats everything with higher norms
    assert sky == [(7, 5)]
    sky2 = skyline(np.array([2, 5, 9]), np.array([4, 10, 200]))
    assert sky2 == [(2, 4), (5, 10), (9, 200)]
    # freq strictly increasing with norm strictly increasing
    f = [p[0] for p in sky2]
    n = [p[1] for p in sky2]
    assert f == sorted(f) and n == sorted(n)


# --- bulk decode ≡ scalar decode ---------------------------------------------

_KINDS = ("consecutive", "packed", "bitset", "tail", "any")


@st.composite
def _postings(draw):
    """Several terms' postings: one term per block encoding (consecutive,
    FOR, bitset, VByte tail) plus random ones, PFOR exceptions, multi-byte
    docid and position deltas, payloads on some terms, and terms stored
    without positions whose freqs are large values (feature and
    field-existence rows)."""
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    terms = []
    for i, kind in enumerate(_KINDS[:4] + (_KINDS[4],) * draw(st.integers(0, 3))):
        if kind == "any":
            kind = _KINDS[int(rng.integers(0, 4))]
        n = int(rng.integers(1, 127)) if kind == "tail" else int(rng.integers(128, 400))
        # the first block's range counts from docid -1: a consecutive one
        # starts at 0, a bitset one's stays below (width + 1) * 128 bits
        start = {"consecutive": 0, "bitset": int(rng.integers(0, 100))}.get(
            kind, int(rng.integers(0, 3000))
        )
        if kind == "consecutive":
            docs = start + np.arange(n)
        elif kind == "bitset":
            docs = start + np.sort(rng.choice(2 * n, n, replace=False))
        else:  # gaps up to 2^12 (FOR widths vary; tails get multi-byte deltas)
            docs = start + np.cumsum(rng.integers(1, 1 << int(rng.integers(4, 13)), n))
        freqs = rng.integers(1, 4, n)
        # 1-7 outliers in the first block: PFOR exceptions
        out = rng.choice(min(n, 128), min(n, int(rng.integers(1, 8))), replace=False)
        freqs[out] = rng.integers(8, 40, out.size)
        pos = np.concatenate(
            [np.cumsum(rng.integers(1, 300, f)) for f in freqs]
        )  # multi-byte position deltas
        pay = rng.integers(0, 1 << 16, pos.size) if rng.random() < 0.6 else None
        terms.append((f"t{i}", docs, freqs, rng.integers(0, 256, n), pos, pay))
    for i in range(draw(st.integers(1, 2))):  # no positions, freq = a value
        n = int(rng.integers(1, 400))
        docs = np.sort(rng.choice(3000, n, replace=False))
        terms.append((f"b{i}", docs, rng.integers(1, 1 << 16, n),
                      rng.integers(0, 256, n), None, None))
    n_single = draw(st.integers(1, 4))
    singles = [
        (f"s{i}", int(rng.integers(0, 5000)), int(rng.integers(1, 4)),
         int(rng.integers(0, 256)), ("pos", "pay", "bare")[i % 3])
        for i in range(n_single)
    ]
    return terms, singles, draw(st.integers(0, 2**32 - 1))


@seed(20261018)
@settings(max_examples=40, deadline=None)
@given(_postings())
def test_bulk_decode_matches_scalar(case):
    """A ``SegmentContext``'s one-pass decode of every row equals
    the scalar decoders row by row: docids, freqs, norms, positions and
    payloads, through ``decode_all``, ``decode_blocks`` of block subsets
    that are not contiguous (before and after the context's full decode),
    and ``occurrences``; pulsed singletons enter as ``pseudo_rows`` of
    their ``singletons_by_segment`` columns."""
    import pandas as pd

    from lucene_spark.codecs.blocks import (
        decode_payloads,
        decode_positions,
        encode_positions,
    )
    import pyarrow as pa

    from lucene_spark.index.pseudo import pseudo_rows, singletons_by_segment
    from lucene_spark.index.schemas import POSTINGS_COLS
    from lucene_spark.search.segment import SegmentContext

    terms, singles, pick = case
    rng = np.random.default_rng(pick)
    rows, want = [], {}
    for term, docs, freqs, norms, pos, pay in terms:
        for r in encode_term_postings(docs, freqs, norms, positions=pos, payloads=pay):
            f, m = zip(*r.pop("impacts"))
            rows.append({"term": term, "impact_freqs": f, "impact_norms": m, **r})
        want[term] = (docs, freqs, norms, pos, pay)
    seen = {r["encoding"] for r in rows}
    assert seen == {ENC_CONSECUTIVE, ENC_FOR_DELTA, ENC_BITSET, ENC_VBYTE_TAIL}
    assert any(r["freqs_enc"][1] for r in rows if r["encoding"] != ENC_VBYTE_TAIL)
    cols = [c for c in POSTINGS_COLS if c != "segment_id"]
    pdf = pd.DataFrame(rows)[cols]
    for t, d, f, n, kind in singles:
        pos1 = np.cumsum(rng.integers(1, 300, f)) if kind != "bare" else None
        pay1 = rng.integers(0, 1 << 16, f) if kind == "pay" else None
        want[t] = ([d], [f], [n], pos1, pay1)
    td = pa.table({
        "term": [t for t, *_ in singles],
        "singleton_docid": [d for _t, d, *_ in singles],
        "singleton_freq": [f for _t, _d, f, *_ in singles],
        "singleton_norm": [n for _t, _d, _f, n, _k in singles],
        "singleton_positions": pa.array([
            None if want[t][3] is None else encode_positions(np.array([f]), want[t][3])
            for t, _d, f, *_ in singles
        ], pa.binary()),
        "singleton_payloads": pa.array([
            None if want[t][4] is None else vbyte_encode(want[t][4])
            for t, *_ in singles
        ], pa.binary()),
    })
    pseudo = pseudo_rows(singletons_by_segment(td, [0] * len(singles))[0], 0, 1 << 20, cols)
    pseudo = pd.DataFrame(pseudo).assign(
        impact_freqs=[[f] for f in pseudo["impact_freqs"]],
        impact_norms=[[m] for m in pseudo["impact_norms"]],
    )
    pdf = pd.concat([pdf, pseudo], ignore_index=True)
    pdf = pdf.sample(frac=1.0, random_state=int(pick % 2**31)).assign(segment_id=0)
    ctx = SegmentContext.from_pdf(pdf, {}, 0, 1 << 20)
    lazy = SegmentContext.from_pdf(pdf, {}, 0, 1 << 20)  # only decode_blocks

    for term, (docs, freqs, norms, pos, pay) in want.items():
        tp = ctx.postings[term]
        for got, exp in zip(tp.decode_all(), (docs, freqs, norms)):
            assert np.array_equal(got, exp), term
        # row by row against the scalar decoders
        blocks = pdf[pdf["term"] == term].sort_values("block_no")
        per_block = []
        for r in blocks.itertuples():
            if r.encoding > ENC_VBYTE_TAIL:
                d, f = np.array([r.first_docid]), np.array([r.impact_freqs[0]])
            else:
                d = decode_block_docids(
                    r.encoding, r.docids_enc, r.n_docs, r.base_docid, r.last_docid
                )
                f = decode_block_freqs(r.encoding, r.freqs_enc, r.n_docs)
            if r.positions_enc is None:  # no occurrences
                p = np.zeros(0, dtype=np.int64)
            else:
                p = decode_positions(r.positions_enc, f)
            y = decode_payloads(r.payloads_enc, f) if r.payloads_enc is not None else None
            per_block.append((d, f, p, y))
        sub = np.flatnonzero(rng.random(tp.n_blocks) < 0.5)
        if tp.n_blocks >= 3:
            sub = np.union1d(sub, [0, tp.n_blocks - 1])  # a gap or the whole run
        for d, f, _m in (lazy.postings[term].decode_blocks(sub), tp.decode_blocks(sub)):
            assert np.array_equal(d, np.concatenate([per_block[i][0] for i in sub] or [[]]))
            assert np.array_equal(f, np.concatenate([per_block[i][1] for i in sub] or [[]]))
        occ = np.asarray(freqs) if pos is not None else np.zeros(len(docs), np.int64)
        od, op, on, oy = tp.occurrences(payloads=True)
        assert np.array_equal(od, np.repeat(docs, occ))
        assert np.array_equal(on, np.repeat(norms, occ))
        assert np.array_equal(op, np.concatenate([b[2] for b in per_block]))
        assert np.array_equal(op, pos if pos is not None else [])
        exp_y = [b[3] if b[3] is not None else np.full(b[2].size, -1) for b in per_block]
        assert np.array_equal(oy, np.concatenate(exp_y))
        if pay is not None:
            assert np.array_equal(oy, pay)
        n_occ, pl = tp.payloads()
        assert np.array_equal(n_occ, occ) and np.array_equal(pl, oy)
        cand = np.sort(rng.choice(np.asarray(docs), max(1, len(docs) // 3), replace=False))
        cd, cp, _cn, _cy = tp.occurrences(cand)
        keep = np.isin(od, cand)
        assert np.array_equal(cd, od[keep]) and np.array_equal(cp, op[keep])
