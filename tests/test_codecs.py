"""Codec round-trips (TestForUtil/TestPForUtil/TestForDeltaUtil analogs,
lucene/core/src/test/org/apache/lucene/codecs/lucene103/) + block format +
impact skylines."""

import numpy as np
import pytest

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
