"""BM25 float32 property + golden tests (BaseSimilarityTestCase analog,
lucene/test-framework/.../search/similarities/BaseSimilarityTestCase.java:48)."""

import math

import numpy as np
import pytest

from lucene_spark.functions.bm25 import Bm25Scorer, DoubleBm25Scorer, idf_value
from lucene_spark.functions.smallfloat import int_to_byte4
from lucene_spark.search.scorers import MODES


def test_idf_value_golden():
    # idf = (float) ln(1 + (N - n + 0.5) / (n + 0.5))
    got = idf_value(doc_freq=3, doc_count=100)
    want = np.float32(math.log(1 + (100 - 3 + 0.5) / (3 + 0.5)))
    assert got == want
    assert got.dtype == np.float32


def test_score_golden_hand_computed():
    # N=10 docs, term in 2, sum_ttf=100 (avgdl=10), freq=3, dl=10
    sc = Bm25Scorer.create(doc_freq=2, doc_count=10, sum_total_term_freq=100)
    norm = int_to_byte4(10)
    got = float(sc.score(np.array([3]), np.array([norm]))[0])
    idf = math.log(1 + (10 - 2 + 0.5) / (2 + 0.5))
    want = idf * 3 / (3 + 1.2 * (1 - 0.75 + 0.75 * 10 / 10))
    assert got == pytest.approx(want, rel=1e-6)


@pytest.mark.parametrize("seed", range(10))
def test_random_properties(seed):
    """Scores finite, non-negative, monotone in freq, anti-monotone in norm."""
    rng = np.random.default_rng(seed)
    doc_count = int(rng.integers(1, 2**40))
    doc_freq = int(rng.integers(1, doc_count + 1))
    sum_ttf = int(rng.integers(doc_count, 2**45))
    sc = Bm25Scorer.create(doc_freq, doc_count, sum_ttf)

    freqs = np.sort(rng.integers(1, 2**20, 50))
    norms = np.full(50, int(rng.integers(0, 256)))
    s = sc.score(freqs, norms)
    assert np.isfinite(s).all()
    assert (s >= 0).all()
    assert (np.diff(s) >= 0).all()  # monotone in freq

    norms2 = np.arange(256)
    s2 = sc.score(np.full(256, 7), norms2)
    assert (np.diff(s2) <= 0).all()  # anti-monotone in norm byte


def test_float32_evaluation_order():
    """weight - weight / (1 + freq * cache[norm]) evaluated in float32."""
    sc = Bm25Scorer.create(5, 1000, 150_000)
    f = np.float32(4.0)
    ni = sc.cache[int_to_byte4(150) & 0xFF]
    want = np.float32(sc.weight - sc.weight / (np.float32(1.0) + f * ni))
    got = sc.score(np.array([4]), np.array([int(int_to_byte4(150))]))[0]
    assert got == want and got.dtype == np.float32


@pytest.mark.parametrize("mode", MODES)
def test_block_ub_bounds_every_posting(mode):
    """``_TermPostings.block_ub`` over the impact skylines the builder
    writes (``skylines_grouped``) is at least the score of every posting
    of its block, under random term and collection stats. Lengths cluster
    around SweetSpot's 40..120 plateau, where a shorter doc's skyline pair
    stands for a longer doc that scores higher."""
    from lucene_spark.codecs.blocks import skylines_grouped
    from lucene_spark.search.scorers import make_term_scorer
    from lucene_spark.search.segment import _FlatPostings, _TermPostings

    rng = np.random.default_rng(MODES.index(mode))
    for _ in range(20):
        n_blocks = int(rng.integers(1, 40))
        sizes = rng.integers(1, 129, n_blocks)
        block = np.repeat(np.arange(n_blocks), sizes)
        freqs = rng.zipf(1.6, block.size).clip(1, 1000)
        lens = np.maximum(freqs, rng.choice([1, 4, 30, 60, 100, 200, 3000], block.size)
                          + rng.integers(0, 30, block.size))
        norms = int_to_byte4(lens).astype(np.int64) & 0xFF
        sky_f, sky_n, bounds = skylines_grouped(block, freqs, norms)
        tp = _TermPostings(_FlatPostings({
            "n_docs": sizes, "impact_off": bounds,
            "impact_freqs": sky_f, "impact_norms": sky_n,
        }), 0, n_blocks)
        doc_count = int(rng.integers(block.size, 10 * block.size + 10))
        df = int(rng.integers(1, doc_count + 1))
        ttf = int(freqs.sum()) + int(rng.integers(0, 100))
        sum_ttf = ttf + int(rng.integers(doc_count, 50 * doc_count))
        sc = make_term_scorer(mode, df, doc_count, sum_ttf, boost=float(rng.uniform(0.5, 3)), ttf=ttf)
        scores = np.asarray(sc.score(freqs, norms), dtype=np.float64)
        best = np.maximum.reduceat(scores, np.r_[0, np.cumsum(sizes)[:-1]])
        ub = tp.block_ub(sc)
        assert (ub >= best).all(), (mode, np.flatnonzero(ub < best))


def test_double_scorer_matches_formula():
    sc = DoubleBm25Scorer.create(2, 10, 100)
    got = sc.score(np.array([3.0]), np.array([10.0]))[0]
    idf = math.log(1 + (10 - 2 + 0.5) / (2 + 0.5))
    want = idf * 3 / (3 + 1.2 * (1 - 0.75 + 0.75 * 10 / 10))
    assert got == pytest.approx(want, rel=1e-12)


@pytest.mark.parametrize("mode", MODES)
def test_interval_scorer_every_mode(mode):
    """An interval query scores under every scoring mode: the saturation
    ``boost * freq / (freq + pivot)``, float32 in ``lucene`` mode and
    float64 in every other."""
    from lucene_spark.search.query import IntervalNear
    from lucene_spark.search.scorers import build_scorers

    q = IntervalNear(terms=("a", "b"))
    sc = build_scorers([q], {"a": (3, 5), "b": (2, 2)}, 100, 1000, mode)[q]
    got = sc.score(np.array([1.0, 3.0]))
    assert got.dtype == (np.float32 if mode == "lucene" else np.float64)
    want = q.boost * np.array([1.0, 3.0]) / (np.array([1.0, 3.0]) + q.pivot)
    np.testing.assert_allclose(got, want, rtol=1e-6)
