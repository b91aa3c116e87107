"""Worker-level filter LRU (LRUQueryCache analog): admission after two
sightings, hit reuse with identical results, generation-tag isolation,
byte-budget eviction, and cache bypass without a tag."""

import glob

import numpy as np
import pytest

from lucene_spark.index import build_index
from lucene_spark.index.reader import IndexReader, read_slice
from lucene_spark.index.schemas import POSTINGS_COLS
from lucene_spark.search import Searcher
from lucene_spark.search.query import BooleanQuery, ConstantScoreQuery, TermQuery
from lucene_spark.search.scorers import build_scorers
from lucene_spark.search.segment import (
    FILTER_CACHE,
    SegmentContext,
    _FilterLRU,
    search_segment,
)

N = 500


@pytest.fixture(scope="module")
def seg_cols(spark, tmp_path_factory):
    """(segment id, the ``read_slice`` columns of ``wa`` and ``wb``)."""
    rows = [
        (f"doc://{i:06d}", "wa wb" if i % 3 == 0 else "wa filler%d" % i)
        for i in range(N)
    ]
    d = str(tmp_path_factory.mktemp("idx_qc"))
    build_index(
        spark,
        spark.createDataFrame(rows, "url string, text string"),
        d,
        num_segments=1,
        stopwords=None,
    )
    seg = int(glob.glob(f"{d}/data/kind=2/segment_id=*")[0].rsplit("=", 1)[1])
    singles = IndexReader(None, d).term_plan(["wa", "wb"])[1]
    return seg, read_slice(d, None, seg, 0, N, ["wa", "wb"], POSTINGS_COLS, singles=singles)[0]


def _ctx(seg_cols, scorers, tag=None):
    seg, cols = seg_cols
    return SegmentContext.from_columns(cols, scorers, 0, N, seg, cache_tag=tag)


def _run(seg_cols, tag):
    # constant-score filter context: goes through matching_docs
    q = ConstantScoreQuery(
        query=BooleanQuery(must=(TermQuery("wa"),), must_not=(TermQuery("wb"),)),
        boost=1.5,
    )
    scorers = build_scorers([q], {"wa": (N, N), "wb": (N // 3, N // 3)}, N, 2 * N, "lucene")
    ctx = _ctx(seg_cols, scorers, tag)
    return search_segment(ctx, q, 10)


def test_admission_then_hit(seg_cols):
    FILTER_CACHE.clear()
    d1, s1 = _run(seg_cols, "tagA")
    assert FILTER_CACHE.hits == 0 and len(FILTER_CACHE.data) == 0  # 1st sighting
    d2, s2 = _run(seg_cols, "tagA")
    # admitted on 2nd sighting — one entry per filter node (outer bool +
    # each term leaf), the per-(query, leaf) granularity of LRUQueryCache
    assert len(FILTER_CACHE.data) >= 1
    d3, s3 = _run(seg_cols, "tagA")
    assert FILTER_CACHE.hits >= 1  # 3rd run served from cache
    assert list(d1) == list(d2) == list(d3)
    assert [np.float32(x) for x in s1] == [np.float32(x) for x in s3]


def test_generation_tag_isolates(seg_cols):
    FILTER_CACHE.clear()
    _run(seg_cols, "tagA")
    _run(seg_cols, "tagA")
    assert len(FILTER_CACHE.data) >= 1
    hits_before = FILTER_CACHE.hits
    _run(seg_cols, "tagB")  # new index generation: no cross-tag reuse
    assert FILTER_CACHE.hits == hits_before


def test_no_tag_bypasses_cache(seg_cols):
    FILTER_CACHE.clear()
    q = ConstantScoreQuery(query=TermQuery("wb"), boost=2.0)
    scorers = build_scorers([q], {"wb": (N // 3, N // 3)}, N, 2 * N, "lucene")
    ctx = _ctx(seg_cols, scorers)  # no tag
    search_segment(ctx, q, 10)
    search_segment(ctx, q, 10)
    assert FILTER_CACHE.hits == 0 and len(FILTER_CACHE.data) == 0


def test_lru_eviction_bounds():
    lru = _FilterLRU(max_entries=2, max_bytes=1 << 30)
    for i in range(3):
        key = ("t", 0, 0, 10, f"q{i}")
        lru.admit(key), lru.admit(key)
        lru.put(key, np.arange(4, dtype=np.int64))
    assert len(lru.data) == 2  # oldest evicted
    lru2 = _FilterLRU(max_entries=100, max_bytes=100)
    for i in range(3):
        lru2.put(("t", 0, 0, 10, f"q{i}"), np.arange(10, dtype=np.int64))  # 80 B
    assert lru2.bytes <= 100 and len(lru2.data) == 1


def test_cached_array_is_readonly_and_unshared_base():
    lru = _FilterLRU()
    big = np.arange(1000, dtype=np.int64)
    view = big[:5]
    lru.put(("k",), view)
    got = lru.data[("k",)]
    assert got.base is None  # copied, not pinning `big`
    assert not got.flags.writeable


def test_dense_intersect_matches_sparse():
    """Density-switch parity (DenseConjunctionBulkScorer analog): the
    bitset path and the searchsorted path must produce identical sets."""
    from lucene_spark.search.segment import SegmentContext, _SegmentSearcher

    rng = np.random.default_rng(9)
    for _ in range(20):
        span = int(rng.integers(100, 5000))
        lo = int(rng.integers(0, 1000))
        ctx = SegmentContext({}, {}, lo, lo + span)
        s = _SegmentSearcher(ctx)
        # dense sets: > span/32 members, within [lo, lo+span)
        a = np.unique(rng.integers(lo, lo + span, size=span // 2)).astype(np.int64)
        b = np.unique(rng.integers(lo, lo + span, size=span // 2)).astype(np.int64)
        got = s._intersect_filter_sets(a, b)
        exp = a[np.isin(a, b)]
        assert list(got) == list(exp)
        # sparse side forces the searchsorted path
        c = np.unique(rng.integers(lo, lo + span, size=max(span // 64, 1))).astype(np.int64)
        got2 = s._intersect_filter_sets(a, c)
        assert list(got2) == list(a[np.isin(a, c)])
