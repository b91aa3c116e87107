"""FeatureField/FeatureQuery: freq encoding vs the Java bit spec, scoring
functions, and end-to-end feature-boosted ranking on a multi-segment index.

Reference: document/FeatureField.java (encode :184-185, decode :247-248,
log :338, saturation :414, sigmoid :478).
"""

import struct

import numpy as np
import pytest

from lucene_spark.functions.featurefield import (
    FeatureScorer,
    decode_feature,
    encode_feature,
)
from lucene_spark.index import build_index
from lucene_spark.search import Searcher
from lucene_spark.search.query import BooleanQuery, FeatureQuery


def _java_encode(v: float) -> int:
    """floatToIntBits(v) >>> 15, straight from the spec."""
    (bits,) = struct.unpack(">I", struct.pack(">f", v))
    return bits >> 15


def _java_decode(freq: int) -> float:
    (v,) = struct.unpack(">f", struct.pack(">I", (freq << 15) & 0xFFFFFFFF))
    return v


@pytest.mark.parametrize(
    "v", [1.0, 2.0, 3.0, 255.0, 511.0, 0.5, 0.125, 123.456, 1e6, 1e-6, 3.14159]
)
def test_encode_matches_java_bit_spec(v):
    assert int(encode_feature([v])[0]) == _java_encode(v)
    f = int(encode_feature([v])[0])
    assert float(decode_feature([f])[0]) == _java_decode(f)


def test_integers_up_to_511_roundtrip():
    vals = np.arange(1, 512, dtype=np.float64)
    assert np.array_equal(decode_feature(encode_feature(vals)), vals)


def test_encode_rejects_nonpositive():
    for bad in (0.0, -1.0, float("nan"), float("inf")):
        with pytest.raises(ValueError):
            encode_feature([bad])


def test_saturation_float32_order():
    # w * (1 - pivot / (f + pivot)) in float32 ops (:414)
    sc = FeatureScorer("lucene", "saturation", 2.0, pivot=10.0)
    freqs = encode_feature([49.0])
    f = np.float32(49.0)
    exp = np.float32(2.0) * (np.float32(1.0) - np.float32(10.0) / (f + np.float32(10.0)))
    assert sc.score(freqs)[0] == exp
    assert sc.score(freqs).dtype == np.float32


def test_log_and_sigmoid_double_then_cast():
    sc = FeatureScorer("lucene", "log", 1.5, scaling=1.0)
    freqs = encode_feature([49.0])
    assert sc.score(freqs)[0] == np.float32(1.5 * np.log(1.0 + 49.0))
    sg = FeatureScorer("lucene", "sigmoid", 1.0, pivot=8.0, a=2.0)
    ppa = 8.0 ** 2.0
    assert sg.score(freqs)[0] == np.float32(1.0 - ppa / (49.0 ** 2.0 + ppa))


def test_double_mode_float64():
    sc = FeatureScorer("double", "saturation", 1.5, pivot=45.0)
    out = sc.score(encode_feature([100.0]))
    assert out.dtype == np.float64
    assert out[0] == 1.5 * (1.0 - 45.0 / (100.0 + 45.0))


def test_missing_params_raise():
    with pytest.raises(ValueError):
        FeatureScorer("lucene", "log", 1.0)
    with pytest.raises(ValueError):
        FeatureScorer("lucene", "saturation", 1.0)
    with pytest.raises(ValueError):
        FeatureScorer("lucene", "sigmoid", 1.0, pivot=1.0)
    with pytest.raises(ValueError):
        FeatureScorer("lucene", "nope", 1.0, pivot=1.0)


@pytest.fixture(scope="module")
def feat_index(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("index_feat"))
    rows = [
        (f"u{i:03d}", f"alpha beta w{i % 7}", float(1 + (i * 13) % 200))
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "url string, text string, pagerank double")
    build_index(
        spark, df, d, num_segments=4,
        fields={"body": "text"}, feature_fields={"pagerank": "pagerank"},
    )
    return d, {r[0]: r[2] for r in rows}


def test_feature_boosted_ranking(spark, feat_index):
    d, pr = feat_index
    s = Searcher(spark, d)
    q = BooleanQuery(
        should=(
            s.parse("alpha"),
            FeatureQuery("pagerank", "saturation", weight=2.0, pivot=10.0),
        )
    )
    hits = s.search(q, k=120, with_url=True).collect()
    assert len(hits) == 120  # every doc matches "alpha"
    # bm25(alpha) is constant across docs (same tf/dl), so ranking must
    # follow pagerank descending
    got = [r["url"] for r in hits]
    want = sorted(pr, key=lambda u: (-pr[u], u))
    assert got[:20] == want[:20]


def test_feature_should_next_to_phrase(spark, feat_index):
    """The FeatureField recipe with a positional MUST: one search task
    reads the phrase's positions and the feature rows, which store none
    (their freq is the encoded value); each doc scores phrase + feature."""
    d, pr = feat_index
    s = Searcher(spark, d)
    phrase = s.parse('"alpha beta"')
    feat = FeatureQuery("pagerank", "saturation", weight=2.0, pivot=10.0)
    hits = s.search(BooleanQuery(must=(phrase,), should=(feat,)), k=120, with_url=True)
    hits = hits.collect()
    assert len(hits) == 120  # every doc holds the phrase
    assert [r["url"] for r in hits][:20] == sorted(pr, key=lambda u: (-pr[u], u))[:20]
    p_sc = {r["docid"]: r["score"] for r in s.search(phrase, k=120).collect()}
    f_sc = {
        r["docid"]: r["score"]
        for r in s.search(BooleanQuery(should=(feat,)), k=120).collect()
    }
    for r in hits:
        assert r["score"] == pytest.approx(p_sc[r["docid"]] + f_sc[r["docid"]], rel=1e-6)


def test_feature_requires_fields(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("index_feat_bad"))
    df = spark.createDataFrame(
        [("u0", "a b c", 1.0)], "url string, text string, f double"
    )
    with pytest.raises(ValueError, match="feature_fields requires"):
        build_index(spark, df, d, feature_fields={"f": "f"})


def test_feature_count_and_missing(spark, feat_index):
    d, _pr = feat_index
    s = Searcher(spark, d)
    assert s.count(
        BooleanQuery(should=(FeatureQuery("pagerank", "saturation", pivot=1.0),))
    ) == 120
    hits = s.search(
        BooleanQuery(should=(FeatureQuery("nosuch", "saturation", pivot=1.0),)),
        k=5,
    ).collect()
    assert hits == []
