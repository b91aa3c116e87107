"""LMDirichletSimilarity (similarities/LMDirichletSimilarity.java): the
engine's pluggable second similarity. Scores verified against a direct
python computation from the raw corpus (tokenize → freq/ttf/quantized dl →
the reference formula), including the 0-clamp and OR-accumulation."""

import numpy as np
import pytest

from lucene_spark.analysis.tokenizer import analyze
from lucene_spark.constants import ENGLISH_STOP_WORDS
from lucene_spark.fixtures import generate_webtext
from lucene_spark.functions.smallfloat import BYTE4_DECODE_TABLE, int_to_byte4
from lucene_spark.index import build_index
from lucene_spark.search import Searcher

STOP = ENGLISH_STOP_WORDS
MU = 2000.0


@pytest.fixture(scope="module")
def corpus():
    return generate_webtext(250)


@pytest.fixture(scope="module")
def idx(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("lm_idx"))
    df = spark.createDataFrame(
        [(r["url"], r["text"]) for r in corpus], "url string, text string"
    )
    build_index(spark, df, d, num_segments=3, stopwords=STOP)
    return d


@pytest.fixture(scope="module")
def s(spark, idx):
    return Searcher(spark, idx, stopwords=STOP, mode="lm_dirichlet")


@pytest.fixture(scope="module")
def model(spark, corpus, s):
    """url-keyed token stats + docid map."""
    toks = {r["url"]: [t.term for t in analyze(r["text"], stopwords=STOP)]
            for r in corpus}
    dm = {r["url"]: r["docid"]
          for r in s._docmap_global().select("url", "docid").collect()}
    sum_ttf = sum(len(v) for v in toks.values())
    return toks, dm, sum_ttf


def _lm_scores(model, term, boost=1.0):
    toks, dm, sum_ttf = model
    ttf = sum(v.count(term) for v in toks.values())
    p = (ttf + 1.0) / (sum_ttf + 1.0)
    out = {}
    for url, v in toks.items():
        freq = v.count(term)
        if freq == 0:
            continue
        qdl = float(BYTE4_DECODE_TABLE[int(int_to_byte4(np.array([len(v)]))[0])])
        sc = boost * (np.log(1.0 + freq / (MU * p)) + np.log(MU / (qdl + MU)))
        out[dm[url]] = max(sc, 0.0)
    return out


def test_lm_term_query(s, model):
    exp = _lm_scores(model, "w0001")
    top = sorted(exp.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = [(r["docid"], r["score"]) for r in s.search("w0001", k=10).collect()]
    assert [d for d, _ in got] == [d for d, _ in top]
    for (gd, gs), (ed, es) in zip(got, top):
        assert gs == pytest.approx(es, abs=1e-12), (gd, gs, es)


def test_lm_or_accumulates_clamped_terms(s, model):
    e1, e2 = _lm_scores(model, "w0001"), _lm_scores(model, "w0004")
    acc = {}
    for d, v in e1.items():
        acc[d] = (0.0 + v)
    for d, v in e2.items():
        acc[d] = acc.get(d, 0.0) + v
    top = sorted(acc.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = [(r["docid"], r["score"])
           for r in s.search("w0001 OR w0004", k=10).collect()]
    assert [d for d, _ in got] == [d for d, _ in top]
    for (gd, gs), (ed, es) in zip(got, top):
        assert gs == pytest.approx(es, abs=1e-12)


def test_lm_pruned_equals_exhaustive(s):
    """search() (windowed block-max for the term, exhaustive otherwise)
    returns exactly what the batched search_many() path returns."""
    qs = ("w0000", "w0000 OR w0002 OR w0005", '"w0000 w0001"')
    many: dict[str, list] = {}
    for r in sorted(
        s.search_many({q: q for q in qs}, k=10).collect(),
        key=lambda r: (-r["score"], r["docid"]),
    ):
        many.setdefault(r["query_id"], []).append((r["docid"], r["score"]))
    for q in qs:
        a = [(r["docid"], r["score"]) for r in s.search(q, k=10).collect()]
        assert a and a == many[q], q
