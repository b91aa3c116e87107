"""Multi-field index surface: per-field stats, field-scoped queries,
FieldExistsQuery, and BM25F (CombinedFieldQuery) — engine vs a pure-python
per-field oracle on a multi-segment index (the gate covers single-segment
double-mode vs DuckDB; this covers cross-segment stats + float32 parity).

Reference semantics: search/CombinedFieldQuery.java:273-315 (pseudo stats),
MultiNormsLeafSimScorer (weighted norm sum, Math.round), FieldExistsQuery.java:39.
"""

import re

import numpy as np
import pytest

from lucene_spark.analysis.tokenizer import analyze
from lucene_spark.constants import ENGLISH_STOP_WORDS
from lucene_spark.fixtures import generate_webtext
from lucene_spark.functions.bm25 import Bm25Scorer
from lucene_spark.functions.smallfloat import BYTE4_DECODE_TABLE, int_to_byte4
from lucene_spark.index import build_index
from lucene_spark.index.builder import exists_term, field_term
from lucene_spark.search import Searcher
from lucene_spark.search.query import BooleanQuery, TermQuery

N_DOCS = 250
STOP = ENGLISH_STOP_WORDS
TITLE_LEN = 6


def _an(text):
    return [t.term for t in analyze(text, stopwords=STOP)]


@pytest.fixture(scope="module")
def corpus():
    rows = []
    for r in generate_webtext(N_DOCS):
        toks = _an(r["text"])
        rows.append(
            {
                "url": r["url"],
                "text": r["text"],
                "title": " ".join(toks[:TITLE_LEN]),
            }
        )
    return rows


@pytest.fixture(scope="module")
def index_dir(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("index_mf"))
    df = spark.createDataFrame(
        [(r["url"], r["text"], r["title"]) for r in corpus],
        "url string, text string, title string",
    )
    build_index(
        spark, df, d, num_segments=4, stopwords=STOP,
        fields={"body": "text", "title": "title"},
    )
    return d


@pytest.fixture(scope="module")
def searcher(spark, index_dir):
    return Searcher(spark, index_dir, stopwords=STOP)


@pytest.fixture(scope="module")
def docmap(searcher):
    dm = searcher._docmap_global().select("url", "docid").collect()
    return {r["url"]: r["docid"] for r in dm}


@pytest.fixture(scope="module")
def fields_py(corpus, docmap):
    """{field: {docid: [tokens]}} pure-python per-field token streams."""
    out = {"body": {}, "title": {}}
    for r in corpus:
        d = docmap[r["url"]]
        out["body"][d] = _an(r["text"])
        out["title"][d] = _an(r["title"])
    return out


def _field_stats(toks_by_doc):
    dc = sum(1 for v in toks_by_doc.values() if v)
    sttf = sum(len(v) for v in toks_by_doc.values())
    return dc, sttf


def _tf(toks_by_doc, term):
    return {d: v.count(term) for d, v in toks_by_doc.items() if term in v}


def _topk_expected(scores: dict, k: int):
    return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def test_meta_and_default_field(searcher):
    assert searcher.fields == ["body", "title"]
    assert searcher.default_field == "body"


def test_field_stats_from_exists_lists(searcher, fields_py):
    est = searcher._term_stats(
        [exists_term("body"), exists_term("title")]
    )
    for f in ("body", "title"):
        dc, sttf = _field_stats(fields_py[f])
        assert est[exists_term(f)] == (dc, sttf), f


def test_field_term_query_float32_parity(searcher, fields_py):
    """title:term scores = float32 BM25 with the title field's stats."""
    term = "w0003"
    tfs = _tf(fields_py["title"], term)
    assert tfs, "fixture term must occur in titles"
    dc, sttf = _field_stats(fields_py["title"])
    sc = Bm25Scorer.create(len(tfs), dc, sttf)
    exp = {}
    for d, f in tfs.items():
        nb = int(int_to_byte4(np.array([len(fields_py["title"][d])]))[0])
        exp[d] = float(sc.score(np.array([f]), np.array([nb]))[0])
    hits = searcher.search(f"title:{term}", k=len(tfs) + 5).collect()
    got = {r["docid"]: r["score"] for r in hits}
    want = dict(_topk_expected(exp, len(tfs) + 5))
    assert set(got) == set(want)
    for d in got:
        assert np.float32(got[d]) == np.float32(want[d]), d


def test_default_field_is_body(searcher, fields_py):
    """An unprefixed term searches body (the primary field)."""
    term = "w0042"
    tfs = _tf(fields_py["body"], term)
    hits = searcher.search(term, k=N_DOCS).collect()
    assert {r["docid"] for r in hits} == set(tfs)


def test_field_exists_query(searcher, fields_py):
    n_title = sum(1 for v in fields_py["title"].values() if v)
    hits = searcher.search("_exists_:title", k=N_DOCS + 10).collect()
    assert len(hits) == n_title
    assert all(r["score"] == 1.0 for r in hits)
    assert searcher.count("_exists_:title") == n_title


def test_field_prefix_expansion(searcher, fields_py):
    """title:w000* expands only within the title namespace."""
    hits = searcher.search("title:w000*", k=N_DOCS).collect()
    expect = {
        d
        for d, toks in fields_py["title"].items()
        if any(t.startswith("w000") for t in toks)
    }
    assert {r["docid"] for r in hits} == expect


def test_open_ranges_stay_in_field(searcher, fields_py):
    """An open-ended or all-open range expands only within its field's
    namespace: no existence key, no other field's terms."""
    from lucene_spark.search.query import TermRangeQuery

    def expanded(q):
        got = searcher.expand_multiterm(q, max_terms=100_000)
        return {c.term for c in got.should}

    def keys(field, keep):
        toks = {t for ts in fields_py[field].values() for t in ts}
        return {field_term(field, t) for t in toks if keep(t)}

    assert expanded(searcher.parse("[* TO w0001]")) == keys("body", lambda t: t <= "w0001")
    assert expanded(searcher.parse("[w9990 TO *]")) == keys("body", lambda t: t >= "w9990")
    assert expanded(searcher.parse("[* TO *]")) == keys("body", lambda t: True)
    title_tail = TermRangeQuery(field_term("title", "w0100"), None)
    assert expanded(title_tail) == keys("title", lambda t: t >= "w0100")
    # a field prefix keys a range's bounds and a regexp into that field
    assert expanded(searcher.parse("title:[w0100 TO w0200]")) == keys(
        "title", lambda t: "w0100" <= t <= "w0200"
    )
    assert expanded(searcher.parse("title:/w01[0-9]+/")) == keys(
        "title", lambda t: re.fullmatch("w01[0-9]+", t) is not None
    )
    assert expanded(searcher.parse("title:[* TO *]")) == keys("title", lambda t: True)
    assert expanded(searcher.parse("/w01[0-9]+/")) == keys(
        "body", lambda t: re.fullmatch("w01[0-9]+", t) is not None
    )
    # an empty pattern after ``name:`` is no regexp: a URL stays one word
    url = TermQuery(field_term("body", "example.com"))
    assert searcher.parse("http://example.com") == url
    assert searcher.parse("+http://example.com") == url


def test_complex_phrase_and_surround_stay_in_field(searcher):
    """Complex-phrase and surround leaves are keyed into the default
    field's namespace, plain words and expansions alike; bare keys match
    nothing on a multi-field index."""
    from lucene_spark.search.complexphrase import complex_phrase_query

    def count(q):
        return searcher.count(q)

    exact = count('"w0000 w0001"')
    assert exact > 0
    for cp in ("w0000 w0001", "w0000 (w0001 -w9999)"):
        assert count(complex_phrase_query(searcher, cp)) == exact, cp
    # an ordered span near lies between the exact and the sloppy phrase
    sloppy = count(complex_phrase_query(searcher, "w0000 w0001", slop=5))
    assert exact < sloppy <= count('"w0000 w0001"~5')
    assert count(complex_phrase_query(searcher, "w0000 w000*")) == count(
        '"w0000 w000*"'
    )
    assert count(complex_phrase_query(searcher, "w0000 w0001~1")) >= exact
    assert count(searcher.surround_query("w0000 W w0001")) == exact
    assert count(searcher.surround_query("w0000 W w000*")) == count('"w0000 w000*"')


def test_exists_and_phrase_in_one_batch(searcher):
    """A search_many batch that holds a FieldExistsQuery and a BM25F query
    (whose existence rows store no positions; their freq is a field
    length) next to a phrase and a span query answers each as a search of
    its own."""
    from lucene_spark.search.query import FieldExistsQuery
    from lucene_spark.search.spans import SpanNear, SpanTerm

    ns = field_term("body", "")
    queries = {
        "exists": FieldExistsQuery("title"),
        "phrase": '"w0000 w0001"',
        "span": SpanNear((SpanTerm(ns + "w0000"), SpanTerm(ns + "w0002")), slop=3),
        "mixed": "_exists_:title AND \"w0000 w0001\"",
        "bm25f": searcher.combined_field_query("w0003 w0042", {"body": 1.0, "title": 3.0}),
    }
    k = N_DOCS
    got = {}
    for r in searcher.search_many(queries, k=k).collect():
        got.setdefault(r["query_id"], []).append((r["docid"], r["score"]))
    for qid, q in queries.items():
        alone = [(r["docid"], r["score"]) for r in searcher.search(q, k=k).collect()]
        assert alone, qid
        assert got.get(qid) == alone, qid


def test_cross_field_bool(searcher, fields_py):
    """title:a OR b = union with per-field scoring, summed."""
    q = "title:w0003 OR w0042"
    t_tfs = _tf(fields_py["title"], "w0003")
    b_tfs = _tf(fields_py["body"], "w0042")
    hits = searcher.search(q, k=N_DOCS).collect()
    assert {r["docid"] for r in hits} == set(t_tfs) | set(b_tfs)


def _bm25f_expected(fields_py, tokens, weights, k):
    """Pure-python BM25F: CombinedFieldQuery pseudo-stats + weighted
    freq/norm combination, float32 like the engine's lucene mode."""
    names = sorted(weights)
    per_field = {f: fields_py[f] for f in names}
    stats = {f: _field_stats(per_field[f]) for f in names}
    dc = max(s[0] for s in stats.values())
    sttf = 0
    for f in names:
        sttf = int(sttf + weights[f] * stats[f][1])
    # combined norm per doc: floor(sum_f w*qdl_f + 0.5) requantized —
    # float32 accumulation in field order, like _evaluate_combined's dtype
    all_docs = set()
    for f in names:
        all_docs |= set(per_field[f])
    lt = BYTE4_DECODE_TABLE.astype(np.float32)
    cnorm = {}
    for d in all_docs:
        v = np.float32(0.0)
        for f in names:
            dl = len(per_field[f].get(d, []))
            if dl > 0:
                nb = int(int_to_byte4(np.array([dl]))[0])
                v = np.float32(v + np.float32(np.float32(weights[f]) * lt[nb]))
        cnorm[d] = int(
            int_to_byte4(np.array([int(np.floor(np.float64(v) + 0.5))]))[0]
        )
    total = {}
    for tok in tokens:
        df = max(
            len(_tf(per_field[f], tok)) for f in names
        )
        sc = Bm25Scorer.create(df, max(dc, 1), max(sttf, 1))
        freq = {}
        for f in names:
            for d, c in _tf(per_field[f], tok).items():
                freq[d] = np.float32(
                    freq.get(d, np.float32(0.0))
                    + np.float32(np.float32(weights[f]) * np.float32(c))
                )
        for d, fr in freq.items():
            s = sc.score(np.array([fr]), np.array([cnorm[d]]))[0]
            total[d] = np.float32(total.get(d, np.float32(0.0)) + np.float32(s))
    return _topk_expected({d: float(v) for d, v in total.items()}, k)


def test_combined_field_query_bm25f(searcher, fields_py):
    w = {"body": 1.0, "title": 3.0}
    q = searcher.combined_field_query("w0003 w0042", w)
    hits = searcher.search(q, k=10).collect()
    exp = _bm25f_expected(fields_py, ["w0003", "w0042"], w, k=10)
    assert [r["docid"] for r in hits] == [d for d, _ in exp]
    for r, (_d, s) in zip(hits, exp):
        assert np.float32(r["score"]) == np.float32(s), r["docid"]


def test_title_boost_changes_ranking(searcher):
    """Sanity: weighting title higher must move title-hit docs up."""
    q1 = searcher.combined_field_query("w0003", {"body": 1.0, "title": 1.0})
    q9 = searcher.combined_field_query("w0003", {"body": 1.0, "title": 9.0})
    r1 = [r["docid"] for r in searcher.search(q1, k=20).collect()]
    r9 = [r["docid"] for r in searcher.search(q9, k=20).collect()]
    assert r1 and r9  # both return hits; ranking may legitimately differ


def test_single_vs_multifield_body_parity(spark, corpus, tmp_path_factory, searcher, fields_py):
    """body:term on the mf index ranks like term on a single-field index
    (same per-field stats when every doc has a body)."""
    d = str(tmp_path_factory.mktemp("index_sf_parity"))
    df = spark.createDataFrame(
        [(r["url"], r["text"]) for r in corpus], "url string, text string"
    )
    build_index(spark, df, d, num_segments=4, stopwords=STOP)
    s1 = Searcher(spark, d, stopwords=STOP)
    h_mf = searcher.search("body:w0042", k=15).collect()
    h_sf = s1.search("w0042", k=15).collect()
    assert [r["docid"] for r in h_mf] == [r["docid"] for r in h_sf]
    for a, b in zip(h_mf, h_sf):
        assert np.float32(a["score"]) == np.float32(b["score"])


def test_per_field_analyzers(spark, tmp_path):
    """PerFieldAnalyzerWrapper: body stems (english), title doesn't
    (simple) — the same surface token matches differently per field, and
    the parser analyzes field:token with that field's chain."""
    from lucene_spark.index import build_index
    from lucene_spark.search import Searcher

    d = str(tmp_path / "pfa_idx")
    df = spark.createDataFrame(
        [
            ("u1", "running quickly", "Running Shoes"),
            ("u2", "runs daily", "Marathon Runners"),
            ("u3", "walked slowly", "Walking Boots"),
        ],
        "url string, body string, title string",
    )
    build_index(
        spark, df, d, num_segments=1,
        fields={"body": "body", "title": "title"},
        analyzer="simple",
        field_analyzers={"body": "english"},
    )
    s = Searcher(spark, d, analyzer="simple")
    # body:running stems to 'run' -> matches u1 (running) AND u2 (runs)
    body_hits = {r["docid"] for r in s.search("body:running", k=10).collect()}
    dm = {r["url"]: r["docid"]
          for r in s._docmap_global().select("url", "docid").collect()}
    assert body_hits == {dm["u1"], dm["u2"]}
    # title:running does NOT stem -> only u1's title has the exact token
    title_hits = {r["docid"] for r in s.search("title:running", k=10).collect()}
    assert title_hits == {dm["u1"]}
    # bad field name in field_analyzers fails fast
    import pytest as _pytest

    with _pytest.raises(ValueError):
        build_index(
            spark, df, str(tmp_path / "x"), num_segments=1,
            fields={"body": "body"}, field_analyzers={"nope": "english"},
        )
