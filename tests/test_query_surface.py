"""Extended query surface: wildcard/regexp/fuzzy/range/set/synonym/dismax/
constant-score/boost/sloppy-phrase/minShouldMatch/searchAfter — engine vs
the pure-python oracle (CheckHits analog): rank-identical docids AND
bit-identical float32 scores."""

import numpy as np
import pytest

from lucene_spark.analysis.tokenizer import analyze
from lucene_spark.constants import ENGLISH_STOP_WORDS
from lucene_spark.fixtures import generate_webtext
from lucene_spark.index import build_index
from lucene_spark.oracle.pyindex import PyIndex, topk_sort
from lucene_spark.search import Searcher
from lucene_spark.search.query import (
    BooleanQuery,
    ConstantScoreQuery,
    DisjunctionMaxQuery,
    SynonymQuery,
    TermInSetQuery,
    TermQuery,
    parse_query,
)

N_DOCS = 300
STOP = ENGLISH_STOP_WORDS


@pytest.fixture(scope="module")
def corpus():
    return generate_webtext(N_DOCS)


@pytest.fixture(scope="module")
def index_dir(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("index_qs"))
    df = spark.createDataFrame(
        [(r["url"], r["text"]) for r in corpus], "url string, text string"
    )
    build_index(spark, df, d, num_segments=4, stopwords=STOP)
    return d


@pytest.fixture(scope="module")
def searcher(spark, index_dir):
    return Searcher(spark, index_dir, stopwords=STOP)


@pytest.fixture(scope="module")
def oracle(spark, corpus, index_dir, searcher):
    dm = searcher._docmap_global().select("url", "docid").collect()
    url_to_docid = {r["url"]: r["docid"] for r in dm}
    idx = PyIndex(stopwords=STOP)
    for r in corpus:
        idx.add(url_to_docid[r["url"]], r["text"])
    return idx


def _an(text):
    return analyze(text, stopwords=STOP)


def _check(searcher, oracle, q, k=10, msg=""):
    """q: query string (parsed identically on both sides) or AST node."""
    parsed = parse_query(q, _an) if isinstance(q, str) else q
    expected = oracle.search_query(parsed, k=k)
    got = [(r["docid"], r["score"]) for r in searcher.search(parsed, k=k).collect()]
    assert [d for d, _ in got] == [d for d, _ in expected], (
        f"{msg or q}: docids diverge\n got={got}\n exp={expected}"
    )
    for (gd, gs), (ed, es) in zip(got, expected):
        assert np.float32(gs) == np.float32(es), (msg or q, gd, gs, es)
    return got


QUERY_STRINGS = [
    # wildcard / regexp / range (ScoringRewrite over term_dict)
    "w00?0",
    "w0*9",
    "/w0[01]0[05]/",
    "[w0000 TO w0005]",
    "{w0000 TO w0005}",
    "[w9990 TO *]",
    # fuzzy (blended-freq rewrite)
    "w0000~1",
    "w000~",
    # boosts
    "w0000^2.5",
    "w0000^2 OR w0001",
    "(w0000 AND w0001)^3",
    '"w0000 w0001"^2',
    # sloppy phrases
    '"w0000 w0001"~1',
    '"w0000 w0002"~4',
    '"w0001 w0000"~2',
    # repeated-term sloppy phrases (collision-aware matcher)
    '"w0000 w0001 w0000"~2',
    '"w0000 w0000"~3',
    '"w0002 w0002 w0003"~4',
    # combinations
    "w00?1 AND w0000",
    "w0000 AND NOT w9*",
]


@pytest.mark.parametrize("qs", QUERY_STRINGS)
def test_query_string_parity(searcher, oracle, qs):
    _check(searcher, oracle, qs)


def test_multi_phrase_query(searcher, oracle):
    from lucene_spark.search.query import MultiPhraseQuery

    q = MultiPhraseQuery(slots=(("w0000", "w0001"), ("w0002",)))
    _check(searcher, oracle, q, msg="multiphrase")
    q2 = MultiPhraseQuery(
        slots=(("w0000",), ("w0001", "w0002", "w0003")), boost=1.5
    )
    _check(searcher, oracle, q2, msg="multiphrase-boost")
    # single-alternative slots rewrite to a plain phrase
    from lucene_spark.search.query import PhraseQuery, rewrite

    assert rewrite(MultiPhraseQuery(slots=(("a",), ("b",)))) == PhraseQuery(("a", "b"))


def test_synonym_query(searcher, oracle):
    q = SynonymQuery(terms=("w0000", "w0001"))
    _check(searcher, oracle, q, msg="synonym")
    q2 = SynonymQuery(terms=("w0002", "w9999"), boost=1.5)
    _check(searcher, oracle, q2, msg="synonym-boost")


def test_term_in_set_query(searcher, oracle):
    q = TermInSetQuery(terms=("w0000", "w0100", "w9999"), boost=2.0)
    got = _check(searcher, oracle, q, k=20, msg="term_in_set")
    assert all(np.float32(s) == np.float32(2.0) for _, s in got)


def test_dismax_query(searcher, oracle):
    q = DisjunctionMaxQuery(
        disjuncts=(TermQuery("w0000"), TermQuery("w0001")), tie_breaker=0.0
    )
    _check(searcher, oracle, q, msg="dismax-0")
    q2 = DisjunctionMaxQuery(
        disjuncts=(TermQuery("w0000"), TermQuery("w0001"), TermQuery("w0100")),
        tie_breaker=0.3,
    )
    _check(searcher, oracle, q2, msg="dismax-tie")


def test_constant_score_query(searcher, oracle):
    q = ConstantScoreQuery(
        query=BooleanQuery(must=(TermQuery("w0000"), TermQuery("w0001"))),
        boost=3.0,
    )
    got = _check(searcher, oracle, q, k=30, msg="constant")
    assert all(np.float32(s) == np.float32(3.0) for _, s in got)


def test_min_should_match(searcher, oracle):
    q = BooleanQuery(
        should=(TermQuery("w0000"), TermQuery("w0001"), TermQuery("w0002")),
        min_should_match=2,
    )
    _check(searcher, oracle, q, k=20, msg="msm2")
    # msm alongside MUST
    q2 = BooleanQuery(
        must=(TermQuery("w0000"),),
        should=(TermQuery("w0001"), TermQuery("w0002")),
        min_should_match=1,
    )
    _check(searcher, oracle, q2, k=20, msg="must+msm1")


def test_search_after_pagination(searcher, oracle):
    qs = "w0000 OR w0001 OR w0002"
    parsed = parse_query(qs, _an)
    full = oracle.search_query(parsed, k=20)
    page1 = [(r["docid"], r["score"]) for r in searcher.search(qs, k=10).collect()]
    anchor = (page1[-1][1], page1[-1][0])
    page2 = [
        (r["docid"], r["score"])
        for r in searcher.search(qs, k=10, after=anchor).collect()
    ]
    got = page1 + page2
    assert [d for d, _ in got] == [d for d, _ in full]
    for (gd, gs), (ed, es) in zip(got, full):
        assert np.float32(gs) == np.float32(es)


def test_search_after_crosses_segments(searcher):
    """Pages of all-tied hits: every anchor after the first page lies in a
    segment with a nonzero doc_base, so the anchor's global docid must be
    compared with global docids in every segment."""
    for qs in ["*", ConstantScoreQuery(TermQuery("w0000"), boost=2.0)]:
        full = [(r["docid"], r["score"]) for r in searcher.search(qs, k=N_DOCS).collect()]
        assert len({s for _d, s in full}) == 1, qs
        got, anchor = [], None
        while True:
            page = [
                (r["docid"], r["score"])
                for r in searcher.search(qs, k=len(full) // 3 + 1, after=anchor).collect()
            ]
            if not page:
                break
            got += page
            anchor = (page[-1][1], page[-1][0])
        assert got == full, qs


def test_fuzzy_blended_df(searcher, oracle):
    """Every fuzzy-expanded term scores with the blended (max) df."""
    from lucene_spark.search.query import FuzzyQuery

    q = FuzzyQuery("w0000", max_edits=2)
    expanded = searcher.expand_multiterm(q)
    assert isinstance(expanded, BooleanQuery) and len(expanded.should) > 1
    dfs = {c.df_override for c in expanded.should}
    assert len(dfs) == 1 and dfs.pop() > 0
    # exact term keeps boost 1.0; 1-edit neighbors get fractional boost
    boosts = {c.term: c.boost for c in expanded.should}
    assert boosts["w0000"] == 1.0
    assert all(0 < b <= 1.0 for b in boosts.values())
    _check(searcher, oracle, q, msg="fuzzy-blended")


def test_repeated_term_sloppy_injective(spark, tmp_path_factory):
    """A token occurrence can satisfy only ONE slot of a repeated term
    (SloppyPhraseMatcher "with repeats"). Hand-derived membership:
    docA has two w0000 occurrences -> matches; docB has only one -> cannot
    fill both slots -> no match; docC matches at length 1."""
    docs = [
        ("doc://a", "w0000 w0001 w0000"),
        ("doc://b", "w0000 w0001 w0002"),
        ("doc://c", "w0000 w0001 w0003 w0000"),
    ]
    d = str(tmp_path_factory.mktemp("index_repeats"))
    df = spark.createDataFrame(docs, "url string, text string")
    build_index(spark, df, d, num_segments=1, stopwords=STOP)
    s = Searcher(spark, d, stopwords=STOP)
    hits = s.search('"w0000 w0001 w0000"~2', k=10, with_url=True).collect()
    assert sorted(h["url"] for h in hits) == ["doc://a", "doc://c"]
    # single-occurrence doc can never match a two-slot repeat, any slop
    hits2 = s.search('"w0000 w0000"~9', k=10, with_url=True).collect()
    assert sorted(h["url"] for h in hits2) == ["doc://a", "doc://c"]


def test_docid_slicing_identical(spark, index_dir, searcher):
    """Intra-segment docid slices (IndexSearcher leaf-slice analog) must not
    change any result: every doc is scored by exactly one (segment, slice)
    task. span=97 is deliberately unaligned to stress straddling blocks."""
    sliced = Searcher(spark, index_dir, stopwords=STOP, slice_docs=97)
    for qs in [
        "w0000 OR w0001 OR w0002",
        "w0000 AND w0001",
        '"w0000 w0001"',
        '"w0000 w0002"~3',
        "w0000 AND NOT w0001",
        "w000*",
        "w0000~1",
    ]:
        a = [(r["docid"], np.float32(r["score"])) for r in searcher.search(qs, k=10).collect()]
        b = [(r["docid"], np.float32(r["score"])) for r in sliced.search(qs, k=10).collect()]
        assert a == b, qs
        assert searcher.count(qs) == sliced.count(qs), qs
    # batched path too
    qs = {"q1": "w0000 OR w0001", "q2": "w0000 AND w0001"}
    a = sorted(
        (r["query_id"], r["docid"], np.float32(r["score"]))
        for r in searcher.search_many(qs, k=10).collect()
    )
    b = sorted(
        (r["query_id"], r["docid"], np.float32(r["score"]))
        for r in sliced.search_many(qs, k=10).collect()
    )
    assert a == b


def test_hot_term_skew_no_stopfilter(spark, corpus, tmp_path_factory):
    """Stopwords indexed (not filtered): 'the'/'of' hit ~25% of all token
    positions — the web-scale hot-term skew case. Rank identity must hold
    through the block-max pruned path on such dense postings."""
    d = str(tmp_path_factory.mktemp("idx_hot"))
    df = spark.createDataFrame(
        [(r["url"], r["text"]) for r in corpus], "url string, text string"
    )
    build_index(spark, df, d, num_segments=4, stopwords=None)
    s = Searcher(spark, d, stopwords=None)
    oracle_hot = PyIndex(stopwords=None)
    dm = s._docmap_global().select("url", "docid").collect()
    url_to_docid = {r["url"]: r["docid"] for r in dm}
    for r in corpus:
        oracle_hot.add(url_to_docid[r["url"]], r["text"])
    from lucene_spark.analysis.tokenizer import analyze as _ana

    for qs in ["the", "the OR w0000", "the AND w0000", '"of the"', "the OR of OR and"]:
        parsed = parse_query(qs, lambda t: _ana(t))
        expected = oracle_hot.search_query(parsed, k=10)
        got = [(r["docid"], r["score"]) for r in s.search(qs, k=10).collect()]
        assert [x for x, _ in got] == [x for x, _ in expected], qs
        for (gd, gs), (ed, es) in zip(got, expected):
            assert np.float32(gs) == np.float32(es), (qs, gd)


def test_count_new_query_types(searcher, oracle):
    for qs in ["w00?0", "w0000~1", "[w0000 TO w0003]", '"w0000 w0001"~2']:
        parsed = parse_query(qs, _an)
        expected = len(oracle.search_query(parsed, k=N_DOCS))
        assert searcher.count(qs) == expected, qs


def test_phrase_prefix_query(searcher, oracle):
    """match_phrase_prefix: "w0000 w00*" — fixed slot + prefix expansion
    (PhraseWildcardQuery.java:66 single-wildcard case → MultiPhraseQuery)."""
    from lucene_spark.search.query import PhrasePrefixQuery

    q = PhrasePrefixQuery(terms=("w0000",), prefix="w000")
    _check(searcher, oracle, q, msg="phrase-prefix")
    # parser form: trailing star inside a quoted phrase
    parsed = parse_query('"w0000 w000*"', _an)
    assert isinstance(parsed, PhrasePrefixQuery), parsed
    assert parsed.terms == ("w0000",) and parsed.prefix == "w000"
    _check(searcher, oracle, parsed, msg="phrase-prefix-parsed")
    # star on the only token degrades to a plain PrefixQuery
    from lucene_spark.search.query import PrefixQuery

    assert parse_query('"w000*"', _an) == PrefixQuery("w000")
    # no expansion -> no hits
    q_none = PhrasePrefixQuery(terms=("w0000",), prefix="zzzzzzqq")
    assert searcher.search(q_none, k=5).count() == 0


def test_parser_escapes():
    """Classic QP backslash escaping (QueryParser.jj _ESCAPED_CHAR): escaped
    metachars are literal — no wildcard/fuzzy/field split — and unescape
    before analysis."""
    from lucene_spark.search.query import (
        FuzzyQuery,
        PhraseQuery,
        TermQuery,
        WildcardQuery,
        wildcard_to_regex,
    )

    # escaped colon: no field split (single analyzed token stream)
    assert parse_query(r"w0001\:w0002", _an) == PhraseQuery(("w0001", "w0002"))
    # escaped star: not a wildcard
    q = parse_query(r"data\*", _an)
    assert not isinstance(q, WildcardQuery)
    # unescaped star still is
    assert isinstance(parse_query("dat*a", _an), WildcardQuery)
    # escaped tilde: not fuzzy; unescaped is
    assert not isinstance(parse_query(r"sort\~2", _an), FuzzyQuery)
    assert isinstance(parse_query("sort~2", _an), FuzzyQuery)
    # escaped quote inside a phrase
    assert parse_query(r'"say \"hi\""', _an) == PhraseQuery(("say", "hi"))
    # wildcard regex honors escapes: literal star matched, trailing run free
    lit, rx = wildcard_to_regex(r"a\*b*")
    assert lit == "a*b" and rx == r"^a\*b.*$"
    import re as _re

    assert _re.match(rx, "a*bxyz") and not _re.match(rx, "aXbxyz")
