"""Query-time reads of the term dictionary (``IndexReader._term_sums`` and
its callers): multi-term expansion against the ``oracle/pyindex.py``
expansion on keys with regex metacharacters, a field namespace and
non-ASCII letters; patterns RE2 rejects; and ``osa_many`` against the
scalar ``osa_distance``."""

import dataclasses
import re

import pytest
from hypothesis import given, seed, settings
from hypothesis import strategies as st

from lucene_spark.analysis.tokenizer import Token, analyze
from lucene_spark.index.builder import field_term
from lucene_spark.oracle.pyindex import PyIndex
from lucene_spark.search.fuzzy import osa_distance, osa_many
from lucene_spark.search.query import (
    BooleanQuery,
    FuzzyQuery,
    PrefixQuery,
    RegexpQuery,
    TermQuery,
    TermRangeQuery,
    WildcardQuery,
)

# index-time synonyms put tokens the standard tokenizer would split into
# the term dictionary
SYNONYMS = {
    "dot": ["a.b", "a-b", "a.c"],
    "star": ["st*r", "c#d"],
    "two": "a-bb",
}
TEXTS = ["dot one café", "dot two cafe", "star three cafés", "two star naïve", "one"]


@pytest.fixture(scope="module")
def searcher(spark, tmp_path_factory):
    from lucene_spark.index import build_index
    from lucene_spark.search import Searcher

    d = str(tmp_path_factory.mktemp("term_dict_idx"))
    df = spark.createDataFrame(
        [(f"u{i}", t) for i, t in enumerate(TEXTS)], "url string, text string"
    )
    build_index(spark, df, d, num_segments=2, fields={"body": "text"},
                synonyms=SYNONYMS)
    return Searcher(spark, d)


@pytest.fixture(scope="module")
def oracle():
    def an(text, stopwords=None):
        out = []
        for t in analyze(text, stopwords):
            out.append(t)
            syn = SYNONYMS.get(t.term, ())
            for alt in (syn,) if isinstance(syn, str) else syn:
                out.append(Token(alt, t.position, t.start, t.end, "SYNONYM"))
        return out

    idx = PyIndex(analyzer=an)
    for i, t in enumerate(TEXTS):
        idx.add(i, t)
    return idx


def _keyed(q, field="body"):
    """The engine-side form of oracle query ``q``: its terms in ``field``'s
    namespace."""
    if isinstance(q, BooleanQuery):
        return dataclasses.replace(q, should=tuple(_keyed(c, field) for c in q.should))
    if isinstance(q, TermQuery):
        return dataclasses.replace(q, term=field_term(field, q.term))
    return q


@pytest.mark.parametrize(
    "q",
    [
        WildcardQuery("a.b*"),
        WildcardQuery("a-?"),
        WildcardQuery("c#*"),
        WildcardQuery("x\\ y*"),
        WildcardQuery("st\\*r"),
        WildcardQuery("st*r"),
        WildcardQuery("caf?"),
        WildcardQuery("*é*"),
        WildcardQuery("*"),
        PrefixQuery("caf"),
        RegexpQuery("a[.-]b+"),
        RegexpQuery("caf.s?"),
        RegexpQuery("na.ve"),
        TermRangeQuery("a", "b"),
        TermRangeQuery("caf", None, include_lower=False),
        FuzzyQuery("cafe", max_edits=1),
        FuzzyQuery("naive", max_edits=2, prefix_length=1),
    ],
    ids=repr,
)
def test_expansion_matches_oracle(searcher, oracle, q):
    want = _keyed(oracle.expand_multiterm(q))
    if isinstance(q, RegexpQuery):  # the engine namespaces regexps itself
        got = searcher.expand_multiterm(q)
    else:
        keyed = dataclasses.replace(
            q, **{f.name: field_term("body", getattr(q, f.name))
                  for f in dataclasses.fields(q)
                  if f.name in ("pattern", "prefix", "lower", "upper", "term")
                  and getattr(q, f.name) is not None}
        )
        got = searcher.expand_multiterm(keyed)
    assert got == want


def test_regex_re2_rejects_names_pattern(searcher):
    """RE2 has no backreferences (nor has Lucene's RegExp)."""
    with pytest.raises(ValueError, match=re.escape(repr("(a)\\1")[1:-1])):
        searcher.expand_multiterm(RegexpQuery("(a)\\1"))


_word = st.one_of(st.text(alphabet="abcé中\x1f", max_size=8), st.text(max_size=8))


@seed(20261018)
@settings(max_examples=200, deadline=None)
@given(_word, st.lists(_word, max_size=20), st.integers(1, 2), st.booleans())
def test_osa_many_equals_osa_distance(target, terms, max_edits, transpositions):
    got = osa_many(target, terms, max_edits, transpositions).tolist()
    assert got == [osa_distance(target, t, max_edits, transpositions) for t in terms]
