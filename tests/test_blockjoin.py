"""ToParentBlockJoinQuery: engine vs PyIndex oracle across score modes,
block-layout guarantees under block_key builds, and filter-context use."""

import numpy as np
import pytest

from lucene_spark.analysis.tokenizer import analyze
from lucene_spark.index import build_index
from lucene_spark.oracle.pyindex import PyIndex
from lucene_spark.search import Searcher
from lucene_spark.search.query import (
    BooleanQuery,
    ConstantScoreQuery,
    MatchNoDocsQuery,
    TermQuery,
    ToParentBlockJoinQuery,
    rewrite,
)

N_FAMILIES = 60
VOCAB = ["alpha", "beta", "gamma", "delta", "eps"] + [f"w{i:02d}" for i in range(20)]


@pytest.fixture(scope="module")
def corpus():
    rng = np.random.default_rng(11)
    rows = []
    for g in range(N_FAMILIES):
        n_children = int(rng.integers(1, 6))
        for r in range(n_children):
            n = int(rng.integers(4, 25))
            toks = [VOCAB[int(t)] for t in rng.integers(0, len(VOCAB), size=n)]
            rows.append(
                {
                    "url": f"doc://{g:06d}-c{r}",
                    "text": " ".join(toks),
                    "family": g,
                }
            )
        rows.append(
            {"url": f"doc://{g:06d}-p", "text": "parentmarker", "family": g}
        )
    return rows


@pytest.fixture(scope="module")
def searcher(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_bj"))
    df = spark.createDataFrame(corpus)
    build_index(spark, df, d, num_segments=3, stopwords=None, block_key="family")
    return Searcher(spark, d, stopwords=None)


@pytest.fixture(scope="module")
def docmap(searcher):
    return {
        r["url"]: r["docid"]
        for r in searcher._docmap_global().select("url", "docid").collect()
    }


@pytest.fixture(scope="module")
def pyidx(corpus, docmap):
    idx = PyIndex(stopwords=None)
    for r in corpus:
        idx.add(docmap[r["url"]], r["text"])
    return idx


def test_block_layout(corpus, docmap):
    """block_key keeps each family contiguous with the parent last."""
    fams: dict[int, list[tuple[int, str]]] = {}
    for r in corpus:
        fams.setdefault(r["family"], []).append((docmap[r["url"]], r["url"]))
    for g, members in fams.items():
        members.sort()
        ids = [d for d, _u in members]
        assert ids == list(range(ids[0], ids[0] + len(ids))), f"family {g}"
        assert members[-1][1].endswith("-p"), f"family {g} parent not last"


PARENTS = TermQuery("parentmarker")


def _check(searcher, pyidx, q, k=20):
    exp = pyidx.search_query(q, k=k)
    got = [(r["docid"], r["score"]) for r in searcher.search(q, k=k).collect()]
    assert [d for d, _ in got] == [d for d, _ in exp], f"{q}"
    for (gd, gs), (_ed, es) in zip(got, exp):
        assert np.float32(gs) == np.float32(es), (q, gd, gs, es)
    return got


@pytest.mark.parametrize("mode", ["avg", "max", "total", "min", "none"])
def test_score_modes(searcher, pyidx, mode):
    child = BooleanQuery(
        should=(TermQuery("alpha"), TermQuery("beta"))
    )
    q = ToParentBlockJoinQuery(child, PARENTS, mode)
    got = _check(searcher, pyidx, q)
    assert got, "fixture should match"
    if mode == "none":
        assert all(s == 0.0 for _d, s in got)


def test_boost_and_single_child_family(searcher, pyidx):
    q = ToParentBlockJoinQuery(TermQuery("gamma"), PARENTS, "total", boost=2.5)
    _check(searcher, pyidx, q)


def test_in_boolean_and_filter_context(searcher, pyidx):
    bj = ToParentBlockJoinQuery(TermQuery("alpha"), PARENTS, "max")
    # scored alongside a parent-level term
    q = BooleanQuery(should=(bj, TermQuery("parentmarker", boost=0.1)))
    _check(searcher, pyidx, q)
    # filter context: constant-score wrap
    q2 = ConstantScoreQuery(bj, boost=3.0)
    _check(searcher, pyidx, q2)


def test_rewrite_and_validation():
    with pytest.raises(ValueError):
        ToParentBlockJoinQuery(TermQuery("a"), PARENTS, "sum")
    assert isinstance(
        rewrite(ToParentBlockJoinQuery(MatchNoDocsQuery(), PARENTS, "avg")),
        MatchNoDocsQuery,
    )


def test_parents_count_matches(searcher, pyidx):
    q = ToParentBlockJoinQuery(TermQuery("alpha"), PARENTS, "none")
    assert searcher.count(q) == len(pyidx.eval_query(q))


# --- ToChildBlockJoinQuery -------------------------------------------------

from lucene_spark.search.query import ToChildBlockJoinQuery  # noqa: E402


def test_child_join_scores(searcher, pyidx):
    # parent query scores parents by their own content (the marker term);
    # every child inherits its parent's score
    q = ToChildBlockJoinQuery(TermQuery("parentmarker"), PARENTS, boost=1.5)
    got = _check(searcher, pyidx, q, k=30)
    assert got, "children expected"


def test_child_join_filter_context_and_count(searcher, pyidx):
    q = ToChildBlockJoinQuery(TermQuery("parentmarker"), PARENTS)
    assert searcher.count(q) == len(pyidx.eval_query(q))
    _check(searcher, pyidx, ConstantScoreQuery(q, boost=2.0), k=25)


def test_child_join_roundtrip_with_parent_join(searcher, pyidx, corpus, docmap):
    """children-of(parents-of(child query)) covers exactly the siblings of
    matching children."""
    bj = ToParentBlockJoinQuery(TermQuery("alpha"), PARENTS, "none")
    cj = ToChildBlockJoinQuery(
        BooleanQuery(must=(ConstantScoreQuery(bj), TermQuery("parentmarker"))),
        PARENTS,
    )
    got_children = {d for d, _s in _check(searcher, pyidx, cj, k=10_000)}
    # independent expectation from the corpus itself
    fams_with_alpha = {
        r["family"] for r in corpus if "alpha" in r["text"].split()
    }
    exp = {
        docmap[r["url"]]
        for r in corpus
        if r["family"] in fams_with_alpha and not r["url"].endswith("-p")
    }
    assert got_children == exp


def test_child_join_after_compaction(spark, tmp_path_factory):
    """Compaction drops deleted docs without renumbering, so a block's docid
    range has gaps: a parent's children are the docmap's docs between two
    parents, each scoring its own parent's score."""
    from lucene_spark.index.compaction import compact_deletes
    from lucene_spark.index.deletes import add_deletes_by_url

    rows = [
        {
            "url": f"doc://{g:04d}-{m}",
            "text": f"parentmarker {' '.join(['pm'] * (g % 4 + 1))}"
            if m == "p"
            else f"child {m}",
            "family": g,
        }
        for g in range(N_FAMILIES)
        for m in ("c0", "c1", "c2", "p")
    ]
    d = str(tmp_path_factory.mktemp("idx_bj_compact"))
    build_index(
        spark, spark.createDataFrame(rows), d, num_segments=3, stopwords=None,
        block_key="family",
    )
    victims = {r["url"] for r in rows if r["url"].endswith("-c1")}
    add_deletes_by_url(
        spark, d, spark.createDataFrame([(u,) for u in victims], "url string")
    )
    # one doc in four per family: every segment is over the 20% threshold
    assert compact_deletes(spark, d, max_deletes_pct=20.0)["reclaimed_docs"] == 60
    s = Searcher(spark, d, stopwords=None)
    live = {r["url"] for r in rows if "-c" in r["url"]} - victims
    q = ToChildBlockJoinQuery(TermQuery("pm"), PARENTS, boost=2.0)
    assert s.count(q) == len(live)
    assert s.count(ConstantScoreQuery(q)) == len(live)
    assert s.search_all(q).count() == len(live)
    parent = {
        r["url"][:-2]: np.float32(r["score"])
        for r in s.search(TermQuery("pm"), k=N_FAMILIES, with_url=True).collect()
    }
    hits = s.search(q, k=len(rows), with_url=True).collect()
    assert {r["url"] for r in hits} == live  # no deleted child comes back
    for r in hits:
        exp = np.float32(np.float64(parent[r["url"][:-3]]) * 2.0)
        assert np.float32(r["score"]) == exp, r["url"]


def test_child_join_rewrite():
    from lucene_spark.search.query import MatchNoDocsQuery, rewrite

    assert isinstance(
        rewrite(ToChildBlockJoinQuery(MatchNoDocsQuery(), PARENTS)),
        MatchNoDocsQuery,
    )


# --- ParentChildrenBlockJoinQuery -------------------------------------------

from lucene_spark.search.query import ParentChildrenBlockJoinQuery  # noqa: E402


def _family_of(corpus, docmap, g):
    kids = {
        docmap[r["url"]] for r in corpus
        if r["family"] == g and r["url"].split("-")[-1].startswith("c")
    }
    parent = docmap[f"doc://{g:06d}-p"]
    return kids, parent


def test_parent_children_matches_child_scores(searcher, corpus, docmap):
    # every child hit keeps its own child score == the plain query's score
    plain = {
        r["docid"]: r["score"]
        for r in searcher.search(TermQuery("alpha"), k=100000).collect()
    }
    checked = 0
    for g in (0, 17, N_FAMILIES - 1):
        kids, parent = _family_of(corpus, docmap, g)
        q = ParentChildrenBlockJoinQuery(TermQuery("alpha"), PARENTS, parent)
        got = {r["docid"]: r["score"] for r in searcher.search(q, k=50).collect()}
        assert set(got) == kids & set(plain), g
        for d, s in got.items():
            assert np.float32(s) == np.float32(plain[d])
        checked += len(got)
    assert checked > 0, "fixture should match somewhere"


def test_parent_children_non_parent_docid_empty(searcher, corpus, docmap):
    kids, _parent = _family_of(corpus, docmap, 3)
    some_child = min(kids)
    q = ParentChildrenBlockJoinQuery(TermQuery("alpha"), PARENTS, some_child)
    assert searcher.search(q, k=10).count() == 0


def test_parent_children_boost(searcher, corpus, docmap):
    for g in range(N_FAMILIES):
        kids, parent = _family_of(corpus, docmap, g)
        base = ParentChildrenBlockJoinQuery(TermQuery("beta"), PARENTS, parent)
        rows = searcher.search(base, k=50).collect()
        if not rows:
            continue
        boosted_q = ParentChildrenBlockJoinQuery(
            TermQuery("beta"), PARENTS, parent, boost=2.0
        )
        brows = {r["docid"]: r["score"] for r in searcher.search(boosted_q, k=50).collect()}
        for r in rows:
            assert np.isclose(brows[r["docid"]], 2.0 * r["score"], rtol=1e-6)
        return
    raise AssertionError("no family matched beta")


def test_parent_children_rewrite():
    assert isinstance(
        rewrite(ParentChildrenBlockJoinQuery(MatchNoDocsQuery(), PARENTS, 4)),
        MatchNoDocsQuery,
    )


def test_parent_children_filter_context(searcher, corpus, docmap):
    """count, a constant-score wrap and a MUST_NOT clause evaluate the
    query as a docid set: the children ``search`` returns."""
    alpha = {r["docid"] for r in searcher.search(TermQuery("alpha"), k=100000).collect()}
    checked = 0
    for g in (0, 17, N_FAMILIES - 1):
        _kids, parent = _family_of(corpus, docmap, g)
        q = ParentChildrenBlockJoinQuery(TermQuery("alpha"), PARENTS, parent)
        hits = {r["docid"] for r in searcher.search(q, k=50).collect()}
        assert searcher.count(q) == len(hits), g
        assert searcher.count(ConstantScoreQuery(q)) == len(hits), g
        rest = BooleanQuery(should=(TermQuery("alpha"),), must_not=(q,))
        got = {r["docid"] for r in searcher.search(rest, k=100000).collect()}
        assert got == alpha - hits, g
        checked += len(hits)
    assert checked > 0, "fixture should match somewhere"
