"""Where a plan runs does not change its answer: every entry point gives
the same docids and float32 score bits whether ``Searcher._slices`` runs
its tasks in the driver process or as a Spark stage, and both equal the
``oracle/pyindex.py`` brute-force index.

The index has block-joined families, live deletes in one segment and a
segment whose deletes were compacted away (its docid span has gaps)."""

import numpy as np
import pytest

import lucene_spark.search.searcher as searcher_mod
from lucene_spark.fixtures import generate_webtext
from lucene_spark.index import build_index
from lucene_spark.index.compaction import compact_deletes
from lucene_spark.index.deletes import add_deletes_by_url
from lucene_spark.oracle.pyindex import PyIndex, topk_sort
from lucene_spark.search import Searcher
from lucene_spark.search.query import TermQuery, ToChildBlockJoinQuery

PARENTS = TermQuery("parentmarker")
QUERIES = {
    "term": "w0001",
    "or": "w0000 OR w0003 OR w0100",
    "and_not": "w0000 AND NOT w0002",
    "phrase": '"w0000 w0001"',
    "all": "*",
    "all_not": "* -w0000",
    "child_join": ToChildBlockJoinQuery(PARENTS, PARENTS, boost=1.5),
}


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    """(Searcher, oracle, deleted global docids): 80 families of 1-4
    webtext children and a parent; in the first segment every third child
    is deleted and compacted away, in the second every tenth is deleted
    and stays a live delete."""
    text = [r["text"] for r in generate_webtext(400, seed=5)]
    rng = np.random.default_rng(7)
    rows = []
    for g in range(80):
        for c in range(int(rng.integers(1, 5))):
            rows.append({"url": f"doc://{g:03d}-c{c}", "text": text[len(rows)], "family": g})
        rows.append({"url": f"doc://{g:03d}-p", "text": "parentmarker", "family": g})
    d = str(tmp_path_factory.mktemp("driver_plans"))
    build_index(
        spark, spark.createDataFrame(rows), d, num_segments=2, stopwords=None,
        block_key="family",
    )
    s = Searcher(spark, d)
    dm = {
        r["url"]: (r["segment_id"], r["docid"] + s.reader.doc_bases[r["segment_id"]])
        for r in s.reader.docmap.select("segment_id", "url", "docid").collect()
    }
    segs = sorted({seg for seg, _d in dm.values()})
    children = sorted((dm[r["url"]][1], r["url"]) for r in rows if "-c" in r["url"])
    compacted = {u for i, (_d, u) in enumerate(children) if dm[u][0] == segs[0] and i % 3 == 0}
    deleted = {u for i, (_d, u) in enumerate(children) if dm[u][0] == segs[1] and i % 10 == 0}
    add_deletes_by_url(
        spark, d, spark.createDataFrame([(u,) for u in compacted | deleted], "url string")
    )
    assert compact_deletes(spark, d, max_deletes_pct=20.0)["compacted_segments"] == 1
    oracle = PyIndex(stopwords=None)
    for r in rows:
        if r["url"] not in compacted:
            oracle.add(dm[r["url"]][1], r["text"])
    return Searcher(spark, d), oracle, {dm[u][1] for u in deleted}


def _hits(df):
    return [(r["docid"], np.float32(r["score"]).tobytes()) for r in df.collect()]


def _answers(s, q):
    """Every entry point's answer to ``q``: search at k = 0, 4 and more
    than the hits, three search-after pages of 3, search_many, search_all
    and count."""
    out = {k: _hits(s.search(q, k=k)) for k in (0, 4, 1000)}
    after, pages = None, []
    for _ in range(3):
        rows = s.search(q, k=3, after=after).collect()
        pages.append([(r["docid"], np.float32(r["score"]).tobytes()) for r in rows])
        if rows:
            after = (rows[-1]["score"], rows[-1]["docid"])
    out["pages"] = pages
    out["many"] = sorted(
        (r["query_id"], r["docid"], np.float32(r["score"]).tobytes())
        for r in s.search_many({"q": q, "other": "w0002 OR w0004"}, k=4).collect()
    )
    out["all"] = sorted(_hits(s.search_all(q)))
    out["count"] = s.count(q)
    return out


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_driver_and_spark_plans_agree(index, monkeypatch, name):
    s, oracle, deleted = index
    q = QUERIES[name]
    monkeypatch.setattr(searcher_mod, "WAVE_MS", float("inf"))
    driver = _answers(s, q)
    monkeypatch.setattr(searcher_mod, "WAVE_MS", 0.0)
    spark_run = _answers(s, q)
    assert driver == spark_run

    ast = s.parse(q) if isinstance(q, str) else q
    expect = {
        d: sc for d, sc in oracle.eval_query(s._prepared(ast)).items() if d not in deleted
    }
    want = [(d, np.float32(sc).tobytes()) for d, sc in topk_sort(
        [(d, float(sc)) for d, sc in expect.items()], 1000
    )]
    assert driver[1000] == want
    assert driver[4] == want[:4]
    assert [h for page in driver["pages"] for h in page] == want[:9]
    assert driver["all"] == sorted(want)
    assert driver["count"] == len(expect)
    assert [(d, sc) for qid, d, sc in driver["many"] if qid == "q"] == sorted(want[:4])



def test_plan_slices_bounds_task_span():
    """No planned task is wider than ``MAX_SPAN`` docs, whatever the slice
    span, so the arrays a task sizes by its span stay bounded; a
    block-join plan (span None) keeps whole segments."""
    from lucene_spark.search.segment import MAX_SPAN

    meta = {0: (0, 0, 1000), 1: (1000, 7, 2 * MAX_SPAN + 5)}
    for span in (3 * MAX_SPAN, MAX_SPAN, 4096):
        tasks = searcher_mod.plan_slices(meta, span)
        assert all(0 < hi - lo <= MAX_SPAN for _seg, lo, hi in tasks), span
        for seg, (_base, lo, hi) in meta.items():
            mine = sorted((a, b) for s, a, b in tasks if s == seg)
            assert mine[0][0] == lo and mine[-1][1] == hi, span
            assert all(b == c for (_a, b), (c, _d) in zip(mine, mine[1:])), span
    whole = searcher_mod.plan_slices(meta, None)
    assert sorted(whole) == [(0, 0, 1000), (1, 7, 2 * MAX_SPAN + 5)]


def test_prepared_keeps_a_parsed_tree_with_nothing_to_expand(index, monkeypatch):
    """``expand_multiterm`` hands back the node itself when nothing under
    it expands, so ``_prepared`` returns the parsed (already rewritten)
    tree as it is, with no second rewrite. A prefix or fuzzy leaf inside a
    boolean still expands, and the expanded tree is rewritten; a query
    object, which no parser rewrote, is always rewritten."""
    from lucene_spark.search.query import BooleanQuery, FuzzyQuery, PrefixQuery, rewrite

    s = index[0]
    rewrites = []

    def counted(q):
        rewrites.append(q)
        return rewrite(q)

    monkeypatch.setattr(searcher_mod, "rewrite", counted)
    text = "w0000 AND (w0003 OR w0100) AND NOT w0002"
    parsed = s.parse(text)
    assert isinstance(parsed, BooleanQuery)
    assert s.expand_multiterm(parsed) is parsed
    assert s._prepared(text) == parsed and rewrites == []
    for text, leaf in (("w0000 AND (w010* OR w0003)", PrefixQuery),
                       ("w0000 OR w0100~1", FuzzyQuery)):
        parsed = s.parse(text)
        assert leaf in searcher_mod._node_types(parsed, set())
        got = s._prepared(text)
        assert rewrites and rewrites[-1] == s.expand_multiterm(parsed)
        assert got == rewrite(s.expand_multiterm(parsed))
        assert leaf not in searcher_mod._node_types(got, set())
    n = len(rewrites)
    obj = BooleanQuery(must=(BooleanQuery(should=(TermQuery("w0000"),)),))
    assert s._prepared(obj) == rewrite(obj) and len(rewrites) == n + 1
