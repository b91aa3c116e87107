"""IndexSearcher.explain analog + IndexWriter.deleteDocuments(Query)."""

import pytest

from lucene_spark.constants import ENGLISH_STOP_WORDS
from lucene_spark.fixtures import generate_webtext
from lucene_spark.index import build_index
from lucene_spark.index.deletes import add_deletes_by_query
from lucene_spark.search import Searcher

STOP = ENGLISH_STOP_WORDS


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("expl_idx"))
    rows = generate_webtext(200)
    df = spark.createDataFrame(
        [(r["url"], r["text"]) for r in rows], "url string, text string"
    )
    build_index(spark, df, d, num_segments=3, stopwords=STOP)
    return d


def test_explain_matches_search(spark, idx):
    s = Searcher(spark, idx, stopwords=STOP)
    q = "w0000 AND (w0001 OR w0002)"
    top = s.search(q, k=1).collect()[0]
    ex = s.explain(q, top["docid"])
    assert ex["match"]
    assert ex["value"] == pytest.approx(float(top["score"]), rel=1e-6)
    assert ex["details"], "boolean node should explain its clauses"
    def _clauses(node, out):
        for d in node.get("details", []):
            if "clause" in d:
                out.add(d["clause"])
            _clauses(d, out)
        return out

    clauses = _clauses(ex, set())
    assert "MUST" in clauses and "SHOULD" in clauses
    # non-matching doc explains as no-match
    missing = s.explain("zzzznotaterm", top["docid"])
    assert not missing["match"] and missing["value"] == 0.0


def test_delete_by_query(spark, idx):
    s = Searcher(spark, idx, stopwords=STOP)
    q = "w0009"
    victims = {r["docid"] for r in s.search_all(s.parse(q)).collect()}
    assert victims
    n_before_all = s.count(s.parse("w0000 OR w0009"))
    n = add_deletes_by_query(spark, idx, q, stopwords=STOP)
    assert n == len(victims)
    s2 = Searcher(spark, idx, stopwords=STOP)
    assert s2.count(s2.parse(q)) == 0
    left = {r["docid"] for r in s2.search_all(s2.parse("w0000")).collect()}
    assert not (left & victims), "tombstoned docs still match other queries"
    assert s2.count(s2.parse("w0000 OR w0009")) < n_before_all
    # idempotent replay: already-dead docs don't re-tombstone
    assert add_deletes_by_query(spark, idx, q, stopwords=STOP) == 0


def test_delete_by_query_evaluates_once(spark, idx, monkeypatch):
    """The query runs once, inside the tombstone write. Forced onto Spark,
    a delete of many docs is one job whose one stage runs the plan's
    tasks, and no hit reaches the driver; run on the driver, the write job
    is the only job. The returned count is the drop in live docs."""
    from perfbench.tracing import JobCounter

    import lucene_spark.search.searcher as searcher_mod
    from lucene_spark.search.searcher import plan_slices

    jobs = JobCounter(spark.sparkContext)
    for q, wave_ms in (("w0002", 0.0), ("w0000", float("inf"))):
        monkeypatch.setattr(searcher_mod, "WAVE_MS", wave_ms)
        s = Searcher(spark, idx, stopwords=STOP)
        victims = s.count(q)
        assert victims
        live = s.count("*")
        n_tasks = len(plan_slices(s._seg_meta(), s._slice_span()))
        with jobs.call(f"delete {q}") as gid:
            n = add_deletes_by_query(spark, idx, q, stopwords=STOP)
        assert n == victims
        if wave_ms == 0.0:
            assert victims >= 40  # a quarter of the live docs
            assert jobs.counts(gid) == (1, 1, n_tasks)
        else:
            assert jobs.counts(gid)[:2] == (1, 1)
        s2 = Searcher(spark, idx, stopwords=STOP)
        assert s2.count(q) == 0
        assert s2.count("*") == live - n
