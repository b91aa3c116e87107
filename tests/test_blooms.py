"""Per-segment term Bloom filters (index/blooms.py) — segment-skip pruning
with BloomFilteringPostingsFormat semantics: pruning never changes results,
staleness degrades to no-pruning."""

import pytest
from pyspark.sql import functions as F

from lucene_spark.constants import ENGLISH_STOP_WORDS
from lucene_spark.fixtures import generate_webtext
from lucene_spark.index import build_index
from lucene_spark.index.blooms import (
    bloom_candidate_segments,
    load_term_blooms,
    write_term_blooms,
)
from lucene_spark.index.reader import IndexReader
from lucene_spark.search import Searcher

STOP = ENGLISH_STOP_WORDS
NSEG = 6


def _df(spark, rows):
    return spark.createDataFrame(
        [(r["url"], r["text"]) for r in rows], "url string, text string"
    )


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("bloom_idx"))
    # 400 fixture docs + one marker doc holding a unique primary-key-ish
    # term (the BloomFilteringPostingsFormat target workload)
    rows = generate_webtext(400)
    rows.append({"url": "https://marker.example/1", "text": "uniqmarkerterm w0001"})
    build_index(spark, _df(spark, rows), d, num_segments=NSEG, stopwords=STOP)
    info = write_term_blooms(spark, d)
    assert info["segments"] == NSEG
    return d


def test_rare_term_prunes_segments(spark, idx):
    reader = IndexReader(spark, idx)
    live = [int(r["segment_id"]) for r in reader.manifest_rows]
    blooms = load_term_blooms(idx, reader.doc_counts)
    assert set(blooms) == set(live) and len(live) == NSEG
    cand = bloom_candidate_segments(blooms, live, ["uniqmarkerterm"])
    assert cand is not None and 1 <= len(cand) < NSEG
    # a term in (almost) every doc keeps every segment -> None (skip filter)
    assert bloom_candidate_segments(blooms, live, ["w0001"]) is None
    # unioned terms: the hot term dominates
    assert bloom_candidate_segments(blooms, live, ["uniqmarkerterm", "w0001"]) is None


def test_results_identical_with_and_without_blooms(spark, idx, tmp_path_factory):
    import shutil

    bare = str(tmp_path_factory.mktemp("bloom_bare")) + "/idx"
    shutil.copytree(idx, bare)
    shutil.rmtree(f"{bare}/term_blooms")

    for q in ["uniqmarkerterm", "w0001 AND NOT w0002", "w0003 OR uniqmarkerterm"]:
        with_b = Searcher(spark, idx, stopwords=STOP).search(q, k=20, with_url=True)
        no_b = Searcher(spark, bare, stopwords=STOP).search(q, k=20, with_url=True)
        a = [(r["url"], round(r["score"], 6)) for r in with_b.collect()]
        b = [(r["url"], round(r["score"], 6)) for r in no_b.collect()]
        assert a == b, q

    hits = Searcher(spark, idx, stopwords=STOP).search("uniqmarkerterm", k=5)
    assert hits.count() == 1


def test_stale_blooms_degrade_to_no_pruning(spark, idx, tmp_path_factory):
    import shutil

    d = str(tmp_path_factory.mktemp("bloom_stale")) + "/idx"
    shutil.copytree(idx, d)
    # append a new doc with a brand-new term WITHOUT refreshing blooms
    rows = [{"url": "https://late.example/1", "text": "latearrivalterm w0002"}]
    build_index(spark, _df(spark, rows), d, num_segments=1, stopwords=STOP, append=True)

    reader = IndexReader(spark, d)
    live = [int(r["segment_id"]) for r in reader.manifest_rows]
    assert len(live) == NSEG + 1
    blooms = load_term_blooms(d, reader.doc_counts)
    # the appended segment has no (valid) bloom row -> always a candidate
    appended = set(live) - set(blooms)
    assert len(appended) == 1
    cand = bloom_candidate_segments(blooms, live, ["latearrivalterm"])
    assert cand is not None and appended <= set(cand)
    hits = Searcher(spark, d, stopwords=STOP).search("latearrivalterm", k=5)
    assert hits.count() == 1
    # refresh picks the new segment up and keeps pruning the rest
    write_term_blooms(spark, d)
    reader2 = IndexReader(spark, d)
    blooms2 = load_term_blooms(d, reader2.doc_counts)
    assert set(blooms2) == set(live)
    cand2 = bloom_candidate_segments(blooms2, live, ["latearrivalterm"])
    assert cand2 is not None and len(cand2) < len(live)


def test_pruned_segments_get_no_task(spark, idx, monkeypatch):
    """The plan of a rare term has one task per (segment, slice) of its
    Bloom-candidate segments, fewer than all segments. It is small, so it
    runs in the driver process with no Spark job; forced onto Spark, it
    runs those tasks as one stage, and it finds the term's one doc either
    way."""
    from perfbench.tracing import JobCounter

    import lucene_spark.search.searcher as searcher_mod
    from lucene_spark.search.searcher import plan_slices

    s = Searcher(spark, idx, stopwords=STOP)
    cand = bloom_candidate_segments(
        s.reader.term_blooms,
        [int(r["segment_id"]) for r in s.reader.manifest_rows],
        ["uniqmarkerterm"],
    )
    meta = s._seg_meta()
    n_tasks = len(plan_slices({seg: meta[seg] for seg in cand}, s._slice_span()))
    assert 1 <= len(cand) < NSEG and n_tasks >= len(cand)
    jobs = JobCounter(spark.sparkContext)
    with jobs.call("bloom-pruned-search-url") as gid:
        first = s.search("uniqmarkerterm", k=5, with_url=True).collect()
    assert jobs.counts(gid) == (0, 0, 0)
    assert [r["url"] for r in first] == ["https://marker.example/1"]
    monkeypatch.setattr(searcher_mod, "WAVE_MS", 0.0)
    with jobs.call("bloom-pruned-search") as gid:
        hits = s.search("uniqmarkerterm", k=5).collect()
    assert jobs.counts(gid) == (1, 1, n_tasks)
    assert [(r["docid"], r["score"]) for r in hits] == [
        (r["docid"], r["score"]) for r in first
    ]
    # match-all in the tree matches docs without the term: no segment is
    # skipped
    assert s.count("* -uniqmarkerterm") == 400


def test_spark_work_budget(spark, idx, monkeypatch):
    """Planning reads on the driver: opening a Searcher launches no Spark
    job. A plan on this 401-doc index costs less than one Spark wave, so
    every call runs in the driver process and launches none, url lookups
    and a match-all included. Forced onto Spark, each call is one job of
    one map-only stage of at most one task per (segment, slice), and
    ``with_url`` adds no job: the urls of the top k are read with pyarrow.
    ``count("*")`` reads only metadata either way. Multi-term expansion
    and spell suggestions read the term dictionary with pyarrow, so they
    add no job, and a Searcher keeps no per-query state."""
    from perfbench.tracing import JobCounter

    import lucene_spark.search.searcher as searcher_mod
    from lucene_spark.search.complexphrase import complex_phrase_query
    from lucene_spark.search.searcher import plan_slices
    from lucene_spark.search.spell import (
        DirectSpellChecker,
        NGramSpellChecker,
        prefix_suggest,
    )

    jobs = JobCounter(spark.sparkContext)
    with jobs.call("open") as gid:
        s = Searcher(spark, idx, stopwords=STOP)
    assert jobs.counts(gid)[0] == 0
    n_tasks = len(plan_slices(s._seg_meta(), s._slice_span()))

    def calls(expect):
        with jobs.call("search") as gid:
            hits = s.search("w0002 OR w0003", k=5).collect()
        assert len(hits) == 5
        assert expect(jobs.counts(gid))
        with jobs.call("search url") as gid:
            urls = s.search("w0002 OR w0003", k=5, with_url=True).collect()
        assert [(r["docid"], r["score"]) for r in urls] == [
            (r["docid"], r["score"]) for r in hits
        ]
        assert all(r["url"].startswith("https://") for r in urls)
        assert expect(jobs.counts(gid))
        with jobs.call("count") as gid:
            n = s.count("w0004 AND w0005")
        assert n > 0
        assert expect(jobs.counts(gid))
        with jobs.call("search_many") as gid:
            got = s.search_many({"a": "w0006", "b": "w0007 w0008"}, k=3).collect()
        assert sorted(r["query_id"] for r in got) == ["a"] * 3 + ["b"] * 3
        assert expect(jobs.counts(gid))
        with jobs.call("search *") as gid:
            hits = s.search("*", k=5).collect()
        assert [r["docid"] for r in hits] == [0, 1, 2, 3, 4]
        assert expect(jobs.counts(gid))
        with jobs.call("count *") as gid:
            n = s.count("*")
        assert n == 401
        assert jobs.counts(gid) == (0, 0, 0)
        with jobs.call("search_many *") as gid:
            got = s.search_many({"a": "*", "b": "w0009"}, k=3).collect()
        assert [r["docid"] for r in got if r["query_id"] == "a"] == [0, 1, 2]
        assert len(got) == 6
        assert expect(jobs.counts(gid))
        multi_term = [
            "w012*", "w01?3", "/w01[0-9]3/", "w0123~1", "[w0120 TO w0125]",
            '"w0001 w00*"', s.fuzzy_like_this("w0123 w0456"),
            complex_phrase_query(s, "w0001 w0002~1"),
        ]
        for q in multi_term:
            with jobs.call(f"search {q}") as gid:
                hits = s.search(q, k=5).collect()
            assert hits, q
            assert expect(jobs.counts(gid)), q
        suggest = [
            lambda: DirectSpellChecker(s).suggest_similar("w0123x"),
            lambda: NGramSpellChecker(s).suggest_similar("w0123"),
            lambda: prefix_suggest(s, "w01"),
        ]
        for i, call in enumerate(suggest):
            with jobs.call(f"suggest {i}") as gid:
                assert call(), i
            assert jobs.counts(gid) == (0, 0, 0), i

    def state(obj) -> dict:
        return {k: len(v) if hasattr(v, "__len__") else None for k, v in vars(obj).items()}

    calls(lambda counts: counts == (0, 0, 0))
    before = state(s), state(s.reader)
    got = s.search_many({str(i): f"w{i:04d}*" for i in range(200)}, k=1).collect()
    assert len(got) > 100
    assert (state(s), state(s.reader)) == before
    monkeypatch.setattr(searcher_mod, "WAVE_MS", 0.0)
    calls(lambda counts: counts[:2] == (1, 1) and 1 <= counts[2] <= n_tasks)


def test_search_tasks_read_no_term_dictionary(spark, idx, monkeypatch):
    """The term dictionary is read once per call, by the plan: a task of a
    driver-run ``search()`` opens its segment's postings partition and no
    ``kind=1`` partition, and still finds a pulsed singleton (the marker
    doc's term), which it takes from the plan."""
    import pyarrow.dataset as pads

    import lucene_spark.search.searcher as searcher_mod

    s = Searcher(spark, idx, stopwords=STOP)
    opened, in_task = [], [False]
    real_dataset, real_read = pads.dataset, searcher_mod.read_slice

    def dataset(source, *a, **kw):
        if in_task[0]:
            opened.append(str(source))
        return real_dataset(source, *a, **kw)

    def read_slice(*a, **kw):
        in_task[0] = True
        try:
            return real_read(*a, **kw)
        finally:
            in_task[0] = False

    monkeypatch.setattr(pads, "dataset", dataset)
    monkeypatch.setattr(searcher_mod, "read_slice", read_slice)
    hits = s.search("uniqmarkerterm OR w0002", k=3, with_url=True).collect()
    assert hits[0]["url"] == "https://marker.example/1"
    assert s.count("uniqmarkerterm") == 1
    assert any("/kind=2/" in p for p in opened)
    assert not [p for p in opened if "/kind=1/" in p]
