"""The process-wide decoded-column cache of ``index/reader.py``
(``SEGMENT_CACHE``): answers stay those of ``oracle/pyindex.py`` when the
files under a cached directory change (a rebuild at the same path, a
merge, a compaction, a new delete batch), the cache stays inside its byte
bound, and a warm driver-run call opens no parquet file."""

import numpy as np
import pyarrow.dataset as pads
import pyarrow.parquet as papq
import pytest

import lucene_spark.index.reader as reader_mod
import lucene_spark.search.searcher as searcher_mod
from lucene_spark.constants import ENGLISH_STOP_WORDS as STOP
from lucene_spark.fixtures import generate_webtext
from lucene_spark.index import build_index
from lucene_spark.index.compaction import compact_deletes
from lucene_spark.index.deletes import add_deletes_by_query, add_deletes_by_url
from lucene_spark.index.merge import merge_segments
from lucene_spark.index.reader import SEGMENT_CACHE, warm_segments
from lucene_spark.index.schemas import POSTINGS_COLS
from lucene_spark.oracle.pyindex import PyIndex, topk_sort
from lucene_spark.search import Searcher

QUERIES = ["w0001", "w0000 OR w0003 OR w0100", '"w0000 w0001"']
K = 10


def _build(spark, d, rows, segments=2):
    df = spark.createDataFrame([(r["url"], r["text"]) for r in rows], "url string, text string")
    build_index(spark, df, d, num_segments=segments, stopwords=STOP)


def _hits(rows):
    return [(r["docid"], np.float32(r["score"]).tobytes()) for r in rows]


def _expected(s, rows, dead_urls=()):
    """query → (top K as (docid, float32 bytes), match count) from the
    oracle over the docs of ``s``'s docmap, deleted ones scored into the
    statistics but not returned, as the engine keeps them until
    compaction."""
    text = {r["url"]: r["text"] for r in rows}
    dm = {
        r["url"]: r["docid"] + s.reader.doc_bases[r["segment_id"]]
        for r in s.reader.docmap.select("segment_id", "url", "docid").collect()
    }
    oracle = PyIndex(stopwords=STOP)
    for url, docid in dm.items():
        oracle.add(docid, text[url])
    dead = {dm[u] for u in dead_urls if u in dm}
    out = {}
    for q in QUERIES:
        got = {d: sc for d, sc in oracle.eval_query(s._prepared(s.parse(q))).items()
               if d not in dead}
        top = topk_sort([(d, float(sc)) for d, sc in got.items()], K)
        out[q] = ([(d, np.float32(sc).tobytes()) for d, sc in top], len(got))
    return out


def _answers(s):
    many = {}
    for r in s.search_many({str(i): q for i, q in enumerate(QUERIES)}, k=K).collect():
        many.setdefault(QUERIES[int(r["query_id"])], []).append(r)
    return {
        q: (_hits(s.search(q, k=K).collect()), s.count(q),
            _hits(sorted(many.get(q, []), key=lambda r: (-r["score"], r["docid"]))))
        for q in QUERIES
    }


def _check(s, rows, monkeypatch, dead_urls=()):
    """search, count and search_many of ``s`` equal the oracle, run in the
    driver process and forced onto Spark."""
    want = _expected(s, rows, dead_urls)
    for wave in (float("inf"), 0.0):
        monkeypatch.setattr(searcher_mod, "WAVE_MS", wave)
        for q, (top, count, many) in _answers(s).items():
            assert top == want[q][0], (wave, q)
            assert count == want[q][1], (wave, q)
            assert many == want[q][0], (wave, q)


@pytest.fixture(scope="module")
def corpora():
    return generate_webtext(300, seed=3), generate_webtext(300, seed=4)


def test_rebuild_merge_and_compaction_read_fresh_files(spark, corpora, tmp_path, monkeypatch):
    """One process, the cache warm before each step: a rebuild at the same
    path (same partition directories, new files), a merge, and a
    compaction after a delete batch each answer as the oracle."""
    first, second = corpora
    d = str(tmp_path / "idx")
    _build(spark, d, first)
    _check(Searcher(spark, d, stopwords=STOP), first, monkeypatch)
    _build(spark, d, second)
    _check(Searcher(spark, d, stopwords=STOP), second, monkeypatch)
    m = str(tmp_path / "merged")
    merge_segments(spark, d, m, target_segments=1)
    _check(Searcher(spark, m, stopwords=STOP), second, monkeypatch)
    dead = [r["url"] for r in second[::4]]
    add_deletes_by_url(spark, m, spark.createDataFrame([(u,) for u in dead], "url string"))
    _check(Searcher(spark, m, stopwords=STOP), second, monkeypatch, dead)
    assert compact_deletes(spark, m, force=True)["compacted_segments"] == 1
    _check(Searcher(spark, m, stopwords=STOP), second, monkeypatch, dead)


def test_searcher_sees_a_later_delete_batch(spark, corpora, tmp_path, monkeypatch):
    """A delete batch written after a Searcher has searched (its deletes
    decoded, in the driver and in the Spark workers) drops the deleted
    docs from that same Searcher's next calls."""
    rows = corpora[0]
    d = str(tmp_path / "idx")
    _build(spark, d, rows)
    first = [r["url"] for r in rows[::9]]
    add_deletes_by_url(spark, d, spark.createDataFrame([(u,) for u in first], "url string"))
    s = Searcher(spark, d, stopwords=STOP)
    _check(s, rows, monkeypatch, first)
    monkeypatch.setattr(searcher_mod, "WAVE_MS", float("inf"))
    live = s.count("*")
    hit = {r["url"] for r in s.search("w0001", k=1000, with_url=True).collect()}
    assert hit
    assert add_deletes_by_query(spark, d, "w0001", stopwords=STOP) == len(hit)
    assert s.count("*") == live - len(hit)
    _check(s, rows, monkeypatch, [*first, *hit])
    for wave in (float("inf"), 0.0):
        monkeypatch.setattr(searcher_mod, "WAVE_MS", wave)
        assert s.search("w0001", k=K).collect() == []
        assert s.count("w0001") == 0


def test_cache_stays_inside_its_bound(spark, corpora, tmp_path, monkeypatch):
    """With a bound one byte short of what the calls decode, the cached
    bytes never pass it, they are the sum of the entries, and the answers
    hold."""
    rows = corpora[1]
    d = str(tmp_path / "idx")
    _build(spark, d, rows, segments=4)
    s = Searcher(spark, d, stopwords=STOP)
    monkeypatch.setattr(searcher_mod, "WAVE_MS", float("inf"))
    calls = [lambda: _answers(s)]
    for q in QUERIES:
        calls += [lambda q=q: s.search(q, k=K, with_url=True).collect(),
                  lambda q=q: s.count(q), lambda: s.search("*", k=K).collect()]
    SEGMENT_CACHE.clear()
    want = _answers(s)
    for call in calls:
        call()
    monkeypatch.setattr(SEGMENT_CACHE, "max_bytes", SEGMENT_CACHE.bytes - 1)
    SEGMENT_CACHE.clear()
    cached = {}
    for call in calls * 2:
        call()
        assert SEGMENT_CACHE.bytes <= SEGMENT_CACHE.max_bytes
        assert SEGMENT_CACHE.bytes == sum(n for _v, n in SEGMENT_CACHE.data.values())
        cached.update((k, n) for k, (_v, n) in SEGMENT_CACHE.data.items())
    # columns were cached, and more of them than fit at once
    assert sum(cached.values()) > SEGMENT_CACHE.max_bytes
    assert _answers(s) == want
    SEGMENT_CACHE.clear()


def test_partitions_too_large_to_cache_are_filtered_while_scanned(
    spark, corpora, tmp_path, monkeypatch
):
    """With a bound smaller than any partition's read columns, every read
    filters its scan and caches no column, the answers hold, and no
    segment counts as warm when placing a plan."""
    rows = corpora[1]
    d = str(tmp_path / "idx")
    _build(spark, d, rows)
    s = Searcher(spark, d, stopwords=STOP)
    monkeypatch.setattr(searcher_mod, "WAVE_MS", float("inf"))
    SEGMENT_CACHE.clear()
    want = _answers(s)
    segs = sorted(s.reader.doc_counts)
    cols = [c for c in POSTINGS_COLS if c not in ("positions_enc", "payloads_enc")]
    assert warm_segments(d, segs, cols) == set(segs)
    monkeypatch.setattr(SEGMENT_CACHE, "max_bytes", 4096)
    SEGMENT_CACHE.clear()
    assert _answers(s) == want
    assert not SEGMENT_CACHE.data
    assert warm_segments(d, segs, cols) is None
    SEGMENT_CACHE.clear()


def test_warm_segments_follow_what_the_cache_holds(spark, corpora, tmp_path, monkeypatch):
    """A segment is warm once a read has decoded its postings columns, and
    cold again after the cache is emptied; when the plan's postings
    columns together pass the bound, no segment counts as warm and the
    plan's reads keep none of them."""
    rows = corpora[0]
    d = str(tmp_path / "idx")
    _build(spark, d, rows, segments=6)
    s = Searcher(spark, d, stopwords=STOP)
    monkeypatch.setattr(searcher_mod, "WAVE_MS", float("inf"))
    segs = sorted(s.reader.doc_counts)
    cols = [c for c in POSTINGS_COLS if c not in ("positions_enc", "payloads_enc")]
    SEGMENT_CACHE.clear()
    assert warm_segments(d, segs, cols) == set()
    s.search("w0001", k=K).collect()
    assert warm_segments(d, segs, cols) == set(segs)
    # positions were never read
    assert warm_segments(d, segs, [*cols, "positions_enc"]) == set()
    # a bound one byte short of the plan's columns: none is warm for the
    # whole plan, every one for a plan of five, each segment's columns
    # fitting a quarter of the bound
    sizes = [reader_mod._open(f"{d}/data/kind=2/segment_id={seg}")[3] for seg in segs]
    each = [sum(z[c] for c in ("term", "first_docid", "last_docid", *cols) if c in z)
            for z in sizes]
    monkeypatch.setattr(SEGMENT_CACHE, "max_bytes", sum(each) - 1)
    assert max(each) <= SEGMENT_CACHE.max_bytes // 4
    assert warm_segments(d, segs, cols) is None
    assert warm_segments(d, segs[:5], cols) == set(segs[:5])
    # such a plan (a match-all, over every segment), its partitions
    # opened, reads past the cache: its postings columns are not kept
    SEGMENT_CACHE.clear()
    for seg in segs:
        reader_mod._open(f"{d}/data/kind=2/segment_id={seg}")
    top = s.search("*", k=K).collect()
    assert not [k for k in SEGMENT_CACHE.data if "/kind=2/" in k[0]]
    monkeypatch.setattr(SEGMENT_CACHE, "max_bytes", 256 << 20)
    assert s.search("*", k=K).collect() == top
    SEGMENT_CACHE.clear()


def test_warm_driver_run_search_opens_no_parquet(spark, corpora, tmp_path, monkeypatch):
    """After one warm-up call, repeating a driver-run search, with urls,
    count, count("*") and search_many opens no parquet file."""
    rows = corpora[0]
    d = str(tmp_path / "idx")
    _build(spark, d, rows)
    add_deletes_by_url(spark, d, spark.createDataFrame([(rows[0]["url"],)], "url string"))
    s = Searcher(spark, d, stopwords=STOP)
    monkeypatch.setattr(searcher_mod, "WAVE_MS", float("inf"))

    def calls():
        return (
            [r.asDict() for r in s.search("w0000 OR w0002", k=K, with_url=True).collect()],
            s.count('"w0000 w0001"'),
            s.count("*"),
            s.search("*", k=3).collect(),
            s.search_many({"a": "w0003", "b": "w0000 AND w0002"}, k=K).collect(),
        )

    warm = calls()

    def refuse(*_a, **_kw):
        raise AssertionError("a warm call opened parquet")

    monkeypatch.setattr(pads, "dataset", refuse)
    monkeypatch.setattr(papq, "ParquetFile", refuse)
    monkeypatch.setattr(papq, "read_table", refuse)
    assert calls() == warm
