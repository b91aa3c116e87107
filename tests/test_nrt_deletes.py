"""NRT append / live-docs deletes / Structured Streaming indexing.

Covers the SearcherManager-openIfChanged analog (append commits visible to
fresh readers), updateDocument-by-url semantics (tombstone + reinsert), and
the foreachBatch micro-batch pipeline end-to-end."""

import numpy as np
import pytest

from lucene_spark.constants import ENGLISH_STOP_WORDS
from lucene_spark.fixtures import generate_webtext
from lucene_spark.index import build_index
from lucene_spark.index.deletes import add_deletes_by_url
from lucene_spark.index.reader import IndexReader
from lucene_spark.search import Searcher

STOP = ENGLISH_STOP_WORDS


def _df(spark, rows):
    return spark.createDataFrame(
        [(r["url"], r["text"]) for r in rows], "url string, text string"
    )


@pytest.fixture(scope="module")
def corpus():
    return generate_webtext(240)


def test_append_new_segments(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_append"))
    m1 = build_index(spark, _df(spark, corpus[:150]), d, num_segments=3, stopwords=STOP)
    assert m1["n_docs"] == 150
    m2 = build_index(
        spark, _df(spark, corpus[150:]), d, num_segments=2, stopwords=STOP, append=True
    )
    assert m2["n_docs"] == 240 and m2["new_docs"] == 90
    assert m2["num_segments"] == 5
    r = IndexReader(spark, d)
    assert r.global_stats[0] == 240
    # all 240 urls visible, docids unique
    s = Searcher(spark, d, stopwords=STOP)
    dm = s._docmap_global().collect()
    assert len({x["docid"] for x in dm}) == 240
    assert {x["url"] for x in dm} == {r_["url"] for r_ in corpus}
    # appended docs are searchable and invariants hold
    from lucene_spark.index.invariants import check_index

    assert check_index(spark, d) == []
    assert s.count("w0000 OR w0001 OR w0002 OR the") > 0


def test_append_matches_monolithic_ranks(spark, corpus, tmp_path_factory):
    """An index built in two appends ranks identically to one built at once
    (global stats are collection-wide across all segments either way)."""
    d1 = str(tmp_path_factory.mktemp("idx_mono"))
    build_index(spark, _df(spark, corpus), d1, num_segments=5, stopwords=STOP)
    d2 = str(tmp_path_factory.mktemp("idx_twostep"))
    build_index(spark, _df(spark, corpus[:120]), d2, num_segments=3, stopwords=STOP)
    build_index(
        spark, _df(spark, corpus[120:]), d2, num_segments=2, stopwords=STOP, append=True
    )
    s1 = Searcher(spark, d1, stopwords=STOP)
    s2 = Searcher(spark, d2, stopwords=STOP)
    dm1 = {r["docid"]: r["url"] for r in s1._docmap_global().collect()}
    dm2 = {r["docid"]: r["url"] for r in s2._docmap_global().collect()}
    for qs in ["w0000", "w0000 OR w0001", "w0000 AND w0001", '"w0000 w0001"']:
        a = [(dm1[r["docid"]], np.float32(r["score"])) for r in s1.search(qs, k=10).collect()]
        b = [(dm2[r["docid"]], np.float32(r["score"])) for r in s2.search(qs, k=10).collect()]
        # same url set + scores (docid tie-break order may differ between
        # layouts, so compare as multisets)
        assert sorted(a) == sorted(b), qs


def test_deletes_exclude_docs(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_del"))
    build_index(spark, _df(spark, corpus), d, num_segments=4, stopwords=STOP)
    s = Searcher(spark, d, stopwords=STOP)
    before = s.search("w0000 OR w0001", k=5, with_url=True).collect()
    assert before
    victim_urls = [r["url"] for r in before[:2]]
    n = add_deletes_by_url(
        spark, d, spark.createDataFrame([(u,) for u in victim_urls], "url string")
    )
    assert n == 2
    s2 = Searcher(spark, d, stopwords=STOP)
    after = s2.search("w0000 OR w0001", k=5, with_url=True).collect()
    hits_urls = {r["url"] for r in after}
    assert not (hits_urls & set(victim_urls))

    def bits(rows):
        # scores compared as float32 bits
        return [(r["docid"], np.float32(r["score"]).tobytes()) for r in rows]

    def ranked(rows):
        return bits(sorted(rows, key=lambda r: (-r["score"], r["docid"])))

    # a term held by one segment only, and not by a segment with a victim:
    # with it, match-all inside a boolean must still cover the slices that
    # hold no postings row of the query (but do hold deletes)
    from pyspark.sql import functions as F

    from lucene_spark.oracle.pyindex import PyIndex

    dm = {r["url"]: r["docid"] for r in s2._docmap_global().collect()}
    victim_segs = [
        r["segment_id"]
        for r in s2.reader.docmap.filter(F.col("url").isin(victim_urls)).collect()
    ]
    t = (
        s2.reader.term_dict.groupBy("term")
        .agg(F.countDistinct("segment_id").alias("n"), F.sum("df").alias("df"),
             F.first("segment_id").alias("seg"))
        .filter((F.col("n") == 1) & ~F.col("seg").isin(victim_segs))
        .orderBy(F.desc("df"), "term")
        .first()["term"]
    )
    oracle = PyIndex(stopwords=STOP)
    for r_ in corpus:
        oracle.add(dm[r_["url"]], r_["text"])
    dead = {dm[u] for u in victim_urls}
    live_df = len({d_ for d_, _f, _p in oracle.postings[t]} - dead)

    # the four entry points agree under deletes, for the exhaustive evaluator
    # (OR), the windowed block-max one (term) and match-all, alone and in a
    # boolean, at k=0, k=10 and k past every live hit count
    qs = ("w0000 OR w0001", "w0000", "*", f"* -{t}", f"* {t}")
    every = {q: ranked(s2.search_all(q).collect()) for q in qs}
    # counts reflect deletes for term and match-all queries
    assert s2.search_all("*").count() == 240 - 2
    assert len(every[f"* -{t}"]) == 240 - 2 - live_df
    for q in qs:
        assert s2.count(q) == len(every[q]), q
    for q in (f"* -{t}", f"* {t}"):
        want = [
            (d_, np.float32(sc).tobytes())
            for d_, sc in oracle.search_query(s2.parse(q), k=240)
            if d_ not in dead
        ]
        assert every[q] == want, q
    for k in (0, 10, max(map(len, every.values())) + 5):
        many = s2.search_many({q: q for q in qs}, k=k).collect()
        for q in qs:
            a = bits(s2.search(q, k=k).collect())
            b = ranked([r for r in many if r["query_id"] == q])
            assert a == b == every[q][:k], (q, k)


def test_deletes_survive_merge(spark, corpus, tmp_path_factory):
    from lucene_spark.index.merge import merge_segments

    d = str(tmp_path_factory.mktemp("idx_del_m"))
    build_index(spark, _df(spark, corpus), d, num_segments=4, stopwords=STOP)
    s = Searcher(spark, d, stopwords=STOP)
    victim = s.search("w0000", k=1, with_url=True).collect()[0]["url"]
    add_deletes_by_url(spark, d, spark.createDataFrame([(victim,)], "url string"))
    out = str(tmp_path_factory.mktemp("idx_del_merged"))
    merge_segments(spark, d, out, target_segments=1)
    sm = Searcher(spark, out, stopwords=STOP)
    assert victim not in {
        r["url"] for r in sm.search("w0000", k=240, with_url=True).collect()
    }


def test_inplace_tiered_merge(spark, corpus, tmp_path_factory):
    """maybe_merge executes TieredMergePolicy plans in place: results,
    stats, and invariants are unchanged; obsolete segment dirs are gone."""
    import glob
    import os

    import numpy as np

    from lucene_spark.index.invariants import check_index
    from lucene_spark.index.merge import maybe_merge
    from lucene_spark.index.mergepolicy import TieredMergePolicy

    d = str(tmp_path_factory.mktemp("idx_tiered"))
    build_index(spark, _df(spark, corpus), d, num_segments=6, stopwords=STOP)
    s = Searcher(spark, d, stopwords=STOP)
    victim = s.search("w0000", k=1, with_url=True).collect()[0]["url"]
    add_deletes_by_url(spark, d, spark.createDataFrame([(victim,)], "url string"))
    s = Searcher(spark, d, stopwords=STOP)
    before = {
        qs: [(r["docid"], np.float32(r["score"])) for r in s.search(qs, k=10).collect()]
        for qs in ["w0000 OR w0001", "w0000 AND w0001", '"w0000 w0001"']
    }
    n_before = s.count("*")

    res = maybe_merge(
        spark, d, TieredMergePolicy(segments_per_tier=2, max_merge_at_once=10)
    )
    assert res and res[0]["merged_segments"] >= 2
    assert check_index(spark, d) == []
    s2 = Searcher(spark, d, stopwords=STOP)
    assert len(s2.reader.manifest_rows) < 6
    assert s2.count("*") == n_before
    for qs, exp in before.items():
        got = [(r["docid"], np.float32(r["score"])) for r in s2.search(qs, k=10).collect()]
        assert got == exp, qs
    assert victim not in {
        r["url"] for r in s2.search("w0000", k=240, with_url=True).collect()
    }
    # obsolete partition dirs reclaimed
    merged_away = res[0]["merged_segments"]
    remaining = len(glob.glob(f"{d}/data/kind=2/segment_id=*"))
    assert remaining == len(s2.reader.manifest_rows)
    assert os.path.isdir(f"{d}/data/kind=2/segment_id={res[0]['new_segment_id']}")


def test_streaming_index(spark, corpus, tmp_path_factory):
    """End-to-end Structured Streaming: file source → foreachBatch append →
    searchable index with upsert-by-url."""
    import os

    from lucene_spark.streaming import index_stream

    src = str(tmp_path_factory.mktemp("stream_src"))
    ckpt = str(tmp_path_factory.mktemp("stream_ckpt"))
    idx = str(tmp_path_factory.mktemp("stream_idx"))

    # first wave of files
    _df(spark, corpus[:100]).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema("url string, text string").parquet(src)
    q, writer = index_stream(
        stream, idx, ckpt, trigger_once=True, stopwords=STOP, segments_per_batch=2
    )
    q.awaitTermination(120)
    assert writer.batches_done >= 1
    s = Searcher(spark, idx, stopwords=STOP)
    assert s.count("*") == 100

    # second wave: 40 new docs + 10 updated urls (changed text)
    updated = [dict(r, text=r["text"] + " zzupdated") for r in corpus[:10]]
    _df(spark, corpus[100:140] + updated).coalesce(1).write.mode("append").parquet(src)
    q, writer = index_stream(
        stream, idx, ckpt, trigger_once=True, stopwords=STOP, segments_per_batch=2
    )
    q.awaitTermination(120)
    s2 = Searcher(spark, idx, stopwords=STOP)
    # 100 + 40 new + 10 replacements; the 10 old versions are tombstoned
    assert s2.count("*") == 140
    got = s2.search("zzupdated", k=20, with_url=True).collect()
    assert len(got) == 10
    assert {r["url"] for r in got} == {r["url"] for r in updated}
    assert os.path.isdir(f"{idx}/deletes")
    # invariants hold on the upserted index (duplicate urls exist in the
    # docmap but all non-latest copies are tombstoned)
    from lucene_spark.index.invariants import check_index

    assert check_index(spark, idx) == []


@pytest.fixture(scope="module")
def compacted(spark, corpus, tmp_path_factory):
    """A 3-segment index with every third doc deleted and then compacted
    away (33% > the 20% threshold), a fresh index of only the live docs,
    the deleted urls and the compaction metrics."""
    from lucene_spark.index.compaction import compact_deletes

    d = str(tmp_path_factory.mktemp("idx_compact"))
    fresh = str(tmp_path_factory.mktemp("idx_fresh"))
    victims = {r["url"] for r in corpus[::3]}
    build_index(spark, _df(spark, corpus), d, num_segments=3, stopwords=STOP)
    add_deletes_by_url(
        spark, d, spark.createDataFrame([(u,) for u in victims], "url string")
    )
    live = [r for r in corpus if r["url"] not in victims]
    build_index(spark, _df(spark, live), fresh, num_segments=3, stopwords=STOP)
    metrics = compact_deletes(spark, d, max_deletes_pct=20.0)
    return d, fresh, victims, metrics


def test_compact_deletes_physical_reclaim(spark, corpus, compacted):
    """compact_deletes drops tombstoned docs from the postings payloads.
    Oracle: after compaction the index must score IDENTICALLY (per url,
    bit-for-bit float32) to a fresh index built from only the live docs —
    same segment assignment (url-hash), same stats, same postings. A
    match-all visits the docmap's docs, not the compacted docid span."""
    import os

    from lucene_spark.index.invariants import check_index

    d, fresh, victims, metrics = compacted
    live = [r for r in corpus if r["url"] not in victims]
    assert metrics["compacted_segments"] == 3
    assert metrics["reclaimed_docs"] == len(victims)
    assert not os.path.isdir(f"{d}/deletes")  # every tombstone reclaimed
    assert check_index(spark, d) == []

    s_c = Searcher(spark, d, stopwords=STOP)
    s_f = Searcher(spark, fresh, stopwords=STOP)
    assert s_c.count("*") == len(live) == s_c.search_all("*").count()
    for qs in [
        "w0000", "w0000 OR w0001", "w0000 AND w0001", '"w0000 w0001"',
        "* -w0000", "* w0000",
    ]:
        got = {
            (r["url"], np.float32(r["score"]))
            for r in s_c.search(qs, k=len(live), with_url=True).collect()
        }
        exp = {
            (r["url"], np.float32(r["score"]))
            for r in s_f.search(qs, k=len(live), with_url=True).collect()
        }
        assert got == exp, qs
        assert not {u for u, _ in got} & victims
        if qs.startswith("*"):
            assert s_c.count(qs) == s_f.count(qs) == len(exp), qs


def test_read_slice_docs_after_compaction(spark, compacted):
    """``read_slice(docs=True)`` returns the docmap's stored docids of the
    range — with the gaps compaction left — and, for no terms, no block
    rows (a typed empty ``term IN ()``)."""
    from pyspark.sql import functions as F

    from lucene_spark.index.reader import read_slice
    from lucene_spark.index.schemas import POSTINGS_COLS

    d = compacted[0]
    r = IndexReader(spark, d)
    seg, (lo, hi) = next(iter(sorted(r.segment_bounds.items())))
    hi += 1
    blocks, deleted, docs = read_slice(d, None, seg, lo, hi, [], POSTINGS_COLS, docs=True)
    assert len(blocks["term"]) == 0
    assert list(blocks) == POSTINGS_COLS[1:] + ["impact_off"]
    assert deleted is None
    stored = sorted(
        x["docid"]
        for x in r.docmap.filter(
            (F.col("segment_id") == seg) & F.col("docid").between(lo, hi - 1)
        ).collect()
    )
    assert list(docs) == stored
    assert 0 < len(stored) < hi - lo  # compaction left gaps in the span
    # without docs=True no docmap is read
    assert read_slice(d, None, seg, lo, hi, ["w0000"], POSTINGS_COLS)[2] is None


def test_streaming_batch_replay_idempotent(spark, corpus, tmp_path_factory):
    """A replayed foreachBatch call (same batch_id, post-commit crash
    window) must be a no-op: the batch_id recorded in segment lineage
    detects the already-committed batch."""
    from lucene_spark.streaming.nrt import StreamingIndexWriter

    idx = str(tmp_path_factory.mktemp("replay_idx"))
    writer = StreamingIndexWriter(idx, stopwords=STOP, segments_per_batch=2)
    writer(_df(spark, corpus[:60]), 0)
    writer(_df(spark, corpus[60:100]), 1)
    s = Searcher(spark, idx, stopwords=STOP)
    assert s.count("*") == 100
    # replay batch 1 (checkpoint lost after commit): must not re-append
    writer(_df(spark, corpus[60:100]), 1)
    s2 = Searcher(spark, idx, stopwords=STOP)
    assert s2.count("*") == 100
