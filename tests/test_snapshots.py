"""Point-in-time snapshots (SnapshotDeletionPolicy / IndexCommit analog):
a snapshot pins the commit metadata; merges must not reclaim pinned
segments; compaction rewrites into new segment ids so pins stay intact;
release + prune reclaims."""

import os

import pytest

from lucene_spark.constants import ENGLISH_STOP_WORDS
from lucene_spark.fixtures import generate_webtext
from lucene_spark.index import build_index
from lucene_spark.index.mergepolicy import MergePlan
from lucene_spark.index.reader import IndexReader
from lucene_spark.index.merge import execute_merge_plan
from lucene_spark.index.snapshots import (
    create_snapshot,
    list_snapshots,
    prune_unreferenced,
    referenced_segments,
    release_snapshot,
)
from lucene_spark.search import Searcher

STOP = ENGLISH_STOP_WORDS
Q = "w0001 OR w0004"


def _hits(searcher, k=10):
    return [
        (r["docid"], round(r["score"], 6))
        for r in searcher.search(Q, k=k).collect()
    ]


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("snap_idx"))
    rows = generate_webtext(300)
    df = spark.createDataFrame(
        [(r["url"], r["text"]) for r in rows], "url string, text string"
    )
    build_index(spark, df, d, num_segments=4, stopwords=STOP)
    return d


def test_snapshot_isolates_appends(spark, idx):
    s_live = Searcher(spark, idx, stopwords=STOP)
    before = _hits(s_live)
    n_before = s_live.count(s_live.parse(Q))
    create_snapshot(idx, "pre_append")
    snap_reader = IndexReader(spark, idx, snapshot="pre_append")
    pinned = (snap_reader.manifest_rows, snap_reader.global_stats)
    rows = generate_webtext(120, seed=99)
    df = spark.createDataFrame(
        [("app://" + r["url"], r["text"]) for r in rows],
        "url string, text string",
    )
    build_index(spark, df, idx, num_segments=2, stopwords=STOP, append=True)
    # the driver's stats reads resolve from the snapshot's commit metadata
    after = IndexReader(spark, idx, snapshot="pre_append")
    assert (after.manifest_rows, after.global_stats) == pinned
    assert IndexReader(spark, idx).global_stats[0] == pinned[1][0] + 120

    s_snap = Searcher(spark, idx, stopwords=STOP, snapshot="pre_append")
    assert _hits(s_snap) == before, "snapshot view changed after append"
    assert s_snap.count(s_snap.parse(Q)) == n_before
    s_live2 = Searcher(spark, idx, stopwords=STOP)
    assert s_live2.count(s_live2.parse(Q)) > n_before


def test_merge_keeps_pinned_segments(spark, idx):
    s_snap = Searcher(spark, idx, stopwords=STOP, snapshot="pre_append")
    snap_before = _hits(s_snap)
    pinned = referenced_segments(idx)
    assert pinned
    # in-place merge of the two oldest contiguous segments (both pinned)
    reader = s_snap.reader
    ids = sorted(int(r["segment_id"]) for r in reader.manifest_rows)[:2]
    execute_merge_plan(spark, idx, MergePlan(segment_ids=tuple(ids), total_docs=0))
    for s in ids:
        assert os.path.isdir(f"{idx}/data/kind=0/segment_id={s}"), (
            "merge reclaimed a snapshot-pinned segment"
        )
    # the snapshot still reads its exact point-in-time view
    s_snap2 = Searcher(spark, idx, stopwords=STOP, snapshot="pre_append")
    assert _hits(s_snap2) == snap_before
    # and the live (merged) index still answers correctly
    live = Searcher(spark, idx, stopwords=STOP)
    assert len(_hits(live)) == 10


def test_compaction_snapshot_safe(spark, idx):
    """Compaction under a snapshot pin: rewrites into NEW segment ids
    (write-once — committed partitions are never mutated), the live view
    loses the victims physically, and the snapshot still reads its exact
    point-in-time state from the pinned old partitions."""
    from lucene_spark.index.compaction import compact_deletes
    from lucene_spark.index.deletes import add_deletes_by_url

    s_snap = Searcher(spark, idx, stopwords=STOP, snapshot="pre_append")
    snap_before = _hits(s_snap)
    live = Searcher(spark, idx, stopwords=STOP)
    victims = [
        r["url"] for r in live.search(Q, k=3, with_url=True).collect()
    ]
    assert victims
    old_live_ids = {int(r["segment_id"]) for r in live.reader.manifest_rows}
    add_deletes_by_url(
        spark, idx, spark.createDataFrame([(u,) for u in victims], "url string")
    )
    metrics = compact_deletes(spark, idx, force=True)
    assert metrics["compacted_segments"] >= 1
    assert metrics["new_segment_ids"]
    # new ids never collide with anything previously committed or pinned
    assert set(metrics["new_segment_ids"].values()).isdisjoint(
        old_live_ids | referenced_segments(idx)
    )
    # live view: victims physically gone
    live2 = Searcher(spark, idx, stopwords=STOP)
    live_urls = {
        r["url"] for r in live2.search(Q, k=50, with_url=True).collect()
    }
    assert not (live_urls & set(victims))
    # pinned old partitions survive on disk; snapshot view is unchanged
    for s in referenced_segments(idx):
        assert os.path.isdir(f"{idx}/data/kind=0/segment_id={s}")
    s_snap2 = Searcher(spark, idx, stopwords=STOP, snapshot="pre_append")
    assert _hits(s_snap2) == snap_before


def test_release_and_prune_reclaims(spark, idx):
    pinned = referenced_segments(idx)
    live = {
        int(r["segment_id"])
        for r in Searcher(spark, idx, stopwords=STOP).reader.manifest_rows
    }
    stale = sorted(pinned - live)
    assert stale, "expected merged-away segments held only by the snapshot"
    release_snapshot(idx, "pre_append")
    assert list_snapshots(idx) == []
    reclaimed = prune_unreferenced(idx)
    assert set(stale) <= set(reclaimed)
    for s in stale:
        assert not os.path.isdir(f"{idx}/data/kind=0/segment_id={s}")
    # live index unaffected by the sweep
    assert len(_hits(Searcher(spark, idx, stopwords=STOP))) == 10
