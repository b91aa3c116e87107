"""Live docs: per-segment delete lists (the .liv bitset analog).

Lucene marks deletions in a per-segment bitset applied by every scorer
(codecs/lucene90/Lucene90LiveDocsFormat.java; liveDocs checks in
search/Weight.java bulk scorers). Here deletes are a small parquet table
``deletes/(segment_id, docid)`` in STORED docid coordinates, appended per
delete batch. At search time each (segment, docid slice) task reads the
rows of its own range next to its postings (``index.reader.read_slice``),
and they become its context's ``deleted`` array, so a deleted doc is
filtered before it can occupy a top-k slot.

``updateDocument(term, doc)`` ≡ append new segment + delete-by-url of the
old doc (index/DocumentsWriterDeleteQueue.java buffered-delete semantics,
applied at flush; here applied at batch commit).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .reader import IndexReader

__all__ = [
    "DELETES_SCHEMA",
    "add_deletes_by_url",
    "add_deletes_by_query",
]

DELETES_SCHEMA = "segment_id int, docid long"


def add_deletes_by_url(
    spark: SparkSession, index_dir: str, urls_df: DataFrame
) -> int:
    """Mark every doc whose url appears in ``urls_df`` (column ``url``)
    deleted. Returns the number of newly marked docs. The docmap join is a
    broadcast of the (small) url batch against the partitioned docmap scan."""
    reader = IndexReader(spark, index_dir)
    hits = (
        reader.docmap.join(F.broadcast(urls_df.select("url").distinct()), "url")
        .select("segment_id", "docid")
    )
    n = hits.count()
    if n:
        hits.write.mode("append").parquet(f"{index_dir}/deletes")
    return n


def add_deletes_by_query(
    spark: SparkSession,
    index_dir: str,
    query,
    *,
    analyzer: str = "standard",
    stopwords: frozenset[str] | None = None,
) -> int:
    """IndexWriter.deleteDocuments(Query) (index/IndexWriter.java:1560
    deleteDocuments(Query...) — buffered query deletes resolved against a
    reader at flush; here resolved immediately against the committed
    index): every doc matching ``query`` (string or AST) gets a tombstone.
    The match runs the normal evaluation once, inside the tombstone write;
    global docids map back to (segment, stored docid) through a CASE over
    the segments' docid ranges — no collect of the hit set and no join.
    The count of new tombstones is the drop in live docs across the write,
    read from metadata."""
    from ..search.searcher import Searcher

    s = Searcher(
        spark, index_dir, analyzer=analyzer, stopwords=stopwords
    )
    ranges = sorted(s._seg_meta().items())
    if not ranges:
        return 0  # an empty index has no doc to delete
    # F.when opens each CASE, Column.when adds a branch per segment
    seg = base = F
    for sid, (b, mn, mx) in ranges:
        docid = F.col("docid")
        inside = (docid >= int(b) + int(mn)) & (docid < int(b) + int(mx))
        seg, base = seg.when(inside, int(sid)), base.when(inside, int(b))
    mapped = s.search_all(query).select(
        seg.cast("int").alias("segment_id"),
        (F.col("docid") - base).alias("docid"),
    )
    # search_all is live-docs-filtered, so no doc is tombstoned twice; its
    # tasks read the deletes the Searcher saw at open, so the first
    # tombstone write does not read the directory it creates
    live = s.reader.live_doc_count()
    mapped.write.mode("append").parquet(f"{index_dir}/deletes")
    return live - IndexReader(spark, index_dir).live_doc_count()
