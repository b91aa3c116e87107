"""Spark schemas for the index tables.

The index is a set of columnar tables (Parquet here; Iceberg in production —
the layout is identical, Iceberg adds snapshot commits in place of our
manifest swap). They play the role of Lucene's per-segment codec files
(reference: lucene/core/src/java/org/apache/lucene/codecs/lucene103/):

- ``docmap``    ≈ .fdx/.nvd — url↔docid + norm byte + raw field length
- ``postings``  ≈ .doc/.pos — 128-doc blocks, delta/FOR/bitset/VByte encoded,
                  with per-block norms (denormalized so scoring never joins),
                  positions, and the competitive (freq,norm) impact skyline
- ``term_dict`` ≈ .tim/.tmd — per-term docFreq/totalTermFreq + singleton
                  pulsing (Lucene103PostingsWriter.java:564-571)
- ``field_stats`` ≈ CollectionStatistics inputs per segment
- ``segment_manifest`` ≈ segments_N (SegmentInfos.java:55-64) + lineage/metrics

All tables are directory-partitioned by ``segment_id``; a segment is the
output of exactly one build task (the DWPT analog), so partition-overwrite
by segment_id gives idempotent, resumable builds.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Row kinds inside the unified build output (one applyInPandas pass per
# segment emits docmap + term_dict + postings rows together; they are split
# into their tables afterwards — one tokenization pass, no re-read).
KIND_DOC = 0
KIND_TERM = 1
KIND_BLOCK = 2
# per-segment stats row (one per segment, written by the same single pass;
# column reuse: df=doc_count, ttf=sum_ttf, n_blocks=n_terms,
# first_docid=min_docid, last_docid=max_docid)
KIND_STATS = 3

UNIFIED_BUILD_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.ByteType(), False),
        T.StructField("segment_id", T.IntegerType(), False),
        # doc rows
        T.StructField("docid", T.LongType(), True),
        T.StructField("url", T.StringType(), True),
        T.StructField("doc_len", T.IntegerType(), True),
        T.StructField("norm", T.IntegerType(), True),
        # numeric doc-values (NumericDocValuesField analog): per-doc named
        # doubles for sorting / function scoring, stored columnar with the
        # docmap (Lucene's .dvd); absent keys = missing values
        T.StructField("dv", T.MapType(T.StringType(), T.DoubleType()), True),
        # term rows (term also set on block rows)
        T.StructField("term", T.StringType(), True),
        T.StructField("df", T.LongType(), True),
        T.StructField("ttf", T.LongType(), True),
        T.StructField("n_blocks", T.IntegerType(), True),
        T.StructField("singleton_docid", T.LongType(), True),
        T.StructField("singleton_freq", T.IntegerType(), True),
        T.StructField("singleton_norm", T.IntegerType(), True),
        T.StructField("singleton_positions", T.BinaryType(), True),
        T.StructField("singleton_payloads", T.BinaryType(), True),
        # block rows
        T.StructField("block_no", T.IntegerType(), True),
        T.StructField("n_docs", T.IntegerType(), True),
        T.StructField("base_docid", T.LongType(), True),
        T.StructField("first_docid", T.LongType(), True),
        T.StructField("last_docid", T.LongType(), True),
        T.StructField("encoding", T.ByteType(), True),
        T.StructField("docids_enc", T.BinaryType(), True),
        T.StructField("freqs_enc", T.BinaryType(), True),
        T.StructField("norms_enc", T.BinaryType(), True),
        T.StructField("positions_enc", T.BinaryType(), True),
        T.StructField("payloads_enc", T.BinaryType(), True),
        T.StructField("impact_freqs", T.ArrayType(T.LongType()), True),
        T.StructField("impact_norms", T.ArrayType(T.IntegerType()), True),
    ]
)

DOCMAP_COLS = ["segment_id", "docid", "url", "doc_len", "norm", "dv"]
TERM_DICT_COLS = [
    "segment_id",
    "term",
    "df",
    "ttf",
    "n_blocks",
    "singleton_docid",
    "singleton_freq",
    "singleton_norm",
    "singleton_positions",
    "singleton_payloads",
]
POSTINGS_COLS = [
    "segment_id",
    "term",
    "block_no",
    "n_docs",
    "base_docid",
    "first_docid",
    "last_docid",
    "encoding",
    "docids_enc",
    "freqs_enc",
    "norms_enc",
    "positions_enc",
    "payloads_enc",
    "impact_freqs",
    "impact_norms",
]

SEARCH_HIT_SCHEMA = T.StructType(
    [
        T.StructField("docid", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)
URL_HIT_SCHEMA = T.StructType(
    [
        T.StructField("docid", T.LongType(), False),
        T.StructField("url", T.StringType(), True),
        T.StructField("score", T.DoubleType(), False),
    ]
)
