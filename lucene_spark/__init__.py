"""lucene_spark — a PySpark-native inverted-index + BM25 top-k engine.

Built from scratch on the Spark DataFrame API with the query and indexing
semantics of Apache Lucene (reference: /root/reference, base version 11.0.0):

- analyzer chain (HTML extract -> UAX#29-subset tokenize -> lowercase -> stop)
  as vectorized Arrow UDFs,
- per-partition segment builds producing blocked, compressed posting lists
  (delta + FOR / VByte / unary-bitset, 128-doc blocks, block-max impacts),
- shuffle-based sorted segment merge into a global term dictionary,
- top-k BM25 (k1=1.2, b=0.75): windowed block-max pruning for single
  terms and term dismax on wide slices, an exhaustive evaluator (booleans
  in dense slice-wide accumulators) for everything else and for query
  batches, rank-identical to Lucene's scoring contract (float32,
  tie-break score DESC then docid ASC).

The index is a set of columnar tables (Parquet here; Iceberg in production —
the layout maps 1:1 onto Iceberg partitioned tables and snapshot commits).
"""

__version__ = "0.1.0"
