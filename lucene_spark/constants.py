"""Engine constants mirroring the reference's fixed parameters.

Reference citations (paths relative to /root/reference/lucene/):
- BLOCK_SIZE=128 (the level-1 skip factor of 32 blocks has no analog here):
  core/src/java/org/apache/lucene/codecs/lucene103/Lucene103PostingsFormat.java:343-353
- BM25 defaults k1=1.2 b=0.75 discountOverlaps=true:
  core/src/java/org/apache/lucene/search/similarities/BM25Similarity.java:96-98
- maxTokenLength=255: analysis/standard/StandardAnalyzer.java:37
- MAX_TERM_LENGTH=32766: core/src/java/org/apache/lucene/index/IndexWriter.java:255
- totalHitsThreshold=1000: core/src/java/org/apache/lucene/search/IndexSearcher.java:100
- PFOR MAX_EXCEPTIONS=7: codecs/lucene103/PForUtil.java:30
"""

BLOCK_SIZE = 128            # docs per postings block
BM25_K1 = 1.2
BM25_B = 0.75
MAX_TOKEN_LENGTH = 255      # tokens longer than this are skipped (position still advances)
MAX_TERM_LENGTH = 32766     # bytes
TOTAL_HITS_THRESHOLD = 1000
PFOR_MAX_EXCEPTIONS = 7
MAX_DOCS = 2**31 - 128      # IndexWriter.MAX_DOCS

# Canonical 33-word English stop set
# (analysis/common/src/java/org/apache/lucene/analysis/en/EnglishAnalyzer.java:45-53).
# StandardAnalyzer() itself defaults to an EMPTY stop set
# (analysis/standard/StandardAnalyzer.java:51-53); pass stopwords explicitly to enable.
ENGLISH_STOP_WORDS = frozenset(
    """a an and are as at be but by for if in into is it no not of on or such
    that the their then there these they this to was will with""".split()
)

FIELD_TEXT = "text"  # the single indexed field name for webtext
