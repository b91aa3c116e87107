"""Float32 BM25 with Lucene's exact evaluation order, vectorized in numpy.

Rank identity with the reference requires bit-identical float32 arithmetic
(reference: lucene/core/src/java/org/apache/lucene/search/similarities/
BM25Similarity.java):

- ``idf = (float) Math.log(1 + (docCount - docFreq + 0.5) / (docFreq + 0.5))``
  computed in float64, cast to float32 (:101-103),
- ``avgdl = (float) (sumTotalTermFreq / (double) docCount)`` (:106-108),
- per-norm-byte cache ``cache[i] = 1f / (k1 * ((1 - b) + b * LENGTH_TABLE[i]
  / avgdl))`` in float32 (:180-184),
- ``weight = boost * idf`` float32 (:217),
- ``score = weight - weight / (1f + freq * cache[norm])`` float32 (:221-233).

numpy float32 ops are IEEE-754 round-to-nearest, matching the JVM op-for-op
when the expression tree order matches — which this module encodes exactly.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from .smallfloat import BYTE4_DECODE_TABLE

__all__ = ["Bm25Scorer", "idf_value"]


def idf_value(doc_freq: int, doc_count: int) -> np.float32:
    """float64 log then cast, as BM25Similarity.idf (:101-103)."""
    # Math.log(1 + x) — NOT log1p: the reference adds 1 in double first
    # (BM25Similarity.java:102), and the last-ulp difference can flip the
    # float32 cast
    v = np.log(1.0 + (doc_count - doc_freq + 0.5) / (doc_freq + 0.5))
    return np.float32(v)


@dataclass(frozen=True)
class Bm25Scorer:
    """Per-term (or per-synonym-group) compiled scorer.

    ``cache`` is the 256-entry float32 norm-inverse table; ``weight`` is
    float32 ``boost * idf``.
    """

    weight: np.float32
    cache: np.ndarray  # float32[256]

    @classmethod
    def create(
        cls,
        doc_freq: int,
        doc_count: int,
        sum_total_term_freq: int,
        k1: float = 1.2,
        b: float = 0.75,
        boost: float = 1.0,
    ) -> "Bm25Scorer":
        idf = idf_value(doc_freq, doc_count)
        weight = np.float32(np.float32(boost) * idf)
        # avgdl: double division then cast (:106-108)
        avgdl = np.float32(sum_total_term_freq / float(doc_count))
        k1f = np.float32(k1)
        bf = np.float32(b)
        one = np.float32(1.0)
        length_table = BYTE4_DECODE_TABLE.astype(np.float32)
        # cache[i] = 1f / (k1 * ((1 - b) + b * LENGTH_TABLE[i] / avgdl))  (:182)
        cache = one / (k1f * ((one - bf) + bf * length_table / avgdl))
        return cls(weight=weight, cache=cache.astype(np.float32))

    def score(self, freqs: np.ndarray, norms: np.ndarray) -> np.ndarray:
        """score = weight - weight / (1 + freq * cache[norm])  float32 (:232)."""
        freqs = np.asarray(freqs, dtype=np.float32)
        norm_inverse = self.cache[np.asarray(norms, dtype=np.int64) & 0xFF]
        one = np.float32(1.0)
        return (self.weight - self.weight / (one + freqs * norm_inverse)).astype(
            np.float32
        )


@dataclass(frozen=True)
class DoubleBm25Scorer:
    """Float64 BM25 over raw (unquantized) doc lengths.

    Not Lucene-parity: this exists so engine results can be verified
    hash-for-hash against an external ANSI-SQL oracle (DuckDB), which
    computes in double. Same formula shape as the float32 path:
    ``score = idf - idf / (1 + freq * inv)`` with
    ``inv = 1 / (k1 * (1 - b + b * dl / avgdl))``.
    """

    idf: float
    k1: float
    b: float
    avgdl: float

    @classmethod
    def create(
        cls,
        doc_freq: int,
        doc_count: int,
        sum_total_term_freq: int,
        k1: float = 1.2,
        b: float = 0.75,
    ) -> "DoubleBm25Scorer":
        idf = float(np.log(1.0 + (doc_count - doc_freq + 0.5) / (doc_freq + 0.5)))
        return cls(idf=idf, k1=k1, b=b, avgdl=sum_total_term_freq / doc_count)

    def score(self, freqs: np.ndarray, doc_lens: np.ndarray) -> np.ndarray:
        freqs = np.asarray(freqs, dtype=np.float64)
        dl = np.asarray(doc_lens, dtype=np.float64)
        inv = 1.0 / (self.k1 * ((1.0 - self.b) + self.b * dl / self.avgdl))
        return self.idf - self.idf / (1.0 + freqs * inv)
