"""Per-segment term Bloom filters — segment-skip pruning for term scans.

Reimplements the contract of Lucene's BloomFilteringPostingsFormat
(codecs/src/java/org/apache/lucene/codecs/bloom/BloomFilteringPostingsFormat.java:60
— "A PostingsFormat useful for low doc-frequency fields such as primary
keys [...] able to quickly confirm if a term is NOT present in a segment")
and FuzzySet (codecs/bloom/FuzzySet.java — the bitset sized to the saturation
target). The Spark shape differs by design: Lucene answers "is this term in
THIS segment's term dict" before a disk seek; here the searcher plans one
task per (segment, docid slice) on the driver, so the same membership test
run driver-side over all segments decides which segments get tasks at all —
a pruned segment gets none, and its directories are never opened. At web
scale (thousands of segments, selective terms) that is the difference
between touching every partition and touching the few that can match.

Pruning is semantically a no-op by construction: a Bloom false positive only
ADDS a segment's tasks (their term filter then matches nothing), and a
segment without a valid bloom row is always a candidate. A query holding a
MatchAllDocsQuery matches docs without its terms, so the searcher prunes
nothing for it. Staleness is
fingerprinted: each row records the segment's ``doc_count`` at bloom-build
time and is ignored if the live ``field_stats`` row disagrees (the same
guard persisted HNSW graphs use), so appends/merges that don't refresh
blooms degrade to no-pruning, never to wrong results.

Hashing is Kirsch-Mitzenmacher double hashing over a blake2b-128 digest —
one digest per term yields all ``k`` probe positions, identical (and pure
Python, no Spark job) on the build and query sides.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .smallio import read_driver_table

__all__ = [
    "write_term_blooms",
    "load_term_blooms",
    "bloom_candidate_segments",
    "BLOOMS_DIR",
]

BLOOMS_DIR = "term_blooms"

_BLOOM_SCHEMA = T.StructType(
    [
        T.StructField("segment_id", T.LongType()),
        T.StructField("doc_count", T.LongType()),
        T.StructField("n_terms", T.LongType()),
        T.StructField("nbits", T.LongType()),
        T.StructField("k", T.IntegerType()),
        T.StructField("bits", T.BinaryType()),
    ]
)


def _positions(term: str, nbits: int, k: int) -> list[int]:
    """k probe positions for a term (h1 + i*h2 mod nbits, h2 forced odd so
    the probe sequence cycles through a power-of-two table)."""
    d = hashlib.blake2b(term.encode("utf-8"), digest_size=16).digest()
    h1 = int.from_bytes(d[:8], "little")
    h2 = int.from_bytes(d[8:], "little") | 1
    return [(h1 + i * h2) % nbits for i in range(k)]


def _next_pow2(n: int) -> int:
    return 1 << max(n - 1, 1).bit_length()


def write_term_blooms(
    spark: SparkSession,
    index_dir: str,
    *,
    bits_per_term: int = 10,
    k: int = 7,
    max_bits: int = 1 << 24,
) -> dict:
    """Build one Bloom bitset per live segment over its distinct terms and
    commit them to ``<index_dir>/term_blooms`` (overwrite = the commit; the
    table is advisory, so a torn write can at worst disable pruning).

    Sizing: nbits = next power of two >= bits_per_term * n_terms, clamped to
    [1024, max_bits] (10 bits/term + 7 probes ~= 1% false positives, the
    classic optimum; past max_bits the filter saturates gracefully — more
    candidates, never wrong results). Each segment's bitset is built in one
    executor task from its term-dict group (the same per-segment in-memory
    bound Lucene's bloom build has).
    """
    from .reader import IndexReader

    reader = IndexReader(spark, index_dir)
    doc_counts = reader.doc_counts
    terms = reader.term_dict.select("segment_id", "term")
    n_terms = {
        int(r["segment_id"]): int(r["n"])
        for r in terms.groupBy("segment_id").agg(F.count("*").alias("n")).collect()
    }
    nbits_by_seg = {
        s: min(max(_next_pow2(bits_per_term * n), 1024), max_bits)
        for s, n in n_terms.items()
    }
    kk = int(k)
    bc = spark.sparkContext.broadcast((nbits_by_seg, doc_counts, n_terms, kk))

    def pack(pdf):
        import pandas as pd

        seg = int(pdf["segment_id"].iloc[0])
        nbits_map, dcounts, ncounts, kkk = bc.value
        nbits = nbits_map[seg]
        bits = np.zeros(nbits // 8, dtype=np.uint8)
        mask = nbits - 1  # nbits is a power of two
        for t in pdf["term"]:
            d = hashlib.blake2b(t.encode("utf-8"), digest_size=16).digest()
            h1 = int.from_bytes(d[:8], "little")
            h2 = int.from_bytes(d[8:], "little") | 1
            for i in range(kkk):
                p = (h1 + i * h2) & mask
                bits[p >> 3] |= 1 << (p & 7)
        return pd.DataFrame(
            {
                "segment_id": [seg],
                "doc_count": [dcounts.get(seg, -1)],
                "n_terms": [ncounts[seg]],
                "nbits": [nbits],
                "k": [kkk],
                "bits": [bits.tobytes()],
            }
        )

    out = terms.groupBy("segment_id").applyInPandas(pack, schema=_BLOOM_SCHEMA)
    out.write.mode("overwrite").parquet(f"{index_dir}/{BLOOMS_DIR}")
    bc.destroy()
    return {
        "segments": len(n_terms),
        "total_bits": int(sum(nbits_by_seg.values())),
        "bits_per_term": bits_per_term,
        "k": kk,
    }


def load_term_blooms(
    index_dir: str, live_doc_counts: dict[int, int]
) -> dict[int, tuple[int, int, np.ndarray]]:
    """Driver-side bloom map {segment_id: (nbits, k, bitset bytes)} for live
    segments whose doc_count fingerprint still matches; {} when the index
    has no bloom table. The table is one tiny row per segment, read on the
    driver with pyarrow (no Spark job). It lives in ``index_dir`` for every
    reader, snapshot readers too: a snapshot copies no blooms, and the
    fingerprint drops the rows of segments rewritten since."""
    path = f"{index_dir}/{BLOOMS_DIR}"
    if not os.path.exists(path):
        return {}
    rows = read_driver_table(path)
    out: dict[int, tuple[int, int, np.ndarray]] = {}
    for r in rows:
        seg = int(r["segment_id"])
        if live_doc_counts.get(seg) != int(r["doc_count"]):
            continue  # stale (segment rewritten/absent) -> no pruning for it
        out[seg] = (
            int(r["nbits"]),
            int(r["k"]),
            np.frombuffer(r["bits"], dtype=np.uint8),
        )
    return out


def _may_contain(bloom: tuple[int, int, np.ndarray], term: str) -> bool:
    nbits, k, bits = bloom
    for p in _positions(term, nbits, k):
        if not (bits[p >> 3] >> (p & 7)) & 1:
            return False
    return True


def bloom_candidate_segments(
    blooms: dict[int, tuple[int, int, np.ndarray]],
    live: list[int],
    terms: list[str],
) -> list[int] | None:
    """Segments that can contribute postings for ANY of ``terms``.

    Returns None when pruning buys nothing (no blooms, no terms, or every
    segment is a candidate) so the caller prunes nothing. Segments
    without a (valid) bloom row are always candidates.
    """
    if not blooms or not terms:
        return None
    cand = []
    for seg in live:
        b = blooms.get(seg)
        if b is None or any(_may_contain(b, t) for t in terms):
            cand.append(seg)
    if len(cand) == len(live):
        return None
    return cand
