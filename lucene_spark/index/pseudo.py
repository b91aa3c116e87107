"""Singleton (pulsed) term_dict rows → postings-shaped pseudo-block rows.

Pulsing stores df==1 postings inline in the term dictionary
(Lucene103PostingsWriter.java:564-571). Both readers of postings expand them
back into one-doc pseudo blocks (encoding=ENC_SINGLETON), so the rest of
their pipeline sees a uniform block stream:

- merge reads whole segments through Spark (``singleton_pseudo_blocks``);
- a search task reads its own (segment, docid slice) with pyarrow
  (``singleton_pseudo_rows``, called by ``index.reader.read_slice``).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["ENC_SINGLETON", "singleton_pseudo_blocks", "singleton_pseudo_rows"]

ENC_SINGLETON = 4


def singleton_pseudo_blocks(term_dict: DataFrame, with_positions: bool) -> DataFrame:
    """POSTINGS_COLS-shaped rows for every pulsed term in ``term_dict``
    (pre-filter the input if only some terms are needed)."""
    return term_dict.filter(F.col("singleton_docid").isNotNull()).select(
        "segment_id",
        "term",
        F.lit(0).alias("block_no"),
        F.lit(1).alias("n_docs"),
        (F.col("singleton_docid") - 1).alias("base_docid"),
        F.col("singleton_docid").alias("first_docid"),
        F.col("singleton_docid").alias("last_docid"),
        F.lit(ENC_SINGLETON).cast("tinyint").alias("encoding"),
        F.lit(None).cast("binary").alias("docids_enc"),
        F.lit(None).cast("binary").alias("freqs_enc"),
        F.lit(None).cast("binary").alias("norms_enc"),
        (
            F.col("singleton_positions")
            if with_positions
            else F.lit(None).cast("binary")
        ).alias("positions_enc"),
        F.col("singleton_payloads").alias("payloads_enc"),
        F.array(F.col("singleton_freq").cast("long")).alias("impact_freqs"),
        F.array(F.col("singleton_norm")).alias("impact_norms"),
    )


def singleton_pseudo_rows(td: pd.DataFrame) -> pd.DataFrame:
    """The pandas twin of ``singleton_pseudo_blocks``, without
    ``segment_id``: the pseudo blocks of the pulsed term_dict rows ``td``.
    Positions and payloads come from ``singleton_positions`` /
    ``singleton_payloads`` when ``td`` holds them and are null otherwise."""
    docid = td["singleton_docid"]
    return pd.DataFrame({
        "term": td["term"],
        "block_no": 0,
        "n_docs": 1,
        "base_docid": docid - 1,
        "first_docid": docid,
        "last_docid": docid,
        "encoding": ENC_SINGLETON,
        "docids_enc": None,
        "freqs_enc": None,
        "norms_enc": None,
        "positions_enc": td.get("singleton_positions"),
        "payloads_enc": td.get("singleton_payloads"),
        "impact_freqs": [[int(f)] for f in td["singleton_freq"]],
        "impact_norms": [[int(n)] for n in td["singleton_norm"]],
    })
