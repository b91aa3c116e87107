"""Singleton (pulsed) term_dict rows → postings-shaped pseudo-block rows.

Pulsing stores df==1 postings inline in the term dictionary
(Lucene103PostingsWriter.java:564-571). Both readers of postings expand them
back into one-doc pseudo blocks (encoding=ENC_SINGLETON), so the rest of
their pipeline sees a uniform block stream:

- merge reads whole segments through Spark (``singleton_pseudo_blocks``);
- a search task takes its pulsed singletons from the plan: the driver's
  term-stats read returns the matched rows' singleton columns too, per
  segment (``singletons_by_segment``, called by
  ``index.reader.IndexReader.term_plan``), and each task cuts its docid
  range out of its segment's (``pseudo_rows``, called by
  ``index.reader.read_slice``), so no task reads the term dictionary.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["ENC_SINGLETON", "pseudo_rows", "singleton_pseudo_blocks", "singletons_by_segment"]

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


def singletons_by_segment(
    rows: dict[str, np.ndarray], seg: np.ndarray
) -> dict[int, dict[str, np.ndarray]]:
    """segment_id → the pulsed singletons among the term_dict ``rows``
    (numpy columns ``term``, ``singleton_docid`` / ``_freq`` / ``_norm``
    and, when read, ``singleton_positions`` / ``_payloads``; row i of
    segment ``seg[i]``, every ``singleton_docid`` set) as numpy columns
    sorted by docid: ``term``, ``docid``, ``freq``, ``norm`` and
    ``positions_enc`` / ``payloads_enc`` when read."""
    docid = rows["singleton_docid"].astype(np.int64, copy=False)
    if not docid.size:
        return {}
    order = np.lexsort((docid, seg))
    cols = {
        "term": rows["term"],
        "docid": docid,
        "freq": rows["singleton_freq"].astype(np.int64, copy=False),
        "norm": rows["singleton_norm"].astype(np.int64, copy=False),
    }
    for c, name in (("singleton_positions", "positions_enc"), ("singleton_payloads", "payloads_enc")):
        if c in rows:
            cols[name] = rows[c]
    seg = np.asarray(seg)[order]
    cuts = [0, *(np.flatnonzero(seg[1:] != seg[:-1]) + 1).tolist(), seg.size]
    return {
        int(seg[a]): {c: v[order[a:b]] for c, v in cols.items()}
        for a, b in zip(cuts[:-1], cuts[1:])
    }


def pseudo_rows(single: dict[str, np.ndarray], lo: int, hi: int, names) -> dict[str, np.ndarray]:
    """The ``names`` columns (``index.reader.read_slice``'s layout) of one
    pseudo block per singleton of ``single`` (one segment's
    ``singletons_by_segment``) with a docid in [lo, hi). Positions and
    payloads are null where ``single`` does not hold them."""
    a, b = np.searchsorted(single["docid"], [lo, hi])
    docid = single["docid"][a:b]
    n = docid.size
    none = np.full(n, None, dtype=object)
    out = {
        "term": single["term"][a:b],
        "block_no": np.zeros(n, dtype=np.int64),
        "n_docs": np.ones(n, dtype=np.int64),
        "base_docid": docid - 1,
        "first_docid": docid,
        "last_docid": docid,
        "encoding": np.full(n, ENC_SINGLETON, dtype=np.int64),
        "docids_enc": none,
        "freqs_enc": none,
        "norms_enc": none,
        "impact_freqs": single["freq"][a:b],
        "impact_norms": single["norm"][a:b],
        "impact_off": np.arange(n + 1, dtype=np.int64),
    }
    for c in ("positions_enc", "payloads_enc"):
        out[c] = single[c][a:b] if c in single else none
    return {c: out[c] for c in names}
