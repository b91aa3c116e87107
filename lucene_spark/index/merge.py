"""Segment merge: N per-partition segments → K target segments.

The SegmentMerger / MultiTermsEnum k-way merge (reference:
lucene/core/src/java/org/apache/lucene/index/SegmentMerger.java:113-153,
MultiTermsEnum.java:252-281, DocIDMerger.java:32-45) re-expressed Spark-first.

The crucial observation that makes merge METADATA-ONLY: every block payload
is **shift-invariant** under docid rebase. Deltas (FOR/VByte) don't change
when all docids shift by a constant; the unary bitset is relative to
``base_docid``; ``ENC_CONSECUTIVE`` stores nothing. So remapping local →
global docids (global = doc_base(segment) + local,
codecs/FieldsConsumer.java:76-88 docBase semantics) is three column adds on
(base_docid, first_docid, last_docid) — postings payloads are never decoded,
the merge moves only encoded rows.

``target_segments=K`` maps manifest-ordered source segments onto K
contiguous groups (TieredMergePolicy's "merge adjacent segments" shape,
index/TieredMergePolicy.java:85-90): each output segment covers a contiguous
global-docid range, stays independently searchable, and K sets the query
parallelism (IndexSearcher slice analog). K=1 is forceMerge(1).

Mechanics, all O(encoded metadata):
- postings: rebase columns + ``row_number() over (partition by (segment,
  term) order by first_docid)`` renumbers blocks (source docid ranges are
  disjoint, so rebased blocks of one term never overlap — the k-way merge
  order IS the docid order);
- pulsing re-decided per (target segment, term): group-df==1 stays inline;
  demoted singletons materialize as standard 1-doc VByte tail blocks via a
  tiny mapInPandas over only those rows;
- term_dict: ``groupBy(segment, term).agg(sum(df), sum(ttf), ...)``;
- all three logical tables land in ONE ``data/kind=K/segment_id=N`` write
  (single commit);
- blocks may hold <128 docs mid-stream after merge (each source segment
  contributes one ragged tail); decode paths are per-row self-contained, so
  this only costs a little compression — the price of never touching
  payloads. A future compaction pass can re-encode hot terms.

Skew: the only per-term operation is the window renumber over df/128
*encoded* rows — ~1/128th of the data, AQE-manageable even for stopwords.
"""

from __future__ import annotations

import json
import time
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from ..codecs.intcodecs import vbyte_encode
from .pseudo import singleton_pseudo_blocks
from .smallio import FIELD_STATS_SCHEMA, MANIFEST_SCHEMA, write_driver_table
from .reader import IndexReader
from .schemas import (
    DOCMAP_COLS,
    KIND_BLOCK,
    KIND_DOC,
    KIND_TERM,
    POSTINGS_COLS,
    TERM_DICT_COLS,
)

__all__ = ["merge_segments", "execute_merge_plan", "maybe_merge"]

ENC_VBYTE_TAIL = 3


def _materialize_singletons(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Pulsed rows → standard 1-doc VByte tail blocks (docid already global)."""
    for pdf in batches:
        n = len(pdf)
        if n == 0:
            yield pdf
            continue
        freqs = pdf["impact_freqs"].map(lambda a: int(a[0])).to_numpy()
        norms = pdf["impact_norms"].map(lambda a: int(a[0])).to_numpy()
        pdf = pdf.copy()
        pdf["encoding"] = np.int8(ENC_VBYTE_TAIL)
        pdf["docids_enc"] = [
            bytes(vbyte_encode(np.array([1], dtype=np.int64))) for _ in range(n)
        ]
        pdf["freqs_enc"] = [
            bytes(vbyte_encode(np.array([f], dtype=np.int64))) for f in freqs
        ]
        pdf["norms_enc"] = [bytes([int(m) & 0xFF]) for m in norms]
        yield pdf


def _rebased_postings_cols():
    return [
        "term",
        "block_no",
        "n_docs",
        (F.col("base_docid") + F.col("doc_base")).alias("base_docid"),
        (F.col("first_docid") + F.col("doc_base")).alias("first_docid"),
        (F.col("last_docid") + F.col("doc_base")).alias("last_docid"),
        "encoding",
        "docids_enc",
        "freqs_enc",
        "norms_enc",
        "positions_enc",
        "payloads_enc",
        "impact_freqs",
        "impact_norms",
    ]


def _propagate_index_meta(index_dir: str, out_dir: str | None = None) -> None:
    """Carry index_meta.json (field list, features) across a merge, DROPPING
    ``index_sort``: the shift-invariant metadata merge concatenates source
    docid ranges, so the per-segment sort guarantee does not survive (Lucene
    re-sorts merged segments via Sorter.java / MergeState; a payload-free
    merge cannot), and the searcher must not early-terminate on the result.
    Dropping the flag before the manifest commit is the safe direction: a
    crash in between only loses an optimization, never correctness."""
    import json as _json
    import os as _os

    src = _os.path.join(index_dir, "index_meta.json")
    if not _os.path.exists(src):
        return
    with open(src) as fh:
        meta = _json.load(fh)
    meta.pop("index_sort", None)
    dst = _os.path.join(out_dir or index_dir, "index_meta.json")
    if meta:
        with open(dst, "w") as fh:
            _json.dump(meta, fh)
    elif out_dir is None:
        _os.remove(src)


def merge_segments(
    spark: SparkSession,
    index_dir: str,
    out_dir: str,
    *,
    target_segments: int = 1,
) -> dict:
    """Merge the index at ``index_dir`` into ``target_segments`` contiguous
    segments at ``out_dir`` (K=1 ≡ forceMerge(1)). Output docids are global;
    output manifest doc_base is 0."""
    t0 = time.time()
    reader = IndexReader(spark, index_dir)
    manifest = reader.manifest_rows
    doc_bases = reader.doc_bases
    n_src = len(manifest)
    k_tgt = min(target_segments, n_src)
    group_of = {
        r["segment_id"]: i * k_tgt // n_src for i, r in enumerate(manifest)
    }
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    # AQE's byte-size coalescing would shrink the (segment, term) window
    # shuffle to ~advisory-size task counts regardless of cores — the merge
    # is the one stage that must keep every shuffle partition to scale
    coalesce_prev = spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.enabled", "true"
    )
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")

    base_df = F.broadcast(
        spark.createDataFrame(
            [(int(s), int(b), int(group_of[s])) for s, b in doc_bases.items()],
            "seg int, doc_base long, grp int",
        )
    )

    # --- docmap rows -----------------------------------------------------
    docmap = (
        reader.docmap.join(base_df, F.col("segment_id") == F.col("seg"))
        .select(
            F.col("grp").alias("segment_id"),
            (F.col("docid") + F.col("doc_base")).alias("docid"),
            "url",
            "doc_len",
            "norm",
            "dv",
        )
    )

    # --- term_dict rows: per (target segment, term) ----------------------
    td = reader.term_dict.join(base_df, F.col("segment_id") == F.col("seg"))
    merged_td = td.groupBy("grp", "term").agg(
        F.sum("df").alias("df"),
        F.sum("ttf").alias("ttf"),
        (
            F.sum("n_blocks")
            + F.sum(F.when(F.col("singleton_docid").isNotNull(), 1).otherwise(0))
        ).cast("int").alias("n_blocks_raw"),
        F.first(F.col("singleton_docid") + F.col("doc_base"), ignorenulls=True).alias(
            "g_singleton_docid"
        ),
        F.first("singleton_freq", ignorenulls=True).alias("g_singleton_freq"),
        F.first("singleton_norm", ignorenulls=True).alias("g_singleton_norm"),
        F.first("singleton_positions", ignorenulls=True).alias("g_singleton_positions"),
        F.first("singleton_payloads", ignorenulls=True).alias("g_singleton_payloads"),
    )
    keep_pulsed = F.col("df") == 1
    term_rows = merged_td.select(
        F.col("grp").alias("segment_id"),
        "term",
        "df",
        "ttf",
        F.when(keep_pulsed, F.lit(0)).otherwise(F.col("n_blocks_raw")).alias("n_blocks"),
        F.when(keep_pulsed, F.col("g_singleton_docid")).alias("singleton_docid"),
        F.when(keep_pulsed, F.col("g_singleton_freq")).alias("singleton_freq"),
        F.when(keep_pulsed, F.col("g_singleton_norm")).alias("singleton_norm"),
        F.when(keep_pulsed, F.col("g_singleton_positions")).alias("singleton_positions"),
        F.when(keep_pulsed, F.col("g_singleton_payloads")).alias("singleton_payloads"),
    )

    # --- postings rows: shift-invariant rebase, no payload decode --------
    rebased = (
        reader.postings.join(base_df, F.col("segment_id") == F.col("seg"))
        .select(F.col("grp").alias("segment_id"), *_rebased_postings_cols())
    )
    # demotion candidates: (group, term) pairs where SOME source pulsed a
    # singleton but the merged df > 1. Computed as a second SKINNY
    # aggregation (4 narrow columns, no payloads) instead of reusing the
    # wide merged_td — cheaper than persisting it — and BROADCAST into the
    # pseudo-block join: the candidate set is the cross-segment rare-term
    # tail (global df in [2, group size]), vocabulary-bounded, so the
    # pseudo-block side stays map-only (no shuffle of singleton payloads)
    demote_keys = (
        td.groupBy("grp", "term")
        .agg(
            F.sum("df").alias("_df"),
            F.count("singleton_docid").alias("_ns"),
        )
        .filter((F.col("_df") > 1) & (F.col("_ns") > 0))
        .select(F.col("grp").alias("segment_id"), "term")
    )
    demoted = (
        singleton_pseudo_blocks(reader.term_dict, True)
        .join(base_df, F.col("segment_id") == F.col("seg"))
        .select(F.col("grp").alias("segment_id"), *_rebased_postings_cols())
        .join(F.broadcast(demote_keys), ["segment_id", "term"])
        .select(rebased.columns)
        .mapInPandas(_materialize_singletons, schema=rebased.schema)
    )
    win = Window.partitionBy("segment_id", "term").orderBy("first_docid")
    postings_rows = (
        rebased.unionByName(demoted)
        .withColumn("block_no", (F.row_number().over(win) - 1).cast("int"))
    )

    # --- single unified write -------------------------------------------
    unified = (
        docmap.select(
            F.lit(KIND_DOC).cast("tinyint").alias("kind"),
            "segment_id",
            *[c for c in DOCMAP_COLS if c != "segment_id"],
        )
        .unionByName(
            term_rows.select(
                F.lit(KIND_TERM).cast("tinyint").alias("kind"),
                "segment_id",
                *[c for c in TERM_DICT_COLS if c != "segment_id"],
            ),
            allowMissingColumns=True,
        )
        .unionByName(
            postings_rows.select(
                F.lit(KIND_BLOCK).cast("tinyint").alias("kind"),
                "segment_id",
                *[c for c in POSTINGS_COLS if c != "segment_id"],
            ),
            allowMissingColumns=True,
        )
    )
    (
        unified.sortWithinPartitions(
            "kind",
            F.encode(F.coalesce("term", F.lit("")), "utf-8"),
            "block_no",
            "docid",
        )
        .write.mode("overwrite")
        .partitionBy("kind", "segment_id")
        .parquet(f"{out_dir}/data")
    )

    _propagate_index_meta(index_dir, out_dir)
    # --- field_stats + manifest (commit point) --------------------------
    # merged stats derive from the SOURCE stats driver-side — no read-back
    # job: counts/ttf sum per group; docid bounds come from doc_base + the
    # source segment's local bounds (groups are contiguous in doc_base order)
    src_stats = {int(r["segment_id"]): r for r in reader.field_stats_rows}
    agg: dict[int, dict] = {}
    for r in manifest:
        s = int(r["segment_id"])
        g = group_of[s]
        fs = src_stats[s]
        base = doc_bases[s]
        a = agg.setdefault(
            g,
            {
                "segment_id": g,
                "doc_count": 0,
                "sum_ttf": 0,
                "min_docid": base + int(fs["min_docid"]),
                "max_docid": base + int(fs["max_docid"]),
            },
        )
        a["doc_count"] += int(fs["doc_count"])
        a["sum_ttf"] += int(fs["sum_ttf"])
        a["min_docid"] = min(a["min_docid"], base + int(fs["min_docid"]))
        a["max_docid"] = max(a["max_docid"], base + int(fs["max_docid"]))
    stats = sorted(agg.values(), key=lambda r: r["segment_id"])
    write_driver_table(
        f"{out_dir}/field_stats",
        [
            (
                int(r["segment_id"]),
                int(r["doc_count"]),
                int(r["sum_ttf"]),
                int(r["max_docid"]),
                int(r["min_docid"]),
            )
            for r in stats
        ],
        FIELD_STATS_SCHEMA,
    )
    write_driver_table(
        f"{out_dir}/segment_manifest",
        [
            (
                int(r["segment_id"]),
                int(r["doc_count"]),
                0,  # docids are already global post-merge
                "done",
                float(time.time()),
                f"merge(from={index_dir},segments={n_src},targets={k_tgt})",
                json.dumps({"merged_from": n_src}),
            )
            for r in stats
        ],
        MANIFEST_SCHEMA,
    )
    # live-docs carry-forward: deletes follow their docs into the merged
    # coordinates (group id, globalized docid). A compaction merge that
    # physically drops deleted docs is the TieredMergePolicy reclaim path;
    # rank/results are identical either way since scorers filter tombstones.
    if reader.deletes is not None:
        (
            reader.deletes.join(base_df, F.col("segment_id") == F.col("seg"))
            .select(
                F.col("grp").alias("segment_id"),
                (F.col("docid") + F.col("doc_base")).alias("docid"),
            )
            .write.mode("overwrite")
            .parquet(f"{out_dir}/deletes")
        )

    total = sum(int(r["doc_count"]) for r in stats)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", coalesce_prev)
    return {
        "merged_segments": n_src,
        "target_segments": k_tgt,
        "n_docs": total,
        "merge_secs": time.time() - t0,
    }


# ---------------------------------------------------------------------------
# in-place tiered merging (TieredMergePolicy execution)
# ---------------------------------------------------------------------------

def execute_merge_plan(spark: SparkSession, index_dir: str, plan) -> dict:
    """Merge ``plan.segment_ids`` (doc_base-contiguous) into ONE new segment
    inside the SAME index — the ConcurrentMergeScheduler unit of work
    (reference: index/SegmentMerger.java:113-153). The new segment's data
    partition is written first; the manifest swap is the commit
    (IndexWriter two-phase commit shape); the obsolete partition dirs are
    removed last (IndexFileDeleter analog) — a crash at any point leaves a
    readable index because readers gate on the manifest's segment list."""
    import os
    import shutil

    t0 = time.time()
    reader = IndexReader(spark, index_dir)
    manifest = reader.manifest_rows
    by_id = {int(r["segment_id"]): r for r in manifest}
    merge_ids = set(int(s) for s in plan.segment_ids)
    assert merge_ids <= set(by_id), "plan references unknown segments"
    new_id = max(by_id) + 1
    doc_bases = {s: int(by_id[s]["doc_base"]) for s in merge_ids}

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    base_df = F.broadcast(
        spark.createDataFrame(
            [(s, b) for s, b in doc_bases.items()], "seg int, doc_base long"
        )
    )
    sel = F.col("segment_id").isin(list(merge_ids))

    docmap = (
        reader.docmap.filter(sel)
        .join(base_df, F.col("segment_id") == F.col("seg"))
        .select(
            F.lit(new_id).alias("segment_id"),
            (F.col("docid") + F.col("doc_base")).alias("docid"),
            "url",
            "doc_len",
            "norm",
            "dv",
        )
    )
    td = reader.term_dict.filter(sel).join(base_df, F.col("segment_id") == F.col("seg"))
    merged_td = td.groupBy("term").agg(
        F.sum("df").alias("df"),
        F.sum("ttf").alias("ttf"),
        (
            F.sum("n_blocks")
            + F.sum(F.when(F.col("singleton_docid").isNotNull(), 1).otherwise(0))
        ).cast("int").alias("n_blocks_raw"),
        F.first(F.col("singleton_docid") + F.col("doc_base"), ignorenulls=True).alias(
            "g_singleton_docid"
        ),
        F.first("singleton_freq", ignorenulls=True).alias("g_singleton_freq"),
        F.first("singleton_norm", ignorenulls=True).alias("g_singleton_norm"),
        F.first("singleton_positions", ignorenulls=True).alias("g_singleton_positions"),
        F.first("singleton_payloads", ignorenulls=True).alias("g_singleton_payloads"),
    )
    keep_pulsed = F.col("df") == 1
    term_rows = merged_td.select(
        F.lit(new_id).alias("segment_id"),
        "term",
        "df",
        "ttf",
        F.when(keep_pulsed, F.lit(0)).otherwise(F.col("n_blocks_raw")).alias("n_blocks"),
        F.when(keep_pulsed, F.col("g_singleton_docid")).alias("singleton_docid"),
        F.when(keep_pulsed, F.col("g_singleton_freq")).alias("singleton_freq"),
        F.when(keep_pulsed, F.col("g_singleton_norm")).alias("singleton_norm"),
        F.when(keep_pulsed, F.col("g_singleton_positions")).alias("singleton_positions"),
        F.when(keep_pulsed, F.col("g_singleton_payloads")).alias("singleton_payloads"),
    )

    rebased = (
        reader.postings.filter(sel)
        .join(base_df, F.col("segment_id") == F.col("seg"))
        .select(F.lit(new_id).alias("segment_id"), *_rebased_postings_cols())
    )
    # skinny-aggregation demote keys + broadcast (see merge_segments): the
    # pseudo-block side stays map-only
    demote_keys = (
        td.groupBy("term")
        .agg(
            F.sum("df").alias("_df"),
            F.count("singleton_docid").alias("_ns"),
        )
        .filter((F.col("_df") > 1) & (F.col("_ns") > 0))
        .select(F.lit(new_id).alias("segment_id"), "term")
    )
    demoted = (
        singleton_pseudo_blocks(reader.term_dict.filter(sel), True)
        .join(base_df, F.col("segment_id") == F.col("seg"))
        .select(F.lit(new_id).alias("segment_id"), *_rebased_postings_cols())
        .join(F.broadcast(demote_keys), ["segment_id", "term"])
        .select(rebased.columns)
        .mapInPandas(_materialize_singletons, schema=rebased.schema)
    )
    win = Window.partitionBy("segment_id", "term").orderBy("first_docid")
    postings_rows = (
        rebased.unionByName(demoted)
        .withColumn("block_no", (F.row_number().over(win) - 1).cast("int"))
    )

    unified = (
        docmap.select(
            F.lit(KIND_DOC).cast("tinyint").alias("kind"),
            "segment_id",
            *[c for c in DOCMAP_COLS if c != "segment_id"],
        )
        .unionByName(
            term_rows.select(
                F.lit(KIND_TERM).cast("tinyint").alias("kind"),
                "segment_id",
                *[c for c in TERM_DICT_COLS if c != "segment_id"],
            ),
            allowMissingColumns=True,
        )
        .unionByName(
            postings_rows.select(
                F.lit(KIND_BLOCK).cast("tinyint").alias("kind"),
                "segment_id",
                *[c for c in POSTINGS_COLS if c != "segment_id"],
            ),
            allowMissingColumns=True,
        )
    )
    (
        unified.sortWithinPartitions(
            "kind",
            F.encode(F.coalesce("term", F.lit("")), "utf-8"),
            "block_no",
            "docid",
        )
        .write.mode("overwrite")
        .partitionBy("kind", "segment_id")
        .parquet(f"{index_dir}/data")
    )

    # deletes of merged segments follow into the new coordinates (rewrite
    # whole table: delete lists are tiny relative to postings). The
    # old-segment rows are KEPT alongside the remapped new_id rows: the
    # reader gates deletes on manifest-live segment ids, so before the
    # manifest commit below the old rows are the active set and after it
    # the new_id rows are — a crash between this swap and the manifest
    # write leaves a fully consistent view either way, and a retried
    # merge still sees the original tombstones. Stale rows fall out at
    # the next rewrite (reader.deletes is manifest-filtered).
    if reader.deletes is not None:
        moved = (
            reader.deletes.filter(sel)
            .join(base_df, F.col("segment_id") == F.col("seg"))
            .select(
                F.lit(new_id).alias("segment_id"),
                (F.col("docid") + F.col("doc_base")).alias("docid"),
            )
        )
        tmp = f"{index_dir}/deletes.__tmp__"
        reader.deletes.select("segment_id", "docid").unionByName(moved).write.mode(
            "overwrite"
        ).parquet(tmp)
        old = f"{index_dir}/deletes.__old__"
        shutil.rmtree(old, ignore_errors=True)
        os.rename(f"{index_dir}/deletes", old)
        os.rename(tmp, f"{index_dir}/deletes")
        shutil.rmtree(old, ignore_errors=True)

    _propagate_index_meta(index_dir)
    # commit: stats + manifest swap (old rows out, merged row in)
    fs_rows, man_rows = [], []
    src_stats = {int(r["segment_id"]): r for r in reader.field_stats_rows}
    m_docs = sum(int(by_id[s]["n_docs"]) for s in merge_ids)
    m_sttf = sum(int(src_stats[s]["sum_ttf"]) for s in merge_ids)
    m_min = min(doc_bases[s] + int(src_stats[s]["min_docid"]) for s in merge_ids)
    m_max = max(doc_bases[s] + int(src_stats[s]["max_docid"]) for s in merge_ids)
    for r in manifest:
        s = int(r["segment_id"])
        if s in merge_ids:
            continue
        fs = src_stats[s]
        fs_rows.append(
            (s, int(fs["doc_count"]), int(fs["sum_ttf"]), int(fs["max_docid"]),
             int(fs["min_docid"]))
        )
        man_rows.append(
            (s, int(r["n_docs"]), int(r["doc_base"]), r["status"],
             float(r["checkpoint_ts"]), r["lineage"], r["metrics_json"])
        )
    fs_rows.append((new_id, m_docs, m_sttf, m_max, m_min))
    man_rows.append(
        (
            new_id, m_docs, 0, "done", float(time.time()),
            f"tiered_merge(from={sorted(merge_ids)})",
            json.dumps({"merged_from": len(merge_ids)}),
        )
    )
    man_rows.sort(key=lambda r: r[2])  # keep manifest in doc_base order
    write_driver_table(f"{index_dir}/field_stats", sorted(fs_rows), FIELD_STATS_SCHEMA)
    write_driver_table(f"{index_dir}/segment_manifest", man_rows, MANIFEST_SCHEMA)

    # reclaim obsolete partition dirs (IndexFileDeleter) — EXCEPT segments
    # pinned by a snapshot (SnapshotDeletionPolicy holds their IndexCommit;
    # snapshots.prune_unreferenced reclaims them after release)
    from .snapshots import referenced_segments

    pinned = referenced_segments(index_dir)
    for s in merge_ids:
        if s in pinned:
            continue
        for kind_dir in ("0", "1", "2", "3"):
            shutil.rmtree(
                f"{index_dir}/data/kind={kind_dir}/segment_id={s}",
                ignore_errors=True,
            )
    return {
        "merged_segments": len(merge_ids),
        "new_segment_id": new_id,
        "n_docs": m_docs,
        "merge_secs": time.time() - t0,
    }


def maybe_merge(spark: SparkSession, index_dir: str, policy=None) -> list[dict]:
    """Find and execute tiered merges (IndexWriter.maybeMerge +
    ConcurrentMergeScheduler, sequentially)."""
    from .mergepolicy import TieredMergePolicy

    policy = policy or TieredMergePolicy()
    out = []
    reader = IndexReader(spark, index_dir)
    for plan in policy.find_merges(reader.manifest_rows):
        out.append(execute_merge_plan(spark, index_dir, plan))
    return out
