"""Physical delete compaction: rewrite segments whose tombstone ratio
exceeds the TieredMergePolicy threshold, dropping deleted docs from the
postings payloads (reference: lucene/core/src/java/org/apache/lucene/index/
TieredMergePolicy.java:85-90 — ≤20% deletes per merged segment — and
IndexWriter.forceMergeDeletes; the reclaim that live-docs-only merging
defers forever).

Spark shape:
- docmap / pulsed term_dict rows: map-only anti-filter on the broadcast
  delete list;
- postings: ONE ``groupBy(segment_id, term).applyInPandas`` over only the
  over-threshold segments' block rows — each task decodes a term's blocks,
  drops tombstoned docids, and re-encodes with fresh 128-doc block packing,
  impact skylines, df/ttf, and re-decided singleton pulsing (df→1 collapses
  back into the term dict);
- per-segment stats recomputed from the surviving docmap.

Docids are NOT renumbered: a segment's manifest ``n_docs`` stays the
immutable docid-span reservation (append allocates doc_bases from it), while
``field_stats`` carries the live doc_count/sum_ttf the scorers read — the
same split Lucene has between maxDoc and numDocs. Commit order: data
partitions (dynamic overwrite) → field_stats → deletes-table cleanup; the
reader gates on the deletes table, so a crash at any point leaves every doc
either physically present + tombstoned or physically gone — never
resurrected.
"""

from __future__ import annotations

import shutil
import time
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..codecs.blocks import (
    decode_block_docids,
    decode_block_freqs,
    decode_payloads,
    decode_positions,
    encode_positions,
    encode_term_postings,
)
from ..codecs.intcodecs import vbyte_encode
from .reader import IndexReader
from .schemas import (
    KIND_BLOCK,
    KIND_DOC,
    KIND_STATS,
    KIND_TERM,
    UNIFIED_BUILD_SCHEMA,
)
from .smallio import FIELD_STATS_SCHEMA, MANIFEST_SCHEMA, write_driver_table

__all__ = ["compact_deletes"]


def _rewrite_term_group(
    pdf: pd.DataFrame, deleted_by_seg: dict[int, np.ndarray]
) -> pd.DataFrame:
    """Decode → drop tombstoned docids → re-encode one (segment, term)."""
    seg = int(pdf["segment_id"].iloc[0])
    term = pdf["term"].iloc[0]
    dele = deleted_by_seg.get(seg)
    pdf = pdf.sort_values("block_no", kind="mergesort")
    d_parts, f_parts, n_parts, p_parts, y_parts = [], [], [], [], []
    with_pos = pdf["positions_enc"].iloc[0] is not None
    with_pay = (
        "payloads_enc" in pdf.columns and pdf["payloads_enc"].iloc[0] is not None
    )
    for r in pdf.itertuples(index=False):
        d = decode_block_docids(
            int(r.encoding), r.docids_enc, int(r.n_docs), int(r.base_docid),
            int(r.last_docid),
        )
        f = decode_block_freqs(int(r.encoding), r.freqs_enc, int(r.n_docs))
        m = np.frombuffer(r.norms_enc, dtype=np.uint8).astype(np.int64)
        keep = (
            np.isin(d, dele, invert=True) if dele is not None and dele.size
            else np.ones(d.size, dtype=bool)
        )
        if with_pos:
            pos = decode_positions(r.positions_enc, f)
            p_parts.append(pos[np.repeat(keep, f)])
        if with_pay:
            pay = decode_payloads(r.payloads_enc, f)
            y_parts.append(pay[np.repeat(keep, f)])
        d_parts.append(d[keep])
        f_parts.append(f[keep])
        n_parts.append(m[keep])
    docids = np.concatenate(d_parts)
    out_cols = {c: [] for c in UNIFIED_BUILD_SCHEMA.fieldNames()}

    def emit(row: dict) -> None:
        for c in out_cols:
            out_cols[c].append(row.get(c))

    def frame() -> pd.DataFrame:
        # dtype=object: an empty column would otherwise infer float64,
        # which Arrow cannot convert to the list-typed impact columns
        return pd.DataFrame(out_cols, dtype=object)

    if docids.size == 0:
        return frame()
    freqs = np.concatenate(f_parts)
    norms = np.concatenate(n_parts)
    positions = np.concatenate(p_parts) if with_pos else None
    payloads = np.concatenate(y_parts) if with_pay else None
    df, ttf = int(docids.size), int(freqs.sum())
    if df == 1:
        # re-pulse: a term left with one posting collapses back into the
        # term dict (Lucene103PostingsWriter.java:564-571)
        emit(
            {
                "kind": KIND_TERM, "segment_id": seg, "term": term,
                "df": 1, "ttf": ttf, "n_blocks": 0,
                "singleton_docid": int(docids[0]),
                "singleton_freq": int(freqs[0]),
                "singleton_norm": int(norms[0]),
                "singleton_positions": (
                    bytes(encode_positions(freqs, positions)) if with_pos else None
                ),
                "singleton_payloads": (
                    bytes(vbyte_encode(payloads)) if with_pay else None
                ),
            }
        )
        return frame()
    rows = encode_term_postings(
        docids, freqs, norms,
        positions=positions if with_pos else None,
        base=int(docids[0]) - 1,
        payloads=payloads,
    )
    emit(
        {
            "kind": KIND_TERM, "segment_id": seg, "term": term,
            "df": df, "ttf": ttf, "n_blocks": len(rows),
        }
    )
    for r in rows:
        emit(
            {
                "kind": KIND_BLOCK, "segment_id": seg, "term": term,
                "block_no": r["block_no"], "n_docs": r["n_docs"],
                "base_docid": r["base_docid"], "first_docid": r["first_docid"],
                "last_docid": r["last_docid"], "encoding": r["encoding"],
                "docids_enc": bytes(r["docids_enc"]),
                "freqs_enc": bytes(r["freqs_enc"]),
                "norms_enc": bytes(r["norms_enc"]),
                "positions_enc": (
                    bytes(r["positions_enc"]) if r["positions_enc"] is not None else None
                ),
                "payloads_enc": (
                    bytes(r["payloads_enc"]) if r["payloads_enc"] is not None else None
                ),
                "impact_freqs": [int(f) for f, _ in r["impacts"]],
                "impact_norms": [int(n) for _, n in r["impacts"]],
            }
        )
    return frame()


def compact_deletes(
    spark: SparkSession,
    index_dir: str,
    *,
    max_deletes_pct: float = 20.0,
    force: bool = False,
) -> dict:
    """Physically drop tombstoned docs from every segment whose delete
    ratio exceeds ``max_deletes_pct`` (``force=True`` compacts any segment
    with ≥1 delete — forceMergeDeletes semantics). Returns metrics.

    SNAPSHOT-SAFE: each compacted segment is rewritten under a NEW
    segment_id that inherits the old one's doc_base and docid span (docids
    are never renumbered), so committed partitions are never mutated —
    Lucene's write-once discipline (IndexFileDeleter protects every
    snapshotted IndexCommit; a merge always produces new files). Commit
    protocol: new data partitions → field_stats staged with BOTH old and
    new rows (readers gate stats on the manifest, so either commit point
    reads consistently) → manifest swap (THE commit) → field_stats pruned,
    stale delete rows dropped, and old partitions removed unless a
    snapshot still pins them (prune_unreferenced reclaims those later)."""
    from .snapshots import referenced_segments

    reader = IndexReader(spark, index_dir)
    if reader.deletes is None:
        return {"compacted_segments": 0, "reclaimed_docs": 0}
    del_counts = {
        int(r["segment_id"]): int(r["n"])
        for r in reader.deletes.groupBy("segment_id")
        .agg(F.count_distinct("docid").alias("n"))
        .collect()
    }
    live_counts = {
        int(r["segment_id"]): int(r["doc_count"])
        for r in reader.field_stats.collect()
    }
    targets = sorted(
        s
        for s, nd in del_counts.items()
        if nd > 0
        and (force or 100.0 * nd / max(live_counts.get(s, nd), 1) > max_deletes_pct)
    )
    if not targets:
        return {"compacted_segments": 0, "reclaimed_docs": 0}

    # per-segment sorted tombstone arrays built DISTRIBUTIVELY (dedup +
    # sort are executor-side aggregates; the driver receives one compact
    # array row per target segment, not one Python row per tombstone) and
    # broadcast to the rewrite tasks — no driver-side per-row loop
    by_seg: dict[int, np.ndarray] = {
        int(r["segment_id"]): np.asarray(r["ds"], dtype=np.int64)
        for r in reader.deletes.filter(F.col("segment_id").isin(targets))
        .groupBy("segment_id")
        .agg(F.array_sort(F.collect_set("docid")).alias("ds"))
        .collect()
    }
    bc = spark.sparkContext.broadcast(by_seg)

    sel = F.col("segment_id").isin(targets)
    kept_docmap = reader.docmap.filter(sel).mapInPandas(
        _docmap_filter_factory(bc), schema=reader.docmap.schema
    )
    kept_docmap = kept_docmap.persist()
    # per-segment live stats (doc_count, sum_ttf=Σ doc_len, min/max docid)
    stats_rows = {
        int(r["segment_id"]): r
        for r in kept_docmap.groupBy("segment_id")
        .agg(
            F.count("*").alias("dc"),
            F.sum("doc_len").alias("sttf"),
            F.min("docid").alias("mn"),
            F.max("docid").alias("mx"),
        )
        .collect()
    }

    def kind_rows(df, kind):
        missing = [
            f for f in UNIFIED_BUILD_SCHEMA.fieldNames() if f not in df.columns
        ]
        out = df.withColumn("kind", F.lit(kind).cast("tinyint"))
        for m in missing:
            if m != "kind":
                out = out.withColumn(
                    m, F.lit(None).cast(UNIFIED_BUILD_SCHEMA[m].dataType)
                )
        return out.select(*UNIFIED_BUILD_SCHEMA.fieldNames())

    # pulsed terms: drop the ones whose single doc is tombstoned (map-only)
    singles = reader.term_dict.filter(sel & F.col("singleton_docid").isNotNull())
    kept_singles = singles.mapInPandas(
        _singles_filter_factory(bc), schema=singles.schema
    )
    rewritten = (
        reader.postings.filter(sel)
        .groupBy("segment_id", "term")
        .applyInPandas(
            lambda pdf: _rewrite_term_group(pdf, bc.value),
            schema=UNIFIED_BUILD_SCHEMA,
        )
    )
    stats_df = spark.createDataFrame(
        [
            (
                s,
                int(stats_rows[s]["dc"]) if s in stats_rows else 0,
                int(stats_rows[s]["sttf"] or 0) if s in stats_rows else 0,
                0,
                int(stats_rows[s]["mn"]) if s in stats_rows else 0,
                int(stats_rows[s]["mx"]) if s in stats_rows else -1,
            )
            for s in targets
        ],
        # KIND_STATS column reuse (schemas.py): df=doc_count, ttf=sum_ttf,
        # n_blocks=n_terms (0 here), first/last_docid=min/max docid
        "segment_id int, df long, ttf long, n_blocks int, first_docid long, last_docid long",
    )
    # NEW segment ids for the rewritten data (write-once: committed
    # partitions are never overwritten). Ids start past everything the live
    # manifest OR any snapshot references, and each new segment inherits
    # its source's doc_base/docid span — docids are NOT renumbered.
    manifest = reader.manifest_rows
    pinned = referenced_segments(index_dir)
    next_id = max({int(r["segment_id"]) for r in manifest} | pinned) + 1
    new_of = {s: next_id + i for i, s in enumerate(targets)}
    remap = F.create_map(
        *[F.lit(x) for kv in new_of.items() for x in kv]
    )
    unified = (
        kind_rows(kept_docmap, KIND_DOC)
        .unionByName(kind_rows(kept_singles, KIND_TERM))
        .unionByName(rewritten)
        .unionByName(kind_rows(stats_df, KIND_STATS))
        .withColumn(
            "segment_id", remap[F.col("segment_id")].cast("int")
        )
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
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
    kept_docmap.unpersist()
    bc.destroy()

    def _fs_row(old: int, sid: int):
        if old in stats_rows:
            sr = stats_rows[old]
            return (sid, int(sr["dc"]), int(sr["sttf"] or 0), int(sr["mx"]),
                    int(sr["mn"]))
        return (sid, 0, 0, -1, 0)  # fully emptied segment

    untouched = [
        (int(r["segment_id"]), int(r["doc_count"]), int(r["sum_ttf"]),
         int(r["max_docid"]), int(r["min_docid"]))
        for r in reader.field_stats.collect()
        if int(r["segment_id"]) not in set(targets)
    ]
    old_rows = [
        (s, int(r["doc_count"]), int(r["sum_ttf"]), int(r["max_docid"]),
         int(r["min_docid"]))
        for r in reader.field_stats.collect()
        if (s := int(r["segment_id"])) in set(targets)
    ]
    new_rows = [_fs_row(s, new_of[s]) for s in targets]
    # stage old + new: whichever manifest a crashed reader sees, its live
    # segments all have stats rows (readers gate stats on the manifest)
    write_driver_table(
        f"{index_dir}/field_stats",
        sorted(untouched + old_rows + new_rows),
        FIELD_STATS_SCHEMA,
    )

    # manifest swap — THE commit: target rows move to their new ids with
    # doc_base and the n_docs docid-span reservation unchanged
    man_rows = []
    for r in manifest:
        s = int(r["segment_id"])
        if s in new_of:
            man_rows.append(
                (
                    new_of[s], int(r["n_docs"]), int(r["doc_base"]), "done",
                    float(time.time()),
                    f"compact(from={s})", r["metrics_json"],
                )
            )
        else:
            man_rows.append(
                (
                    s, int(r["n_docs"]), int(r["doc_base"]), r["status"],
                    float(r["checkpoint_ts"]), r["lineage"], r["metrics_json"],
                )
            )
    write_driver_table(
        f"{index_dir}/segment_manifest", sorted(man_rows), MANIFEST_SCHEMA
    )

    # post-commit cleanup: prune staged old stats rows, drop stale delete
    # rows, and remove unpinned old partitions (pinned ones wait for
    # prune_unreferenced after the snapshot is released)
    write_driver_table(
        f"{index_dir}/field_stats", sorted(untouched + new_rows),
        FIELD_STATS_SCHEMA,
    )
    remaining = reader.deletes.filter(~F.col("segment_id").isin(targets))
    import os

    tmp = f"{index_dir}/deletes.__tmp__"
    n_remaining = remaining.count()
    if n_remaining:
        remaining.write.mode("overwrite").parquet(tmp)
        old = f"{index_dir}/deletes.__old__"
        shutil.rmtree(old, ignore_errors=True)
        os.rename(f"{index_dir}/deletes", old)
        os.rename(tmp, f"{index_dir}/deletes")
        shutil.rmtree(old, ignore_errors=True)
    else:
        shutil.rmtree(f"{index_dir}/deletes", ignore_errors=True)
    data_root = f"{index_dir}/data"
    for s in targets:
        if s in pinned:
            continue
        for kind_dir in os.listdir(data_root):
            kd = os.path.join(data_root, kind_dir, f"segment_id={s}")
            shutil.rmtree(kd, ignore_errors=True)
    return {
        "compacted_segments": len(targets),
        "reclaimed_docs": int(sum(by_seg[s].size for s in by_seg)),
        "new_segment_ids": {int(s): int(n) for s, n in new_of.items()},
    }


def _docmap_filter_factory(bc):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        dele = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf
                continue
            keep = np.ones(len(pdf), dtype=bool)
            segs = pdf["segment_id"].to_numpy()
            docs = pdf["docid"].to_numpy()
            for s in np.unique(segs):
                d = dele.get(int(s))
                if d is not None and d.size:
                    m = segs == s
                    keep[m] &= np.isin(docs[m], d, invert=True)
            yield pdf[keep]

    return fn


def _singles_filter_factory(bc):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        dele = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf
                continue
            keep = np.ones(len(pdf), dtype=bool)
            segs = pdf["segment_id"].to_numpy()
            docs = pdf["singleton_docid"].to_numpy()
            for s in np.unique(segs):
                d = dele.get(int(s))
                if d is not None and d.size:
                    m = segs == s
                    keep[m] &= np.isin(docs[m], d, invert=True)
            yield pdf[keep]

    return fn
