"""Read-side view of an index directory (DirectoryReader analog).

Collection-global statistics are summed across segments exactly like
``IndexSearcher.collectionStatistics`` sums across leaves (reference:
lucene/core/src/java/org/apache/lucene/search/IndexSearcher.java:1140-1150) —
IDF/avgdl are collection-wide, so any per-segment shortcut would break rank
identity with the reference.

Everything the driver reads to plan a query is *planning-sized* and is
read with pyarrow, with no Spark job: the segment manifest and field_stats
(one row per segment, from the commit point's directory, so a snapshot
reader sees its snapshot) and every query-time read of the term dictionary
(``term_plan``, ``term_stats``, ``expand_terms_df``, ``fuzzy_terms``):
filters over the manifest's ``kind=1`` partitions, summed per term by
``_term_sums`` — the in-process terms-dictionary walk of Lucene's
MultiTermQuery rewrite. A search call reads the term dictionary once:
``term_plan`` returns the global stats of the plan's terms together with
their pulsed singletons per segment, which the plan hands to its tasks.
Each search task reads its own postings (``read_slice``: its segment's
``kind=2`` partition, straight into numpy columns with no pandas frame),
takes its pulsed singletons from the plan, and reads the stored docids of
its docmap partition when its query matches docs without postings, in a
Spark task or, for a plan the driver finishes sooner than one Spark wave,
in the driver process. The urls of a top k (``doc_urls``) and the live doc
count (``live_doc_count``) are read on the driver too. The DataFrame views
(``term_dict``, ``postings``, ``docmap``, ``field_stats``, ``deletes``)
serve Spark-side work such as merges, compaction, Bloom building and index
checks.

Every one of those query-time reads goes through ``SEGMENT_CACHE``, a
process-wide LRU of decoded parquet columns: a segment is opened once per
process, as Lucene's SegmentCoreReaders open it once per reader, and each
read then filters the decoded columns in memory. Every read states its
filter one way: a dict of column → predicate, a pyarrow compute function
of that column's values returning its boolean row mask; a row passes when
every predicate does, and the dict's keys are the columns the filter
decodes. An entry is one column of one partition directory (a
``kind=K/segment_id=N`` partition or the commit's ``deletes`` directory),
decoded whole on the first read that asks for it; a column no read asks
for (``positions_enc``, ``payloads_enc`` for queries without them) is
never decoded. The key is the directory plus the (name, size, mtime_ns)
of its parquet files, listed on every read: Spark writes fresh part names,
so a rebuild at the same path, a merge, a compaction, addIndexes and each
new delete batch make a new key, and a Searcher sees later delete
batches. The cache holds at most ``SEGMENT_CACHE.max_bytes`` of decoded
columns, least recently used out first (256 MB, see the constant); the
partitions' open handles (dataset, row count, each column's Arrow size
estimated from the parquet footers) are kept beside them, outside the
bound. Two reads cache nothing and filter each record batch as the scan
decodes it, as a plain parquet read does, so that they cost a cold read
every time but never more memory than the scan: a read whose columns
would take more than a quarter of the bound, and the postings reads of a
plan whose postings columns together pass the bound (``warm_segments``),
which would otherwise evict each other before being read again.
Driver-run plans and Spark tasks share the code; a reused Python worker
keeps its cache across tasks and jobs.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
from functools import cached_property, reduce

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from .builder import FIELD_SEP
from .pseudo import pseudo_rows, singletons_by_segment
from .schemas import (
    DOCMAP_COLS,
    KIND_BLOCK,
    KIND_DOC,
    KIND_TERM,
    POSTINGS_COLS,
    TERM_DICT_COLS,
    UNIFIED_BUILD_SCHEMA,
)
from .smallio import read_driver_table

__all__ = ["IndexReader", "read_slice", "warm_segments"]

# the Arrow type of every data-tree column, for the nulls of a column an
# older index lacks
_TYPES = {f.name: f.type for f in to_arrow_schema(UNIFIED_BUILD_SCHEMA)}
# partition handles kept per process, one per partition
# directory a query has read (a segment has three, plus the deletes)
_MAX_HANDLES = 4096


class _ColumnCache:
    """Process-wide LRU of decoded parquet columns, bounded by their Arrow
    bytes (``max_bytes``); see the module docstring. Beside them, apart
    from the bound so that columns never evict them, an LRU of at most
    ``_MAX_HANDLES`` partition handles (``_open``). Plans that run in the
    driver process may read on several caller threads at once, hence the
    lock; a column two threads miss together is decoded twice and cached
    once."""

    def __init__(self, max_bytes: int):
        self.max_bytes = max_bytes
        self.lock = threading.Lock()
        self.data: OrderedDict[tuple, tuple[object, int]] = OrderedDict()
        self.bytes = 0
        self.handles: OrderedDict[tuple, tuple] = OrderedDict()

    def handle(self, key, make):
        """The handle of partition ``key``, ``make()`` on a miss."""
        with self.lock:
            got = self.handles.get(key)
            if got is not None:
                self.handles.move_to_end(key)
                return got
        got = make()
        with self.lock:
            self.handles[key] = got
            if len(self.handles) > _MAX_HANDLES:
                self.handles.popitem(last=False)
        return got

    def get(self, key):
        with self.lock:
            hit = self.data.get(key)
            if hit is None:
                return None
            self.data.move_to_end(key)
            return hit[0]

    def put(self, key, value, nbytes: int) -> None:
        """Cache ``value`` unless it alone passes the bound, evicting the
        least recently used entries until the bytes fit."""
        with self.lock:
            if key in self.data or nbytes > self.max_bytes:
                return
            self.data[key] = (value, nbytes)
            self.bytes += nbytes
            while self.bytes > self.max_bytes:
                _key, (_value, n) = self.data.popitem(last=False)
                self.bytes -= n

    def clear(self) -> None:
        with self.lock:
            self.data.clear()
            self.bytes = 0
            self.handles.clear()


# The bound, per process (the driver and each Python worker). Decoded
# columns are larger than their parquet: every column of a 1k-doc segment
# of the benchmark corpus decodes to 1.2 MB from 0.4 MB (``kind=2``), 1.3
# MB from 0.08 MB (``kind=1``) and 0.17 MB from 0.02 MB (docmap); a
# 500k-term ``kind=1`` partition to 72 MB from 5 MB, 64 MB of it without
# the singleton positions and payloads.
SEGMENT_CACHE = _ColumnCache(256 << 20)


def _files(path: str) -> tuple | None:
    """The cache key of partition directory ``path``: ``path`` and the
    (name, size, mtime_ns) of its parquet files (names starting with ``.``
    or ``_`` skipped, as Spark and pyarrow skip them); None when it is
    missing or holds no file. Listing the directory is the only
    file-system call of a warm read."""
    try:
        with os.scandir(path) as it:
            files = tuple(sorted(
                (e.name, st.st_size, st.st_mtime_ns)
                for e in it if e.name[0] not in "._" and e.is_file()
                for st in (e.stat(),)
            ))
    except FileNotFoundError:
        return None
    return (path, files) if files else None


def _footers(data: ds.Dataset) -> tuple[int, dict[str, int]]:
    """The row count of ``data``'s files and, per column, its estimated
    decoded Arrow bytes, from the parquet footers: the row count times the
    width of a fixed-width type, else the column's uncompressed page bytes
    plus its offsets."""
    rows, pages = 0, {}
    for frag in data.get_fragments():
        md = frag.metadata
        rows += md.num_rows
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            for j in range(rg.num_columns):
                col = rg.column(j)
                name = col.path_in_schema.split(".")[0]
                pages[name] = pages.get(name, 0) + col.total_uncompressed_size
    return rows, {
        f.name: rows * _width(f.type) or pages.get(f.name, 0) + 4 * rows for f in data.schema
    }


def _width(typ: pa.DataType) -> int:
    """Bytes per value of a fixed-width type, 0 for any other (or bool)."""
    try:
        return typ.bit_width // 8
    except ValueError:
        return 0


def _open(path: str) -> tuple | None:
    """(key, dataset, row count, column → estimated Arrow bytes) of
    partition directory ``path`` (see ``_files``, ``_footers``); None when
    it is missing or holds no file."""
    key = _files(path)
    if key is None:
        return None

    def make():
        data = ds.dataset([f"{path}/{name}" for name, _size, _mtime in key[1]], format="parquet")
        return (data, *_footers(data))

    return (key, *SEGMENT_CACHE.handle(key, make))


def _in(values, typ: pa.DataType = pa.string()):
    """The predicate ``IN values``."""
    value_set = pa.array(values, typ)
    return lambda col: pc.is_in(col, value_set=value_set)


def _span(lo: int, hi: int):
    """The predicate ``lo <= value < hi``."""
    return lambda col: pc.and_(pc.greater_equal(col, lo), pc.less(col, hi))


def _all(preds: list):
    """The predicate that holds where every one of ``preds`` holds."""
    return lambda col: reduce(pc.and_, [p(col) for p in preds])


def _filtered(t, where: dict):
    """The rows of table or record batch ``t`` whose column ``c`` passes
    ``where[c]``, for every key ``c``."""
    masks = [pred(t[c]) for c, pred in where.items()]
    return t.filter(reduce(pc.and_, masks)) if masks else t


def _read_table(path: str, columns: list[str], where: dict, keep: bool = True) -> pa.Table:
    """``columns`` of the rows of partition directory ``path`` that pass
    ``where`` (column → predicate, see the module docstring). Each column
    comes whole from ``SEGMENT_CACHE``, decoded from parquet on a miss,
    unless ``keep`` is unset or the columns read would take more than a
    quarter of the bound: then the scan filters each batch it decodes and
    caches nothing. A missing directory reads as no rows and a column an
    older index lacks as nulls, as ``_select_compat`` reads them through
    Spark."""
    part = _open(path)
    if part is None:
        return pa.table({c: pa.array([], _TYPES[c]) for c in columns})
    key, data, _rows, sizes = part
    want = [c for c in dict.fromkeys([*where, *columns]) if c in sizes]
    if not keep or sum(sizes[c] for c in want) > SEGMENT_CACHE.max_bytes // 4:
        out = pa.Table.from_batches(
            [_filtered(b, where) for b in data.to_batches(columns=want)],
            pa.schema([data.schema.field(c) for c in want]),
        )
    else:
        got = {c: SEGMENT_CACHE.get((*key, c)) for c in want}
        missing = [c for c, v in got.items() if v is None]
        if missing:
            decoded = data.to_table(columns=missing)
            for c in missing:
                got[c] = decoded[c]
                SEGMENT_CACHE.put((*key, c), got[c], got[c].nbytes)
        out = _filtered(pa.table(got), where)
    for c in columns:
        if c not in sizes:
            out = out.append_column(c, pa.nulls(out.num_rows, _TYPES[c]))
    return out.select(columns)


def warm_segments(index_dir: str, segs, cols: list[str]) -> set[int] | None:
    """The segments of ``segs`` whose postings columns ``read_slice``
    reads for ``cols`` this process holds decoded, under the key of the
    files there now, so that their reads decode no parquet. A segment this
    process has not opened is cold (and opening it is left to the read).
    None when those columns of all the opened ``segs`` together pass the
    bound: read in turn and cached, each would evict another before it is
    read again, so the plan's reads should not be kept
    (``read_slice(keep=False)``)."""
    warm, total = set(), 0
    for seg in segs:
        key = _files(f"{index_dir}/data/kind={KIND_BLOCK}/segment_id={seg}")
        with SEGMENT_CACHE.lock:
            meta = None if key is None else SEGMENT_CACHE.handles.get(key)
        if meta is None:
            continue
        sizes = meta[2]
        want = [c for c in ("term", "first_docid", "last_docid", *cols) if c in sizes]
        total += sum(sizes[c] for c in want)
        if all(SEGMENT_CACHE.get((*key, c)) is not None for c in want):
            warm.add(seg)
    return warm if total <= SEGMENT_CACHE.max_bytes else None


def _columns(t: pa.Table) -> dict[str, np.ndarray]:
    """The columns of block rows ``t`` as numpy arrays, in ``t``'s order:
    integers as int64, strings and bytes as object arrays (None for null),
    and each impact list column flat, its values in row order, with the
    rows' offsets into them as ``impact_off`` (both lists of a row have
    its skyline's length)."""
    out, off = {}, None
    for c in t.column_names:
        col = t[c]
        if pa.types.is_list(col.type):
            arr = col.combine_chunks()
            out[c] = arr.flatten().to_numpy().astype(np.int64, copy=False)
            off = arr.offsets.to_numpy()
        elif pa.types.is_integer(col.type):
            out[c] = col.to_numpy().astype(np.int64, copy=False)
        else:
            out[c] = col.to_numpy()
    if off is not None:
        out["impact_off"] = (off - off[0]).astype(np.int64, copy=False)
    return out


def _prefix(prefix: str):
    """The predicate: a term starts with ``prefix``."""
    return lambda term: pc.starts_with(term, prefix)


def _namespace(ns: str):
    """The predicate of the keys of namespace ``ns``: a field's
    ``"<field>\\x1f"`` without the field's existence key (``exists_term``),
    or, for ``""``, the keys of a classic single-field index, i.e. none
    holding FIELD_SEP (field and feature keys)."""
    if ns:
        return lambda term: pc.and_(pc.starts_with(term, ns), pc.not_equal(term, ns))
    return lambda term: pc.invert(pc.match_substring(term, FIELD_SEP))


def _summed(rows: pa.Table, cols) -> pa.Table:
    """(term, *cols) of term-dictionary ``rows``, summed per term."""
    sums = rows.group_by("term").aggregate([(c, "sum") for c in cols])
    return sums.select(["term", *[f"{c}_sum" for c in cols]]).rename_columns(["term", *cols])


def _stats(sums: pa.Table) -> dict[str, tuple[int, int]]:
    """term → (df, ttf) of ``_summed`` (term, df, ttf) rows."""
    return {
        t: (int(df), int(ttf))
        for t, df, ttf in zip(*(sums[c].to_pylist() for c in ("term", "df", "ttf")))
    }


def read_slice(
    index_dir: str,
    deletes_dir: str | None,
    seg: int,
    lo: int,
    hi: int,
    terms: list[str],
    cols: list[str],
    docs: bool = False,
    singles: dict | None = None,
    keep: bool = True,
) -> tuple[dict[str, np.ndarray], np.ndarray | None, np.ndarray | None]:
    """What the search task of segment ``seg``, stored docids [lo, hi),
    reads from the segment's own directories, filtered by ``term IN terms``
    and the docid range, straight into numpy. Each read filters the
    partition's decoded columns in ``SEGMENT_CACHE`` with pyarrow; the
    first read of a column in this process decodes it from parquet for the
    whole partition, and later reads decode nothing while the partition's
    files (names, sizes, mtimes: the key) are unchanged and the column is
    not evicted (the cache's bound, 256 MB per process). The postings
    partition is filtered while it is scanned, and not cached, when
    ``keep`` is unset (a plan whose postings columns pass the bound, see
    ``warm_segments``) or its read columns would take more than a quarter
    of the bound:

    - ``cols`` (of POSTINGS_COLS, without ``segment_id``) of the block rows
      overlapping the range, in ``_columns``' layout (the impact lists
      flat, with ``impact_off``), then one pseudo block per pulsed
      singleton inside the range. The singletons come from the plan, not
      from the term dictionary: ``singles`` is the per-segment map of
      ``IndexReader.term_plan`` for ``terms`` (None holds none). The rows
      are in no particular order (``SegmentContext.from_columns`` sorts
      them);
    - the sorted deleted docids of the range in ``deletes_dir`` (None when
      there are none, or no ``deletes_dir``);
    - when ``docs`` is set, the sorted stored docids of the range from the
      segment's docmap (None otherwise). The docmap is the only record of
      which docs the range holds: compaction drops docs without
      renumbering.

    Positions and payloads are read, and decoded, only when ``cols`` holds
    them. The deletes are keyed by the delete files present at this read,
    so a task sees every delete batch committed before it."""
    blocks = _columns(_read_table(
        f"{index_dir}/data/kind={KIND_BLOCK}/segment_id={seg}",
        [c for c in cols if c != "segment_id"],
        {
            "term": _in(terms),
            "last_docid": lambda col: pc.greater_equal(col, lo),
            "first_docid": lambda col: pc.less(col, hi),
        },
        keep,
    ))
    if singles and seg in singles:
        pseudo = pseudo_rows(singles[seg], lo, hi, list(blocks))
        if pseudo["term"].size:
            end = blocks["impact_off"][-1]
            blocks = {
                c: np.concatenate([v, pseudo[c][1:] + end] if c == "impact_off" else [v, pseudo[c]])
                for c, v in blocks.items()
            }
    in_range = _span(lo, hi)
    deleted = None
    if deletes_dir is not None:
        dels = _read_table(
            deletes_dir, ["docid"],
            {"segment_id": lambda col: pc.equal(col, seg), "docid": in_range},
        )
        if dels.num_rows:
            deleted = np.unique(dels["docid"].to_numpy().astype(np.int64, copy=False))
    stored = None
    if docs:
        dm = _read_table(
            f"{index_dir}/data/kind={KIND_DOC}/segment_id={seg}", ["docid"], {"docid": in_range}
        )
        stored = np.sort(dm["docid"].to_numpy().astype(np.int64, copy=False))
    return blocks, deleted, stored


class IndexReader:
    """The physical layout is ONE partitioned tree ``data/kind=K/segment_id=N``
    (a single write+commit at build time); the three logical tables are
    partition-pruned views of it."""

    def __init__(
        self, spark: SparkSession, index_dir: str, snapshot: str | None = None
    ):
        self.spark = spark
        self.index_dir = index_dir
        # point-in-time commit (DirectoryReader.open(IndexCommit)): commit
        # metadata resolves from the snapshot dir, data partitions are
        # shared with the live index (see index/snapshots.py)
        self.snapshot = snapshot
        self._meta_root = (
            f"{index_dir}/snapshots/{snapshot}" if snapshot else index_dir
        )

    def _table(self, name: str) -> DataFrame:
        root = self._meta_root if name in (
            "segment_manifest", "field_stats", "deletes", "dv_updates"
        ) else self.index_dir
        return self.spark.read.parquet(f"{root}/{name}")

    @cached_property
    def _data(self) -> DataFrame:
        """The unified data tree, gated on the manifest's segment list: a
        crash between a data write and the manifest swap (append or in-place
        merge) leaves orphan partition dirs, and the manifest — the commit
        point (segments_N semantics) — is what defines index membership.
        segment_id is a partition column, so the isin prunes directories."""
        live = [int(r["segment_id"]) for r in self.manifest_rows]
        return self._table("data").filter(F.col("segment_id").isin(live))

    @cached_property
    def docmap(self) -> DataFrame:
        base = self._select_compat(
            self._data.filter(F.col("kind") == KIND_DOC), DOCMAP_COLS
        )
        upd = self.dv_updates
        if upd is None:
            return base
        # overlay numeric doc-value updates (IndexWriter.updateNumericDocValue
        # semantics, index/ReadersAndUpdates.java docValuesGen): latest gen
        # per (segment, docid, name) wins over the stored dv map. Applied
        # HERE so every docmap consumer — sorts, function scores, merges,
        # compaction — sees updated values, and a merge/compaction rewrite
        # bakes them into its output docmap (Lucene merges fold DV gens in
        # the same way).
        from pyspark.sql.window import Window as _W

        latest = (
            upd.withColumn(
                "_rk",
                F.row_number().over(
                    _W.partitionBy("segment_id", "docid", "name").orderBy(
                        F.desc("gen")
                    )
                ),
            )
            .filter(F.col("_rk") == 1)
            .groupBy("segment_id", "docid")
            .agg(
                F.map_from_entries(
                    F.collect_list(F.struct("name", "value"))
                ).alias("_upd")
            )
        )
        joined = base.join(latest, ["segment_id", "docid"], "left")
        kept = F.map_filter(
            F.coalesce(
                F.col("dv"), F.create_map().cast("map<string,double>")
            ),
            lambda k, _v: ~F.array_contains(F.map_keys(F.col("_upd")), k),
        )
        new_dv = F.when(F.col("_upd").isNull(), F.col("dv")).otherwise(
            F.map_concat(kept, F.col("_upd"))
        )
        return joined.withColumn("dv", new_dv).select(*DOCMAP_COLS)

    @cached_property
    def dv_updates(self) -> DataFrame | None:
        """Numeric doc-value update deltas (segment_id, docid, name, value,
        gen), or None when the index has none (one os.path check)."""
        if not os.path.isdir(f"{self._meta_root}/dv_updates"):
            return None
        live = [int(r["segment_id"]) for r in self.manifest_rows]
        return self._table("dv_updates").filter(F.col("segment_id").isin(live))

    @staticmethod
    def _select_compat(df: DataFrame, cols: list[str]) -> DataFrame:
        """Select ``cols``, filling columns an older-format index lacks with
        typed nulls (schema evolution: payloads/doc-values were added after
        v1 — old indexes stay readable, the new queries just see nulls)."""
        from .schemas import UNIFIED_BUILD_SCHEMA

        have = set(df.columns)
        types = {f.name: f.dataType for f in UNIFIED_BUILD_SCHEMA.fields}
        return df.select(
            *[
                F.col(c)
                if c in have
                else F.lit(None).cast(types[c]).alias(c)
                for c in cols
            ]
        )

    @cached_property
    def postings(self) -> DataFrame:
        return self._select_compat(
            self._data.filter(F.col("kind") == KIND_BLOCK), POSTINGS_COLS
        )

    @cached_property
    def term_dict(self) -> DataFrame:
        return self._select_compat(
            self._data.filter(F.col("kind") == KIND_TERM), TERM_DICT_COLS
        )

    @cached_property
    def field_stats(self) -> DataFrame:
        """Per-segment stats, gated on the manifest's segment list like the
        data tree: a compaction/merge may stage stats rows for segments it
        has not committed yet (the manifest write IS the commit), and those
        rows must not leak into CollectionStatistics."""
        live = [int(r["segment_id"]) for r in self.manifest_rows]
        return self._table("field_stats").filter(F.col("segment_id").isin(live))

    @cached_property
    def field_stats_rows(self) -> list[dict]:
        """``field_stats`` as rows read on the driver, gated on the
        manifest's segment list like the DataFrame view."""
        live = {int(r["segment_id"]) for r in self.manifest_rows}
        return [
            r for r in read_driver_table(f"{self._meta_root}/field_stats")
            if int(r["segment_id"]) in live
        ]

    @cached_property
    def deletes_dir(self) -> str | None:
        """The commit's delete-list directory, or None when the index has no
        deletions (one os.path check)."""
        path = f"{self._meta_root}/deletes"
        return path if os.path.isdir(path) else None

    @cached_property
    def deletes(self) -> DataFrame | None:
        """Live-docs delete list (segment_id, stored docid), or None when the
        index has no deletions."""
        if self.deletes_dir is None:
            return None
        live = [int(r["segment_id"]) for r in self.manifest_rows]
        return self._table("deletes").filter(F.col("segment_id").isin(live))

    def doc_urls(self, seg: int, docids: np.ndarray) -> dict[int, str]:
        """stored docid → url of ``docids`` in segment ``seg``, read with
        pyarrow from the segment's docmap partition (through
        ``SEGMENT_CACHE``)."""
        dm = _read_table(
            f"{self.index_dir}/data/kind={KIND_DOC}/segment_id={seg}",
            ["docid", "url"],
            {"docid": _in(docids, pa.int64())},
        )
        return dict(zip(dm["docid"].to_pylist(), dm["url"].to_pylist()))

    def live_doc_count(self) -> int:
        """Docs of the manifest's segments minus their distinct deleted
        docs: the docmap row counts come from parquet metadata, the deletes
        are read as they stand now (a Searcher sees later delete batches,
        as its search tasks do), both through ``SEGMENT_CACHE``."""
        live = [int(r["segment_id"]) for r in self.manifest_rows]
        n = 0
        for seg in live:
            part = _open(f"{self.index_dir}/data/kind={KIND_DOC}/segment_id={seg}")
            n += 0 if part is None else part[2]
        if self.deletes_dir is not None:
            dels = _read_table(
                self.deletes_dir, ["segment_id", "docid"],
                {"segment_id": _in(live, pa.int32())},
            )
            n -= dels.group_by(["segment_id", "docid"]).aggregate([]).num_rows
        return n

    @cached_property
    def segment_bounds(self) -> dict[int, tuple[int, int]]:
        """segment_id → (min_docid, max_docid) of stored docids."""
        return {
            int(r["segment_id"]): (int(r["min_docid"]), int(r["max_docid"]))
            for r in self.field_stats_rows
        }

    @cached_property
    def doc_counts(self) -> dict[int, int]:
        """segment_id → live doc_count (the bloom staleness fingerprint)."""
        return {int(r["segment_id"]): int(r["doc_count"]) for r in self.field_stats_rows}

    @cached_property
    def term_blooms(self) -> dict:
        """Per-segment term Bloom filters (index/blooms.py), {} when the
        index has none. Advisory only: consulted to PRUNE segments from the
        search task plan, never to assert membership."""
        from .blooms import load_term_blooms

        return load_term_blooms(self.index_dir, self.doc_counts)

    @cached_property
    def manifest_rows(self) -> list[dict]:
        rows = read_driver_table(f"{self._meta_root}/segment_manifest")
        return sorted(rows, key=lambda r: r["segment_id"])

    @cached_property
    def doc_bases(self) -> dict[int, int]:
        return {r["segment_id"]: r["doc_base"] for r in self.manifest_rows}

    @cached_property
    def global_stats(self) -> tuple[int, int]:
        """(doc_count, sum_total_term_freq) across all segments."""
        rows = self.field_stats_rows
        return (
            sum(int(r["doc_count"]) for r in rows),
            sum(int(r["sum_ttf"]) for r in rows),
        )

    @cached_property
    def _term_dicts(self) -> list[tuple[int, str]]:
        """(segment_id, ``kind=1`` partition directory) of the manifest's
        segments: the commit point is immutable."""
        return [
            (int(r["segment_id"]),
             f"{self.index_dir}/data/kind={KIND_TERM}/segment_id={r['segment_id']}")
            for r in self.manifest_rows
        ]

    def _term_rows(
        self, where: list, ns: str | None, cols: list[str]
    ) -> pa.Table:
        """``cols`` of the live segments' term-dictionary rows whose term
        passes every predicate of ``where`` (see ``_read_table``): the one
        query-time read of the term dictionary, through ``SEGMENT_CACHE``.
        ``ns`` (see ``_namespace``) confines an expansion to one field's
        keys; None reads keys as given. ``segment_id`` is the row's
        segment."""
        if ns is not None:
            where = [_namespace(ns), *where]
        read = [c for c in cols if c != "segment_id"]
        parts = []
        for seg, path in self._term_dicts:
            t = _read_table(path, read, {"term": _all(where)} if where else {})
            if "segment_id" in cols:
                t = t.append_column("segment_id", pa.array(np.full(t.num_rows, seg, np.int32)))
            parts.append(t.select(cols))
        if not parts:
            return pa.table({c: pa.array([], _TYPES[c]) for c in cols})
        return pa.concat_tables(parts, promote_options="permissive")

    def _term_sums(
        self, where: list, ns: str | None = None, cols: tuple[str, ...] = ("df",)
    ) -> pa.Table:
        """(term, *cols) of the rows ``_term_rows`` reads, summed per
        term."""
        return _summed(self._term_rows(where, ns, ["term", *cols]), cols)

    def term_stats(self, terms: list[str]) -> dict[str, tuple[int, int]]:
        """Global (docFreq, totalTermFreq) per term (TermStatistics analog),
        summed over the live segments; a term no live segment holds is
        absent from the result."""
        if not terms:
            return {}
        return _stats(self._term_sums([_in(terms)], cols=("df", "ttf")))

    def term_plan(
        self,
        terms: list[str],
        positions: bool = False,
        payloads: bool = False,
        stats_only: tuple[str, ...] = (),
    ) -> tuple[dict[str, tuple[int, int]], dict[int, dict[str, np.ndarray]]]:
        """``term_stats`` of ``terms`` and ``stats_only`` and, from the same
        read, the pulsed singletons of ``terms`` per segment
        (``pseudo.singletons_by_segment``, with their positions and payloads
        when asked for): what a search plan needs of the term dictionary.
        Its tasks take their singletons from the second map
        (``read_slice``), so they read no term dictionary."""
        if not terms and not stats_only:
            return {}, {}
        cols = ["term", "df", "ttf", "singleton_docid", "singleton_freq", "singleton_norm"]
        cols += ["singleton_positions"] if positions else []
        cols += ["singleton_payloads"] if payloads else []
        rows = self._term_rows([_in([*terms, *stats_only])], None, [*cols, "segment_id"])
        # one numpy pass over the read; an integer column with nulls comes
        # out as float64 with NaN, exact for these counts and docids
        col = {c: rows[c].to_numpy() for c in rows.column_names}
        keys, row_key = np.unique(col["term"], return_inverse=True)
        df, ttf = (
            np.bincount(row_key, col[c], keys.size).astype(np.int64).tolist()
            for c in ("df", "ttf")
        )
        stats = dict(zip(keys.tolist(), zip(df, ttf)))
        docid = col["singleton_docid"]
        pulsed = ~np.isnan(docid) if docid.dtype.kind == "f" else np.ones(docid.size, bool)
        if stats_only:
            pulsed &= np.isin(col["term"], terms)
        singles = {c: v[pulsed] for c, v in col.items()}
        return stats, singletons_by_segment(singles, singles["segment_id"])

    def expand_terms(
        self,
        prefix: str | None = None,
        pattern: str | None = None,
        low: str | None = None,
        high: str | None = None,
        include_low: bool = True,
        include_high: bool = True,
        max_terms: int = 128,
    ) -> list[str]:
        """MultiTermQuery expansion (PrefixQuery/RegexpQuery/TermRangeQuery →
        SHOULD terms, ScoringRewrite/TopTermsRewrite analog). Ranked by
        global df desc so a cap keeps the highest-df terms
        (TopTermsRewrite.java heap semantics)."""
        return [t for t, _df in self.expand_terms_df(
            prefix=prefix, pattern=pattern, low=low, high=high,
            include_low=include_low, include_high=include_high,
            max_terms=max_terms,
        )]

    def expand_terms_df(
        self,
        prefix: str | None = None,
        pattern: str | None = None,
        low: str | None = None,
        high: str | None = None,
        include_low: bool = True,
        include_high: bool = True,
        max_terms: int = 128,
    ) -> list[tuple[str, int]]:
        """expand_terms returning (term, global df) pairs — FuzzyQuery's
        blended-frequency rewrite needs the dfs of the whole expanded set.
        Terms stay in the namespace of ``prefix``, else of ``low`` or
        ``high``, so an open-ended range stays inside its field.
        ``pattern`` is an anchored RE2 regex; one RE2 rejects raises
        ValueError."""
        where = []
        if prefix:
            where.append(_prefix(prefix))
        if low is not None:
            above = pc.greater_equal if include_low else pc.greater
            where.append(lambda term: above(term, low))
        if high is not None:
            below = pc.less_equal if include_high else pc.less
            where.append(lambda term: below(term, high))
        if pattern is not None:
            try:  # compile once up front, so a bad pattern names itself
                pc.match_substring_regex(pa.array([""]), pattern)
            except pa.ArrowInvalid as e:
                raise ValueError(f"invalid term pattern {pattern!r}: {e}") from None
            where.append(lambda term: pc.match_substring_regex(term, pattern))
        key = prefix or low or high or ""
        sums = self._term_sums(where, key[: key.find(FIELD_SEP) + 1])
        top = sums.sort_by([("df", "descending"), ("term", "ascending")]).slice(0, max_terms)
        return list(zip(top["term"].to_pylist(), top["df"].to_pylist()))

    def fuzzy_terms(
        self,
        target: str,
        max_edits: int,
        prefix_len: int,
        ns: str = "",
        transpositions: bool = True,
    ) -> list[tuple[str, int, int]]:
        """(term, edits, global df), in term order, of every key of
        namespace ``ns`` whose token is within ``max_edits`` OSA edits of
        ``target`` (plain Levenshtein without ``transpositions``) and
        shares its first ``prefix_len`` characters: the FuzzyTermsEnum
        analog. The shared prefix and the length band, both automaton
        invariants, filter the read; ``osa_many`` verifies what is left."""
        from ..search.fuzzy import osa_many

        band = _span(len(ns) + max(0, len(target) - max_edits),
                     len(ns) + len(target) + max_edits + 1)
        where = [lambda term: band(pc.utf8_length(term))]
        head = ns + target[: min(prefix_len, len(target))]
        if head:
            where.append(_prefix(head))
        sums = self._term_sums(where, ns).sort_by("term")
        words = pc.utf8_slice_codeunits(sums["term"], len(ns))
        edits = osa_many(target, words.to_numpy(zero_copy_only=False), max_edits,
                         transpositions)
        hit = np.flatnonzero(edits <= max_edits)
        return list(zip(
            sums["term"].take(hit).to_pylist(),
            edits[hit].tolist(),
            sums["df"].take(hit).to_pylist(),
        ))
