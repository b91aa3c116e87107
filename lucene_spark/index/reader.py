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
"""

from __future__ import annotations

import os
from functools import cached_property

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

__all__ = ["IndexReader", "read_slice"]

# the Arrow type of every data-tree column, for the nulls of a column an
# older index lacks; ``__filename`` is the scan's source file
_TYPES = {f.name: f.type for f in to_arrow_schema(UNIFIED_BUILD_SCHEMA)}
_TYPES["__filename"] = pa.string()


def _dataset(path: str) -> ds.Dataset | None:
    """The parquet dataset of directory ``path``; None when it is missing."""
    return ds.dataset(path, format="parquet") if os.path.isdir(path) else None


def _read_table(data: ds.Dataset | None, columns: list[str], where) -> pa.Table:
    """``columns`` of the rows of ``data`` that pass the pyarrow expression
    ``where``. No dataset reads as no rows and a column an older index
    lacks as nulls, as ``_select_compat`` reads them through Spark."""
    if data is None:
        return pa.table({c: pa.array([], _TYPES[c]) for c in columns})
    have = [c for c in columns if c in data.schema.names or c == "__filename"]
    out = data.to_table(columns=have, filter=where)
    for c in columns:
        if c not in have:
            out = out.append_column(c, pa.nulls(out.num_rows, _TYPES[c]))
    return out.select(columns)


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


def _prefix(prefix: str) -> ds.Expression:
    """``term`` starts with ``prefix``, as comparisons that row-group
    min/max statistics prune on (UTF-8 byte order is code point order)."""
    term = ds.field("term")
    nxt = ord(prefix[-1]) + 1
    nxt += 0x800 if nxt == 0xD800 else 0  # no string holds a surrogate
    upper = term < prefix[:-1] + chr(nxt) if nxt <= 0x10FFFF else pc.starts_with(term, prefix)
    return (term >= prefix) & upper


def _namespace(ns: str) -> ds.Expression:
    """The keys of namespace ``ns``: a field's ``"<field>\\x1f"`` without
    the field's existence key (``exists_term``), or, for ``""``, the keys of
    a classic single-field index, i.e. none holding FIELD_SEP (field and
    feature keys)."""
    term = ds.field("term")
    if ns:
        return (term > ns) & (term < ns[:-1] + chr(ord(FIELD_SEP) + 1))
    return ~pc.match_substring(term, FIELD_SEP)


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
) -> tuple[dict[str, np.ndarray], np.ndarray | None, np.ndarray | None]:
    """What the search task of segment ``seg``, stored docids [lo, hi),
    reads with pyarrow from the segment's own directories, filtered by
    ``term IN terms`` and the docid range, straight into numpy:

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

    Positions and payloads are read only when ``cols`` holds them."""
    blocks = _columns(_read_table(
        _dataset(f"{index_dir}/data/kind={KIND_BLOCK}/segment_id={seg}"),
        [c for c in cols if c != "segment_id"],
        ds.field("term").isin(pa.array(terms, pa.string()))
        & (ds.field("last_docid") >= lo) & (ds.field("first_docid") < hi),
    ))
    if singles and seg in singles:
        pseudo = pseudo_rows(singles[seg], lo, hi, list(blocks))
        if pseudo["term"].size:
            end = blocks["impact_off"][-1]
            blocks = {
                c: np.concatenate([v, pseudo[c][1:] + end] if c == "impact_off" else [v, pseudo[c]])
                for c, v in blocks.items()
            }
    docid = ds.field("docid")
    in_range = (docid >= lo) & (docid < hi)
    deleted = None
    if deletes_dir is not None:
        dels = _read_table(
            _dataset(deletes_dir), ["docid"], (ds.field("segment_id") == seg) & in_range
        )
        if dels.num_rows:
            deleted = np.unique(dels["docid"].to_numpy().astype(np.int64, copy=False))
    stored = None
    if docs:
        dm = _read_table(
            _dataset(f"{index_dir}/data/kind={KIND_DOC}/segment_id={seg}"), ["docid"], in_range
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
        pyarrow from the segment's docmap partition."""
        dm = _read_table(
            _dataset(f"{self.index_dir}/data/kind={KIND_DOC}/segment_id={seg}"),
            ["docid", "url"],
            ds.field("docid").isin(pa.array(docids, pa.int64())),
        )
        return dict(zip(dm["docid"].to_pylist(), dm["url"].to_pylist()))

    def live_doc_count(self) -> int:
        """Docs of the manifest's segments minus their distinct deleted
        docs: the docmap row counts come from parquet metadata, the deletes
        are read as they stand now (a Searcher sees later delete batches,
        as its search tasks do)."""
        live = [int(r["segment_id"]) for r in self.manifest_rows]
        n = 0
        for seg in live:
            path = f"{self.index_dir}/data/kind={KIND_DOC}/segment_id={seg}"
            if os.path.isdir(path):
                n += ds.dataset(path, format="parquet").count_rows()
        if self.deletes_dir is not None:
            dels = _read_table(
                _dataset(self.deletes_dir), ["segment_id", "docid"],
                ds.field("segment_id").isin(pa.array(live, pa.int32())),
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
    def _term_dicts(self) -> ds.Dataset | None:
        """The ``kind=1`` partitions of the manifest's segments as one
        pyarrow dataset, built once: the commit point is immutable."""
        dirs = [
            f"{self.index_dir}/data/kind={KIND_TERM}/segment_id={r['segment_id']}"
            for r in self.manifest_rows
        ]
        parts = [ds.dataset(d, format="parquet") for d in dirs if os.path.isdir(d)]
        return ds.dataset(parts) if parts else None

    def _term_rows(
        self, where: ds.Expression, ns: str | None, cols: list[str]
    ) -> pa.Table:
        """``cols`` of the live segments' term-dictionary rows passing
        ``where``: the one query-time read of the term dictionary. ``ns``
        (see ``_namespace``) confines an expansion to one field's keys;
        None reads keys as given."""
        if ns is not None:
            where = _namespace(ns) & where
        return _read_table(self._term_dicts, cols, where)

    def _term_sums(
        self, where: ds.Expression, ns: str | None = None, cols: tuple[str, ...] = ("df",)
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
        return _stats(self._term_sums(ds.field("term").isin(terms), cols=("df", "ttf")))

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
        term = ds.field("term")
        rows = self._term_rows(term.isin([*terms, *stats_only]), None, [*cols, "__filename"])
        pulsed = pc.is_valid(rows["singleton_docid"])
        if stats_only:
            pulsed = pc.and_(pulsed, pc.is_in(rows["term"], pa.array(terms, pa.string())))
        singles = rows.filter(pulsed)
        files = singles["__filename"].to_pylist()
        # a partition file's directory is segment_id=N
        seg_of = {f: int(os.path.basename(os.path.dirname(f)).split("=")[1]) for f in set(files)}
        seg = [seg_of[f] for f in files]
        return _stats(_summed(rows, ("df", "ttf"))), singletons_by_segment(singles, seg)

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
        term = ds.field("term")
        where = pc.scalar(True)
        if prefix:
            where &= _prefix(prefix)
        if low is not None:
            where &= term >= low if include_low else term > low
        if high is not None:
            where &= term <= high if include_high else term < high
        if pattern is not None:
            try:  # compile once up front, so a bad pattern names itself
                pc.match_substring_regex(pa.array([""]), pattern)
            except pa.ArrowInvalid as e:
                raise ValueError(f"invalid term pattern {pattern!r}: {e}") from None
            where &= pc.match_substring_regex(term, pattern)
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

        length = pc.utf8_length(ds.field("term"))
        where = (length >= len(ns) + max(0, len(target) - max_edits)) & (
            length <= len(ns) + len(target) + max_edits
        )
        head = ns + target[: min(prefix_len, len(target))]
        if head:
            where &= _prefix(head)
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
