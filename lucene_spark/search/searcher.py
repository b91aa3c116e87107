"""Distributed top-k search over the index tables.

Execution model = Lucene's per-leaf search + TopDocs.merge, Spark-first:

- planning (Weight creation) happens on the driver with no Spark job:
  parse → rewrite → multi-term expansion → one pyarrow ``term IN (...)``
  read of the live segments' term dictionaries (``IndexReader.term_plan``)
  for global TermStatistics and the plan terms' pulsed singletons per
  segment, and the ``field_stats`` rows read at open for
  CollectionStatistics (IndexSearcher.java:1140-1150 — stats are summed
  across segments BEFORE scoring; per-segment IDF would break rank identity);
- the driver also plans the task list (``plan_slices``): one
  (segment, lo, hi) per manifest segment its term Blooms keep and per docid
  slice, widest first;
- each task reads its own rows with pyarrow (``index.reader.read_slice``,
  the per-leaf read of IndexSearcher.searchLeaf): the block rows of its
  segment's ``kind=2`` partition with ``term IN (...)`` and the docid range
  as filters, straight into numpy columns, and its deletes; it takes its
  pulsed singletons in its docid range from the plan as pseudo blocks, so
  no task reads the term dictionary, and builds its ``SegmentContext``
  from those columns (``SegmentContext.from_columns``) with no pandas
  frame. Positions and payloads are read only for queries that consume
  them — column pruning;
- each task evaluates locally (segment.py) and emits ≤ k hits, which are
  merged by (score DESC, docid ASC) — the TopDocs.merge analog
  (search/TopDocs.java:206-234).

Where the tasks run is sized by their work, as IndexSearcher runs its leaf
slices on the caller thread when it has no executor. The driver estimates
the plan's work (``_driver_ms``: a read per task that grows with its docid
span, Σdf of the plan's terms, dearer when positions are read, and the
tasks' docs when the plan reads the docmap) from numbers it already holds.
Run on Spark, the same work is shared by min(tasks, cores) cores after the
measured price of one wave, WAVE_MS (``_on_driver``;
tools/driver_cost_probe.py fits the constants):

- when the driver is sooner, it runs the tasks itself, one after another,
  and merges their rows; the call launches no Spark job;
- otherwise the tasks run as one map-only stage,
  ``spark.range(0, n, 1, n).mapInPandas``, so partition i is task i — no
  scan → shuffle → grouped-map exchange. When ``slice_docs`` is unset the
  span aims at ``defaultParallelism`` tasks, one wave.

One pipeline serves ``search``, ``search_many``, ``search_all`` and
``count``, as IndexSearcher.search(Query, CollectorManager) serves every
collector: ``Searcher._slices`` plans stats and tasks once, and
``_run_slice`` is the one task body wherever it runs. Only the kernel each
task runs and the shape of the result differ:

===============  ========================  ==================================
entry point      kernel (segment.py)       result shape
===============  ========================  ==================================
``search``       ``search_segment``        top k by (score DESC, docid ASC),
                                           merged on the driver inside the
                                           call; ``with_url`` reads the k
                                           urls with pyarrow
``search_many``  ``batch_search_segment``  top k per query_id, merged on the
                 (``search_segment`` per   driver inside the call
                 query on one context,
                 so the queries share its
                 scored terms)
``search_all``   ``exhaustive_hits``       every hit, no cut: local rows
                                           when run on the driver, else the
                                           lazy Spark stage
``count``        ``matching_docs``         per-slice counts summed on the
                                           driver; ``count("*")`` reads only
                                           metadata
===============  ========================  ==================================

MatchAllDocsQuery runs in the same kernel, at the top level or inside a
tree: a plan that holds one also reads each task's stored docids from its
segment's docmap partition (Lucene's MatchAllDocsQuery iterates every doc
of a leaf; deletes are masked where hits are collected). A plan with no
term and no match-all plans no task.

Multi-term queries expand on the driver with no Spark job, through the
reader's pyarrow read of the live segments' term dictionaries (the rewrite
layer of ScoringRewrite.java / TopTermsRewrite.java), each inside its
field's namespace:
- PrefixQuery → SHOULD-of-terms (the prefix read as a term range);
- WildcardQuery → regex translation (WildcardQuery.java:38 toAutomaton:
  ``*``→any run, ``?``→any char), literal prefix extracted as a range;
- RegexpQuery → anchored RE2 match over the term column;
- TermRangeQuery → term comparisons with bound inclusivity;
- FuzzyQuery → prefix range + length band, vectorized OSA edit-distance
  verify (``IndexReader.fuzzy_terms``), then
  TopTermsBlendedFreqScoringRewrite: per-term boost = similarity, every
  expanded term scores with the blended docFreq = max over the set
  (BlendedTermQuery.adjustFrequencies).
"""

from __future__ import annotations

import dataclasses
from functools import partial

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType

from ..index.builder import FIELD_SEP, exists_term, field_term
from ..index.reader import IndexReader, read_slice
from ..index.schemas import POSTINGS_COLS, SEARCH_HIT_SCHEMA, URL_HIT_SCHEMA
from .fuzzy import fuzzy_similarity
from .query import (
    BooleanQuery,
    CombinedFieldQuery,
    ConstantScoreQuery,
    DisjunctionMaxQuery,
    FieldExistsQuery,
    FuzzyQuery,
    IntervalAtLeast,
    IntervalFilter,
    IntervalNear,
    IntervalOr,
    MatchAllDocsQuery,
    MatchNoDocsQuery,
    PhrasePrefixQuery,
    PhraseWildcardQuery,
    PhraseQuery,
    ParentChildrenBlockJoinQuery,
    PrefixQuery,
    RegexpQuery,
    SynonymQuery,
    TermInSetQuery,
    TermQuery,
    TermRangeQuery,
    ToChildBlockJoinQuery,
    ToParentBlockJoinQuery,
    WildcardQuery,
    boosted,
    collect_terms,
    parse_query,
    rewrite,
    wildcard_to_regex,
)
from .scorers import build_scorers
from .segment import (
    MAX_SPAN,
    WINDOW_DOCS,
    SegmentContext,
    _SegmentSearcher,
    batch_search_segment,
    exhaustive_hits,
    search_segment,
)

__all__ = ["Searcher", "wildcard_to_regex"]

# the multi-term leaves that expand against the term dictionary
_MULTITERM = (
    PrefixQuery, WildcardQuery, RegexpQuery, TermRangeQuery, FuzzyQuery,
    PhrasePrefixQuery, PhraseWildcardQuery,
)
# the fields of each compound query type that hold its sub-queries (one
# query or a tuple of them)
_CHILDREN = {
    BooleanQuery: ("must", "should", "must_not"),
    DisjunctionMaxQuery: ("disjuncts",),
    ConstantScoreQuery: ("query",),
    ToParentBlockJoinQuery: ("child", "parents"),
    ToChildBlockJoinQuery: ("parent", "parents"),
    ParentChildrenBlockJoinQuery: ("child", "parents"),
}

# analyzer output never contains NUL, so this term matches no posting —
# the stand-in for an interval slot whose multiterm leaf expanded to
# nothing (the slot stays in place; it simply never has occurrences)
_NO_MATCH_TERM = "\x00no-match"

# Where a plan runs (``Searcher._slices``, ``_on_driver``). Fitted by
# tools/driver_cost_probe.py over perfbench.corpus indexes of 2k / 20k /
# 100k docs in 2 segments at once (local[4], a 4-core box, medians of 5),
# so the estimate follows the index size. Measured / fitted ms per size:
# no postings 21.9/23.7, 65.5/61.1, 128.8/129.5; "*" 32/25, 92/71,
# 173/178.
# one empty mapInPandas wave at 1 task (434 ms at 4 tasks, so for a wide
# plan the estimate errs towards Spark)
WAVE_MS = 245.0
# a task's read: TASK_MS + TASK_DOC_MS per doc of its docid span.
# Refitted once a task read only its postings partition, straight into
# numpy, and took its pulsed singletons from the plan (``read_slice``),
# same probe at medians of 3: the read alone takes 6.4 / 11.5 / 23.3 ms
# per task of 1k / 5k / 25k docs with no postings to read; measured /
# fitted ms per size with no postings 17.9/19.5, 49.9/46.2, 82.1/82.7.
# That run read the other constants as WAVE_MS 267, POSTING_MS 0.000242,
# POSITION_POSTING_MS 0.00192, DOC_MS 0.000395.
TASK_MS = 9.28
TASK_DOC_MS = 0.000456
# per posting of the plan's terms (Σdf), without / with positions:
# refitted once every task decoded its rows in one pass
# (codecs.blocks.decode_rows), same probe at medians of 3. Measured /
# fitted ms per size: the 27 reference and phrase shapes 1124/693,
# 3390/2313, 7046/6943; a search_many batch of 1000 queries 265/176,
# 1066/1602, 3656/7815. A per-query term fitted to 0, so there is none,
# and a batch's postings overestimate it above 2k docs (its decode and
# scores are shared by its queries); that run read the other constants
# as WAVE_MS 352, TASK_MS 10.7, TASK_DOC_MS 0.00107, DOC_MS 0.00087.
POSTING_MS = 0.000404
POSITION_POSTING_MS = 0.00276
# per doc of the tasks' spans when the plan reads the docmap
DOC_MS = 0.000481


def _node_types(q, out: set) -> set:
    """Adds the type of every node of ``q``'s tree to ``out``."""
    out.add(type(q))
    if isinstance(q, tuple):
        for c in q:
            _node_types(c, out)
    elif dataclasses.is_dataclass(q):
        for f in dataclasses.fields(q):
            _node_types(getattr(q, f.name), out)
    return out


def _plan_reads(queries) -> tuple[bool, bool, bool, bool, bool]:
    """From one walk of each query's tree, what a plan over ``queries``
    needs: (a match-all, the docmap's stored docids (for the nodes whose
    docs do not come from postings), positions, payloads, whole-segment
    tasks (doc blocks never cross segments but may straddle docid
    slices))."""
    from .query import MultiPhraseQuery, PayloadScoreQuery, TermAutomatonQuery
    from .spans import _SPAN_TYPES, PayloadFilteredTerm

    types: set = set()
    for q in queries:
        _node_types(q, types)

    def holds(*kinds) -> bool:
        return any(issubclass(t, kinds) for t in types)

    return (
        holds(MatchAllDocsQuery),
        holds(MatchAllDocsQuery, ToChildBlockJoinQuery),
        holds(
            PhraseQuery, MultiPhraseQuery, PhrasePrefixQuery, IntervalNear,
            IntervalFilter, IntervalAtLeast, IntervalOr, TermAutomatonQuery,
            *_SPAN_TYPES,
        ),
        holds(PayloadScoreQuery, PayloadFilteredTerm),
        holds(
            ToParentBlockJoinQuery, ToChildBlockJoinQuery,
            ParentChildrenBlockJoinQuery,
        ),
    )


def plan_slices(seg_meta: dict, span: int | None) -> list[tuple[int, int, int]]:
    """(segment, lo, hi) of every search task: the stored docids [lo, hi)
    where a segment's range meets one window of ``span`` docs, at most
    ``MAX_SPAN``, the bound of the arrays a task sizes by its span; widest
    first. A ``span`` of None plans one task per segment instead, for
    block-join trees, whose doc blocks never cross segments but may
    straddle slices: such a task allocates those arrays (up to 13 bytes a
    doc) for its whole segment.

    On Spark, task i runs as partition i and the scheduler launches
    partitions in order, so widest first (LPT) lets the short partial
    slices fill the ragged final wave instead of starting one — measured
    ~6% of the batched-query stage at 8 cores with 66 slices. Stable on
    ties, so full-width slices keep (segment, slice) order."""
    out = []
    for seg, (_base, lo, hi) in sorted(seg_meta.items()):
        if hi <= lo:
            continue
        if not span:
            out.append((seg, lo, hi))
            continue
        step = min(span, MAX_SPAN)
        for sl in range(lo // step, (hi - 1) // step + 1):
            out.append((seg, max(lo, sl * step), min(hi, (sl + 1) * step)))
    return sorted(out, key=lambda t: t[1] - t[2])


def _run_slice(batches, tasks, read, body, scorers, seg_meta, cache_tag):
    """The task body of every entry point, wherever it runs. For each task
    index in ``batches``' ``id`` column (one per Spark partition, as
    planned; all of them on the driver): read the task's rows, build the
    SegmentContext of its docid slice, run the entry point's kernel
    ``body`` on it and lift the stored docids it returns to global ids."""
    for batch in batches:
        for i in batch["id"]:
            seg, lo, hi = tasks[i]
            doc_base = seg_meta[seg][0]
            cols, deleted, docs = read(seg, lo, hi)
            ctx = SegmentContext.from_columns(
                cols, scorers, lo, hi, seg, cache_tag=cache_tag, doc_base=doc_base,
            )
            ctx.deleted = deleted
            ctx.docs = docs
            out = body(ctx)
            if "docid" in out:
                out["docid"] += doc_base
            yield out


def _arrow_schema(schema) -> pa.Schema:
    """The Arrow schema of a StructType or DDL string."""
    return to_arrow_schema(
        DataType.fromDDL(schema) if isinstance(schema, str) else schema
    )


def _driver_ms(tasks, postings: int, positions: bool, docs: bool) -> float:
    """Estimated milliseconds of the work of ``tasks``, run one after
    another: a read per task that grows with its docid span, the postings
    of the plan's terms (Σdf, read and decoded once for all the queries;
    dearer when positions are read) and the tasks' docs when the plan
    reads the docmap."""
    span = sum(hi - lo for _seg, lo, hi in tasks)
    return (
        TASK_MS * len(tasks)
        + (TASK_DOC_MS + (DOC_MS if docs else 0.0)) * span
        + (POSITION_POSTING_MS if positions else POSTING_MS) * postings
    )


def _on_driver(work_ms: float, n_tasks: int, par: int) -> bool:
    """Whether ``work_ms`` of ``n_tasks`` tasks is done sooner in the
    driver process than as one Spark wave, which pays WAVE_MS and then
    shares the same work among min(n_tasks, par) cores. A one-task plan
    therefore always runs on the driver."""
    return work_ms < WAVE_MS + work_ms / min(n_tasks, par)


def _to_pandas(rows) -> pd.DataFrame:
    """The rows ``Searcher._slices`` returned, on the driver: as they are
    when the plan ran there, else collected (the plan's one Spark job)."""
    return rows if isinstance(rows, pd.DataFrame) else rows.toPandas()


def _top(hits: pd.DataFrame, k: int) -> pd.DataFrame:
    """The first ``k`` hits by (score DESC, docid ASC) — TopDocs.merge."""
    return hits.sort_values(["score", "docid"], ascending=[False, True]).head(k)


def _top_k_body(ctx, query, k, after) -> pd.DataFrame:
    if after is not None:
        # the anchor's docid is global, the kernel's are stored docids
        after = (after[0], after[1] - ctx.doc_base)
    d, s = search_segment(ctx, query, k, after=after)
    return pd.DataFrame({"docid": d, "score": s.astype(np.float64)})


def _batch_body(ctx, queries, k) -> pd.DataFrame:
    qids, d, s = batch_search_segment(ctx, queries, k)
    return pd.DataFrame({"query_id": qids, "docid": d, "score": s})


def _all_body(ctx, query) -> pd.DataFrame:
    d, s = exhaustive_hits(ctx, query)
    return pd.DataFrame({"docid": d, "score": s.astype(np.float64)})


def _count_body(ctx, query) -> pd.DataFrame:
    # docid-set algebra only (TotalHitCountCollector): no scorers, no top-k,
    # no float work
    d = _SegmentSearcher(ctx, 0).matching_docs(query)
    d = d[(d >= ctx.min_doc) & (d < ctx.max_doc)]
    if ctx.deleted is not None and d.size:
        d = d[np.isin(d, ctx.deleted, invert=True)]
    return pd.DataFrame({"n": [int(d.size)]})


class _PerFieldQueryAnalyzer:
    """Query-time PerFieldAnalyzerWrapper (analysis/miscellaneous/
    PerFieldAnalyzerWrapper.java:51): callable like the default analyzer;
    the parser calls ``for_field(field)`` on fielded tokens."""

    def __init__(self, default, per_field: dict):
        self._default = default
        self.per_field = per_field

    def __call__(self, text):
        return self._default(text)

    def for_field(self, field: str):
        return self.per_field.get(field, self._default)


class Searcher:
    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        *,
        analyzer: str = "standard",
        stopwords: frozenset[str] | None = None,
        mode: str = "lucene",
        slice_docs: int | None = None,
        snapshot: str | None = None,
    ):
        self.spark = spark
        self.reader = IndexReader(spark, index_dir, snapshot=snapshot)
        self.mode = mode
        # intra-segment search concurrency (IndexSearcher leaf slices,
        # IndexSearcher.java:106-108): None = auto-pick a docid span that
        # gives about defaultParallelism tasks, so a few merged segments
        # still fan out across every core in one wave; 0 = one task per
        # segment (up to MAX_SPAN docs). The span shapes the tasks wherever
        # they run; whether they run on the driver or on Spark is sized by
        # their work (``_slices``).
        self.slice_docs = slice_docs
        from ..index.builder import get_analyzer

        self._analyzer = partial(get_analyzer(analyzer), stopwords=stopwords)
        self._stopwords = stopwords
        # multi-field index: field list + default field from the build's
        # index_meta.json; None for classic single-field indexes
        import json as _json
        import os as _os

        # snapshot readers resolve the build metadata as of the snapshot
        meta_path = _os.path.join(self.reader._meta_root, "index_meta.json")
        self.fields: list[str] | None = None
        self.default_field: str | None = None
        self.index_sort: str | None = None
        if _os.path.exists(meta_path):
            with open(meta_path) as fh:
                meta = _json.load(fh)
            self.fields = list(meta.get("fields") or []) or None
            self.default_field = meta.get("primary") or (
                self.fields[0] if self.fields else None
            )
            self.index_sort = meta.get("index_sort")
            fa = meta.get("field_analyzers") or {}
            if fa:
                # PerFieldAnalyzerWrapper: the query parser analyzes a
                # ``field:token`` with that field's chain (the reference
                # QueryParser consults the wrapper per field)
                self._analyzer = _PerFieldQueryAnalyzer(
                    self._analyzer,
                    {
                        f: partial(get_analyzer(n), stopwords=self._stopwords)
                        for f, n in fa.items()
                    },
                )
        # Open-time metadata, loaded eagerly the way SegmentReader/
        # DirectoryReader.open does (collection statistics and the bloom
        # tables live with the commit point, not with any one query): a
        # few small pyarrow reads, no Spark job.
        self.reader.global_stats
        self.reader.term_blooms

    def _fmap(self):
        """(field | None, token) -> internal term key for parse_query."""
        if not self.fields:
            return None
        fields, default = set(self.fields), self.default_field

        def key(field: str | None, token: str) -> str:
            f = field if field in fields else default
            return field_term(f, token)

        return key

    def _slice_span(self) -> int:
        """Docid span per search slice; ``MAX_SPAN`` for one slice per
        segment, up to that bound. The auto span aims at
        ``defaultParallelism`` tasks, so a plan that runs on Spark runs in
        one wave."""
        if self.slice_docs is not None:
            return self.slice_docs or MAX_SPAN
        n_seg = len(self.reader.manifest_rows)
        par = self.spark.sparkContext.defaultParallelism
        if n_seg >= par:
            return MAX_SPAN  # segment-level parallelism already saturates cores
        total = self.reader.global_stats[0]
        span = max(WINDOW_DOCS, -(-total // par))
        return ((span + WINDOW_DOCS - 1) // WINDOW_DOCS) * WINDOW_DOCS

    # --- planning -------------------------------------------------------
    def parse(self, query_str: str):
        return parse_query(query_str, self._analyzer, fmap=self._fmap())

    def parse_simple(self, query_str: str, default_operator: str = "should"):
        """SimpleQueryParser dialect (queryparser/simple/
        SimpleQueryParser.java): lenient end-user syntax — + | - "…"~N
        trailing-* ~N ( ) \\ — that never raises on malformed input."""
        from .simpleparser import simple_parse

        return simple_parse(
            query_str, self._analyzer, default_operator=default_operator
        )

    def search_simple(
        self,
        query_str: str,
        k: int = 10,
        with_url: bool = False,
        default_operator: str = "should",
    ) -> DataFrame:
        return self.search(
            self.parse_simple(query_str, default_operator), k=k,
            with_url=with_url,
        )

    def synonym_graph_query(
        self,
        text: str,
        rules: dict,
        keep_original: bool = True,
        boost: float = 1.0,
        max_paths: int = 256,
    ):
        """Query-time MULTI-WORD synonyms: analyze ``text``, overlay
        {phrase: phrase(s)} rules as a synonym token graph
        (analysis/common/.../synonym/SynonymGraphFilter.java:41 — held
        positions + posLength), and match it with TermAutomatonQuery
        (sandbox/search/TermAutomatonQuery.java:64), whose accepted paths
        may consume different numbers of positions — "machine learning" ≡
        "ml" works in both directions. This is Lucene's own split: index
        time cannot faithfully flatten a graph (SynonymGraphFilter javadoc),
        so multi-word rules apply at query time via the automaton."""
        from ..analysis.synonyms import synonym_graph_paths
        from .query import TermAutomatonQuery

        terms = [t.term for t in self._analyzer(text)]
        if not terms:
            return MatchNoDocsQuery()
        paths = synonym_graph_paths(
            terms, rules, keep_original=keep_original, max_paths=max_paths
        )
        return TermAutomatonQuery(paths=paths, boost=boost)

    def surround_query(self, text: str, max_terms: int = 128):
        """Parse a surround-language query (W/N proximity + boolean, see
        search/surround.py) with truncation terms expanded against this
        index's term dictionary (df-descending, capped — the
        BasicQueryFactory bounded budget)."""
        from .surround import _parse

        ns = self._default_ns()
        return _parse(
            text,
            partial(self._expand_wildcard, max_terms=max_terms),
            lambda word: ns + word,
        )

    def _default_ns(self) -> str:
        """The key prefix of the default field's terms ("" on a classic
        single-field index)."""
        return field_term(self.default_field, "") if self.fields else ""

    def _expand_wildcard(self, pattern: str, max_terms: int) -> list[str]:
        """The terms of the default field that match the bare ``*``/``?``
        pattern ``pattern`` (df-descending, capped), for the parsers that
        build their own leaves (surround, complex phrase)."""
        lit, rx = wildcard_to_regex(self._default_ns() + pattern)
        return self.reader.expand_terms(
            prefix=lit or None, pattern=rx, max_terms=max_terms
        )

    def function_match(self, predicate: str, boost: float = 1.0) -> DataFrame:
        """FunctionMatchQuery (queries/src/java/org/apache/lucene/queries/
        function/FunctionMatchQuery.java:86-116): match every doc whose
        doc-value passes the predicate, constant score = boost.
        ``predicate`` is a Spark SQL boolean over ``dv['<name>']`` (the
        DoubleValuesSource + DoublePredicate pair); evaluation is one
        codegen filter over the docmap scan — no postings touched, and a
        missing doc-value never matches (advanceExact semantics: SQL NULL
        comparisons are false). Returns (docid, score) rows."""
        out = (
            self._docmap_global()
            .filter(F.expr(predicate))
            .select("docid", F.lit(float(boost)).alias("score"))
        )
        return self._minus_deletes(out)

    def _minus_deletes(self, out: DataFrame) -> DataFrame:
        """Anti-join live tombstones out of a (docid, ...) result — the
        acceptDocs/liveDocs mask for doc-value-driven queries that never
        touch the postings scan (which applies deletes itself)."""
        if self.reader.deletes is not None:
            bases = [
                (int(s), int(b)) for s, b in self.reader.doc_bases.items()
            ]
            base_df = self.spark.createDataFrame(
                bases, "segment_id int, doc_base long"
            )
            dele = self.reader.deletes.join(
                F.broadcast(base_df), "segment_id"
            ).select((F.col("docid") + F.col("doc_base")).alias("docid"))
            out = out.join(dele, "docid", "left_anti")
        return out

    def doc_values_numbers(
        self, name: str, values: list[float], boost: float = 1.0
    ) -> DataFrame:
        """DocValuesNumbersQuery (sandbox/src/java/org/apache/lucene/
        sandbox/search/DocValuesNumbersQuery.java:55): constant-score match
        of every doc whose named numeric doc-value is IN the given set —
        the dv-side dual of TermInSetQuery, used when the set is too large
        to expand into postings lookups. One codegen ``isin`` filter over
        the docmap scan; a doc missing the value never matches
        (advanceExact). Returns (docid, score)."""
        out = (
            self._docmap_global()
            .filter(F.col("dv").getItem(name).isin([float(v) for v in values]))
            .select("docid", F.lit(float(boost)).alias("score"))
        )
        return self._minus_deletes(out)

    def multi_range(
        self,
        name: str,
        ranges: list[tuple[float, float]],
        boost: float = 1.0,
    ) -> DataFrame:
        """MultiRangeQuery (sandbox/src/java/org/apache/lucene/sandbox/
        search/MultiRangeQuery.java:60): OR of [lo, hi] inclusive ranges
        over one numeric field evaluated in a SINGLE pass. Mirrors the
        reference's rewrite (:169 mergeOverlappingRanges): ranges are
        sorted and overlapping/adjacent ones coalesced driver-side, so the
        scan evaluates the minimal disjunction. Constant score = boost."""
        if not ranges:
            return self._empty_hits().select("docid", "score")
        merged: list[list[float]] = []
        for lo, hi in sorted((float(a), float(b)) for a, b in ranges):
            if merged and lo <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], hi)
            else:
                merged.append([lo, hi])
        v = F.col("dv").getItem(name)
        cond = None
        for lo, hi in merged:
            c = (v >= F.lit(lo)) & (v <= F.lit(hi))
            cond = c if cond is None else (cond | c)
        out = (
            self._docmap_global()
            .filter(cond)
            .select("docid", F.lit(float(boost)).alias("score"))
        )
        return self._minus_deletes(out)

    def function_range(
        self,
        value_expr: str,
        lower: float,
        upper: float,
        include_lower: bool = True,
        include_upper: bool = True,
    ) -> DataFrame:
        """FunctionRangeQuery (queries/src/java/org/apache/lucene/queries/
        function/FunctionRangeQuery.java:43 via FunctionValues
        .getRangeScorer): match docs whose ValueSource value falls in
        [lower, upper] and score each match with the VALUE ITSELF — the
        "score by static rank within a band" pattern. ``value_expr`` is a
        Spark SQL double over ``dv['<name>']`` / docmap columns; NULL
        (missing doc-value) never matches."""
        v = F.expr(value_expr)
        lo_ok = v >= F.lit(float(lower)) if include_lower else v > F.lit(float(lower))
        hi_ok = v <= F.lit(float(upper)) if include_upper else v < F.lit(float(upper))
        out = (
            self._docmap_global()
            .filter(lo_ok & hi_ok)
            .select("docid", v.cast("double").alias("score"))
        )
        return self._minus_deletes(out)

    def sort_rescore(
        self,
        query,
        sort_dv: str,
        window: int = 100,
        k: int = 10,
        ascending: bool = False,
    ) -> DataFrame:
        """SortRescorer (core/src/java/org/apache/lucene/search/
        SortRescorer.java:35): run the relevance query, keep its top
        ``window`` hits, then RE-SORT that window by the named numeric
        doc-value (missing values last, ties by docid ASC — the
        FieldSortedHitQueue tie-break) and return the top ``k`` with the
        first-pass score preserved in ``score`` (the reference carries the
        original ScoreDoc.score through). The window is ≤``window`` rows,
        so the second pass is a broadcast-sized join + local sort."""
        first = self.search(query, k=window)
        dm = self._docmap_global().select(
            "docid", F.col("dv").getItem(sort_dv).alias("sort_val")
        )
        key = F.asc_nulls_last("sort_val") if ascending else (
            F.desc_nulls_last("sort_val")
        )
        return (
            first.join(dm, "docid", "left")
            .orderBy(key, F.asc("docid"))
            .limit(k)
            .select("docid", "sort_val", "score")
        )

    def blended_term_query(
        self,
        terms: list[str],
        boosts: list[float] | None = None,
        rewrite_method: str = "dismax",
        tie_breaker: float = 0.01,
    ):
        """BlendedTermQuery (core/src/java/org/apache/lucene/search/
        BlendedTermQuery.java:271-302): every term scores with ARTIFICIAL
        blended statistics — docFreq = max over the set, totalTermFreq =
        the sum (adjustFrequencies) — so cross-field/synonym variants rank
        as one term; the blended TermQueries combine per the rewrite
        method: ``"dismax"`` = DisjunctionMaxQuery with tie-break 0.01
        (DISJUNCTION_MAX_REWRITE, :190) or ``"boolean"`` = SHOULD sum
        (BOOLEAN_REWRITE, :138-148)."""
        if not terms:
            return MatchNoDocsQuery()
        if boosts is None:
            boosts = [1.0] * len(terms)
        stats = self._term_stats(list(terms))
        df = max(stats[t][0] for t in terms)
        ttf = sum(stats[t][1] for t in terms)
        subs = tuple(
            TermQuery(t, boost=b, df_override=df, ttf_override=ttf)
            for t, b in zip(terms, boosts)
        )
        if rewrite_method == "dismax":
            return DisjunctionMaxQuery(subs, tie_breaker=tie_breaker)
        if rewrite_method == "boolean":
            return BooleanQuery(should=subs)
        raise ValueError(f"unknown rewrite_method {rewrite_method!r}")

    def common_terms_query(
        self,
        text: str,
        max_term_frequency: float = 0.01,
        low_freq_occur: str = "should",
        high_freq_occur: str = "should",
        low_freq_min_should_match: float = 0.0,
        high_freq_min_should_match: float = 0.0,
        low_freq_boost: float = 1.0,
        high_freq_boost: float = 1.0,
    ):
        """CommonTermsQuery (queries/src/java/org/apache/lucene/queries/
        CommonTermsQuery.java:105-205): classify each analyzed term by its
        ACTUAL docFreq — high-frequency iff ``df > maxTermFrequency`` (when
        ≥1, an absolute count) or ``df > ceil(maxTermFrequency * maxDoc)``
        — then score low-freq terms as a required clause and high-freq
        terms as an optional boost, so stopword-like terms never gate
        recall but still contribute. Single term → plain TermQuery; all
        terms high-freq → the high-freq group becomes MUST (the
        slow-query guard, CommonTermsQuery.java:176-182)."""
        import math

        terms = [t.term for t in self._analyzer(text)]
        if not terms:
            return MatchNoDocsQuery()
        if len(terms) == 1:
            return TermQuery(terms[0])
        stats = self._term_stats(terms)
        max_doc = self.reader.global_stats[0]
        # (int) Math.ceil(maxTermFrequency * (float) maxDoc) — float32 mul
        cutoff = int(
            math.ceil(float(np.float32(max_term_frequency) * np.float32(max_doc)))
        )
        low, high = [], []
        for t in terms:
            df = stats[t][0]
            if (max_term_frequency >= 1.0 and df > max_term_frequency) or (
                df > cutoff
            ):
                high.append(TermQuery(t))
            else:
                low.append(TermQuery(t))

        def _msm(v: float, n_opt: int) -> int:
            if v >= 1.0 or v == 0.0:
                return int(v)
            return int(math.floor(v * n_opt + 0.5))  # Java Math.round

        low_msm = (
            _msm(low_freq_min_should_match, len(low))
            if low_freq_occur == "should" and low
            else 0
        )
        high_msm = (
            _msm(high_freq_min_should_match, len(high))
            if high_freq_occur == "should" and high
            else 0
        )
        if not low and high_msm == 0 and high_freq_occur != "must":
            high_freq_occur = "must"  # conjunction guard
        must, should = [], []
        if low:
            grp = (
                BooleanQuery(must=tuple(low))
                if low_freq_occur == "must"
                else BooleanQuery(should=tuple(low), min_should_match=low_msm)
            )
            must.append(boosted(grp, low_freq_boost))
        if high:
            grp = (
                BooleanQuery(must=tuple(high))
                if high_freq_occur == "must"
                else BooleanQuery(should=tuple(high), min_should_match=high_msm)
            )
            should.append(boosted(grp, high_freq_boost))
        return BooleanQuery(must=tuple(must), should=tuple(should))

    def combined_field_query(
        self,
        text: str,
        field_weights: dict[str, float] | None = None,
        boost: float = 1.0,
    ):
        """BM25F over ``field_weights`` (default: every field, weight 1.0)
        for each analyzed token of ``text`` — tokens combine as SHOULD
        clauses (CombinedFieldQuery.Builder.addTerm per token)."""
        if not self.fields:
            raise ValueError("combined_field_query needs a multi-field index")
        fw = field_weights or {f: 1.0 for f in self.fields}
        items = sorted(fw.items())
        toks = self._analyzer(text)
        leaves = tuple(
            CombinedFieldQuery(
                terms=tuple(field_term(f, t.term) for f, _w in items),
                exists_terms=tuple(exists_term(f) for f, _w in items),
                weights=tuple(float(w) for _f, w in items),
                boost=boost,
            )
            for t in toks
        )
        if not leaves:
            return MatchNoDocsQuery()
        if len(leaves) == 1:
            return leaves[0]
        return BooleanQuery(should=leaves)

    def _docmap_global(self) -> DataFrame:
        bases = [(int(s), int(b)) for s, b in self.reader.doc_bases.items()]
        base_df = self.spark.createDataFrame(bases, "segment_id int, doc_base long")
        return (
            self.reader.docmap.join(F.broadcast(base_df), "segment_id")
            .withColumn("docid", F.col("docid") + F.col("doc_base"))
            .drop("doc_base")
        )

    def _term_stats(self, terms: list[str]) -> dict[str, tuple[int, int]]:
        """Global (docFreq, totalTermFreq) of each of ``terms``, (0, 0) for
        a term no live segment holds. Uncached: a read costs milliseconds
        and no Spark job, so a long-lived Searcher keeps no per-term state."""
        got = self.reader.term_stats(terms)
        return {t: got.get(t, (0, 0)) for t in terms}

    def _cache_tag(self) -> str:
        """Index-generation tag for the worker-level filter LRU: digest of
        the manifest rows (the commit point), so any append/merge/rebuild
        — a new segments_N in Lucene terms — keys a fresh cache namespace
        with no cross-executor coordination."""
        tag = self.__dict__.get("_cache_tag_v")
        if tag is None:
            import hashlib

            sig = repr(self.reader.manifest_rows).encode()
            tag = (
                self.reader.index_dir
                + "#"
                + hashlib.md5(sig).hexdigest()[:16]
                + f"#{self.mode}"
            )
            self.__dict__["_cache_tag_v"] = tag
        return tag

    def _seg_meta(self) -> dict[int, tuple[int, int, int]]:
        """segment_id → (doc_base, min_docid, max_docid+1) — doc_base remaps
        local→global ids (0 when ids are already global, i.e. post-merge);
        the [min,max) stored-docid range bounds the docid slices of the
        task plan and the block-max window array. It is a span, not a doc
        list: compaction leaves gaps in it, so the docs a match-all visits
        come from the docmap (``read_slice(docs=True)``)."""
        bounds = self.reader.segment_bounds
        out: dict[int, tuple[int, int, int]] = {}
        for r in self.reader.manifest_rows:
            seg = int(r["segment_id"])
            lo, hi = bounds.get(seg, (0, -1))
            out[seg] = (int(r["doc_base"]), lo, hi + 1)
        return out

    # --- multi-term expansion (ScoringRewrite / TopTermsRewrite layer) ---
    def expand_multiterm(self, q, max_terms: int = 128):
        """``q`` with every multi-term leaf expanded against the term
        dictionary, and ``q`` itself when none of its nodes changes, so a
        parsed query with nothing to expand needs no second rewrite."""
        if isinstance(q, _MULTITERM):
            return self._expand_leaf(q, max_terms)
        if isinstance(q, FieldExistsQuery):
            # constant-score over the per-field existence list
            # (FieldExistsQuery.java:39 — norms-existence there)
            return ConstantScoreQuery(
                query=TermQuery(exists_term(q.field)), boost=q.boost
            )
        if isinstance(q, (IntervalNear, IntervalOr, IntervalFilter, IntervalAtLeast)):
            return self._expand_side(q)
        fields = next((f for t, f in _CHILDREN.items() if isinstance(q, t)), ())
        changed = {}
        for name in fields:
            old = getattr(q, name)
            if isinstance(old, tuple):
                new = tuple(self.expand_multiterm(c, max_terms) for c in old)
                if any(a is not b for a, b in zip(old, new)):
                    changed[name] = new
            elif (new := self.expand_multiterm(old, max_terms)) is not old:
                changed[name] = new
        return dataclasses.replace(q, **changed) if changed else q

    def _expand_side(self, side):
        """Expand an interval source (an IntervalNear, IntervalOr,
        IntervalFilter or IntervalAtLeast); ``side`` itself when nothing
        in it expands."""
        if isinstance(side, IntervalAtLeast):
            return self._expand_atleast(side)
        if isinstance(side, IntervalOr):
            sources = tuple(self._expand_side(s) for s in side.sources)
            if all(a is b for a, b in zip(sources, side.sources)):
                return side
            return dataclasses.replace(side, sources=sources)
        if isinstance(side, IntervalFilter):
            source = self._expand_side(side.source)
            reference = self._expand_side(side.reference)
            if source is side.source and reference is side.reference:
                return side
            return dataclasses.replace(side, source=source, reference=reference)
        return self._expand_interval_leaves(side)

    def _expand_atleast(self, q):
        """Term-dict expansion inside Intervals.atLeast sources. A source
        whose multiterm leaf expands to nothing keeps its place in the
        source list (the reference's per-source intervals() just returns
        no intervals for it) as a never-matching sentinel term."""
        if not q._has_multiterm():
            return q
        new_sources = []
        for s in q.sources:
            near = s if isinstance(s, IntervalNear) else IntervalNear((s,))
            ex = self._expand_interval_leaves(near)
            if not isinstance(ex, IntervalNear):  # impossible slot
                new_sources.append(_NO_MATCH_TERM)
            elif isinstance(s, IntervalNear):
                new_sources.append(ex)
            else:
                new_sources.append(ex.terms[0])
        return dataclasses.replace(q, sources=tuple(new_sources))

    def _expand_interval_leaves(self, q):
        """Resolve Intervals.prefix / Intervals.wildcard slot leaves
        (Intervals.java:236,255) against the term dict: each becomes the
        Intervals.or tuple of its matching terms (sorted — deterministic
        weight). Zero matches → MatchNoDocsQuery is NOT correct here (the
        slot is conjunctive), so the slot becomes impossible and the whole
        source matches nothing; more than max_expansions matches raises,
        like the reference's too-many-terms IllegalStateException."""
        from .query import IntervalPrefix, IntervalWildcard

        if not q._has_multiterm():
            return q

        def expand(leaf):
            if isinstance(leaf, IntervalPrefix):
                terms = self.reader.expand_terms(
                    prefix=leaf.prefix, max_terms=leaf.max_expansions + 1
                )
            elif isinstance(leaf, IntervalWildcard):
                lit, rx = wildcard_to_regex(leaf.pattern)
                terms = self.reader.expand_terms(
                    prefix=lit or None, pattern=rx,
                    max_terms=leaf.max_expansions + 1,
                )
            else:
                return (leaf,)
            if len(terms) > leaf.max_expansions:
                raise ValueError(
                    f"interval leaf {leaf!r} expands to more than "
                    f"{leaf.max_expansions} terms"
                )
            return tuple(sorted(terms))

        new_slots = []
        for s in q.terms:
            items = s if isinstance(s, tuple) else (s,)
            alts: list = []
            for it in items:
                alts.extend(expand(it))
            if not alts:
                return MatchNoDocsQuery()
            new_slots.append(tuple(alts) if len(alts) > 1 else alts[0])
        return dataclasses.replace(q, terms=tuple(new_slots))

    def _expand_leaf(self, q, max_terms: int):
        if isinstance(q, PrefixQuery):
            terms = self.reader.expand_terms(prefix=q.prefix, max_terms=max_terms)
            if not terms:
                return MatchNoDocsQuery()
            return BooleanQuery(should=tuple(TermQuery(t, q.boost) for t in terms))
        if isinstance(q, WildcardQuery):
            lit, rx = wildcard_to_regex(q.pattern)
            terms = self.reader.expand_terms(
                prefix=lit or None, pattern=rx, max_terms=max_terms
            )
            if not terms:
                return MatchNoDocsQuery()
            return BooleanQuery(should=tuple(TermQuery(t, q.boost) for t in terms))
        if isinstance(q, RegexpQuery):
            pfx, rx = "", q.pattern
            if self.fields:
                # the regex applies to the token, anchored inside its field's
                # namespace: the parser keys the pattern into its field, and
                # a bare pattern searches the default field
                cut = rx.find(FIELD_SEP) + 1
                pfx = rx[:cut] if cut else field_term(self.default_field, "")
                rx = rx[cut:]
            if not rx.startswith("^"):
                rx = "^" + rx
            if not rx.endswith("$"):
                rx = rx + "$"
            import re as _re

            rx = "^" + _re.escape(pfx) + rx[1:]
            terms = self.reader.expand_terms(
                prefix=pfx or None, pattern=rx, max_terms=max_terms
            )
            if not terms:
                return MatchNoDocsQuery()
            return BooleanQuery(should=tuple(TermQuery(t, q.boost) for t in terms))
        if isinstance(q, TermRangeQuery):
            # ``[* TO *]`` carries no key to name its field: the default one
            open_all = self.fields and q.lower is None and q.upper is None
            terms = self.reader.expand_terms(
                prefix=field_term(self.default_field, "") if open_all else None,
                low=q.lower,
                high=q.upper,
                include_low=q.include_lower,
                include_high=q.include_upper,
                max_terms=max_terms,
            )
            if not terms:
                return MatchNoDocsQuery()
            return BooleanQuery(should=tuple(TermQuery(t, q.boost) for t in terms))
        if isinstance(q, PhrasePrefixQuery):
            # final slot = prefix expansion, sorted for a deterministic
            # MultiPhraseQuery weight (PhraseWildcardQuery.java:155-163
            # rewrite-to-MultiPhraseQuery path)
            from .query import MultiPhraseQuery

            terms = self.reader.expand_terms(
                prefix=q.prefix, max_terms=min(max_terms, q.max_expansions)
            )
            if not terms:
                return MatchNoDocsQuery()
            slots = tuple((t,) for t in q.terms) + (tuple(sorted(terms)),)
            return MultiPhraseQuery(slots=slots, boost=q.boost)
        if isinstance(q, PhraseWildcardQuery):
            # wildcard at ANY slot → per-slot dict expansion, then the
            # MultiPhraseQuery rewrite (PhraseWildcardQuery.java:155-163)
            from .query import MultiPhraseQuery

            slots: list[tuple[str, ...]] = []
            for s in q.slots:
                if "*" in s or "?" in s:
                    lit, rx = wildcard_to_regex(s)
                    terms = self.reader.expand_terms(
                        prefix=lit or None,
                        pattern=rx,
                        max_terms=min(max_terms, q.max_expansions),
                    )
                    if not terms:
                        return MatchNoDocsQuery()
                    slots.append(tuple(sorted(terms)))
                else:
                    slots.append((s,))
            return MultiPhraseQuery(slots=tuple(slots), boost=q.boost)
        return self._expand_fuzzy(q, max_terms)  # FuzzyQuery (only leaf left)

    def _fuzzy_matches(
        self, target: str, max_edits: int, prefix_length: int, ns: str = ""
    ) -> list[tuple[str, int, int]]:
        """All within-max_edits term-dict entries of ``target`` in namespace
        ``ns`` as (term, edits, df) (the shared FuzzyTermsEnum analog,
        ``IndexReader.fuzzy_terms``)."""
        return self.reader.fuzzy_terms(target, max_edits, prefix_length, ns)

    def fuzzy_like_this(
        self,
        query_text: str,
        max_num_terms: int = 50,
        max_edits: int = 1,
        prefix_length: int = 0,
        max_variants_per_term: int = 10,
    ):
        """FuzzyLikeThisQuery (sandbox/src/java/org/apache/lucene/sandbox/
        queries/FuzzyLikeThisQuery.java:192-333): for each analyzed query
        term, enumerate fuzzy variants and keep the best
        MAX_VARIANTS_PER_TERM by similarity boost; the per-source idf
        factor uses the SOURCE term's docFreq, falling back to the
        integer-average of all variant dfs when the source is absent
        (:235-240); each kept variant scores
        ``boost² · ClassicSimilarity.idf(df, numDocs)`` (:248) and the
        global best ``maxNumTerms`` variants become SHOULD TermQueries
        whose df and ttf are overridden to 1 (newTermQuery:258-274), so
        rare-typo variants don't dominate through their own idf.

        Deviation (documented): the reference nests each source term's
        variants in an inner SHOULD group; this flattens to one SHOULD
        list sorted by term — identical scores up to float association,
        which the flat term-ascending order fixes deterministically for
        the SQL oracle."""
        import math

        seen: set[str] = set()
        terms: list[str] = []
        for t in self._analyzer(query_text):
            if t.term not in seen:
                seen.add(t.term)
                terms.append(t.term)
        n_docs = int(self.reader.global_stats[0])
        selected: list[tuple[float, str]] = []
        for src in terms:
            variants = self._fuzzy_matches(src, max_edits, prefix_length)
            if not variants:
                continue
            df0 = next((df for t, e, df in variants if t == src), 0)
            if df0 == 0:
                df0 = sum(df for _t, _e, df in variants) // len(variants)
            idf = math.log((n_docs + 1) / (df0 + 1)) + 1.0
            scored = sorted(
                ((fuzzy_similarity(e, t, src), t) for t, e, _df in variants),
                key=lambda x: (-x[0], x[1]),
            )[:max_variants_per_term]
            selected.extend((b * b * idf, t) for b, t in scored)
        if not selected:
            return MatchNoDocsQuery()
        selected.sort(key=lambda x: (-x[0], x[1]))
        selected = selected[:max_num_terms]
        selected.sort(key=lambda x: x[1])
        return BooleanQuery(
            should=tuple(
                TermQuery(t, boost=s, df_override=1, ttf_override=1)
                for s, t in selected
            )
        )

    def _expand_fuzzy(self, q: FuzzyQuery, max_terms: int):
        """Prefix range + length band, then a vectorized OSA verification of
        every candidate on the driver (``_fuzzy_matches``), so only true
        within-max_edits terms are kept — no pre-verification candidate cap
        to silently drop matches on a large vocabulary, the analog of
        FuzzyQuery's automaton-intersects-term-dict
        (search/FuzzyQuery.java:52); ranking + max_terms cap happen after,
        as in TopTermsBlendedFreqScoringRewrite."""
        target = q.term
        ns = ""  # field namespace: edit distance applies to the token only
        if FIELD_SEP in target:
            f, target = target.split(FIELD_SEP, 1)
            ns = f + FIELD_SEP
        matched = self._fuzzy_matches(target, q.max_edits, q.prefix_length, ns)
        if not matched:
            return MatchNoDocsQuery()
        # TopTermsRewrite heap: best boost first, then highest df
        matched.sort(key=lambda m: (-fuzzy_similarity(m[1], m[0], target), -m[2], m[0]))
        matched = matched[:max_terms]
        blended_df = max(df for _t, _e, df in matched)
        return BooleanQuery(
            should=tuple(
                TermQuery(
                    t,
                    boost=q.boost * fuzzy_similarity(e, t, target),
                    df_override=blended_df,
                )
                for t, e, _df in matched
            )
        )

    def _prepared(self, query, max_terms: int = 128, analyzer: str | None = None):
        parsed = isinstance(query, str)
        if parsed:
            if analyzer is not None:
                # per-call analyzer override: analyze THIS query with the
                # named chain (the query-side of per-document language
                # routing — pick the chain per query language; index-side
                # routing is build_index lang_col/lang_analyzers)
                from functools import partial as _partial

                from ..index.builder import get_analyzer

                query = parse_query(
                    query,
                    _partial(get_analyzer(analyzer), stopwords=self._stopwords),
                    fmap=self._fmap(),
                )
            else:
                query = self.parse(query)
        elif analyzer is not None:
            # a Query object carries its terms already analyzed — silently
            # ignoring the override would mask a caller bug
            raise ValueError(
                "analyzer= applies only to string queries; "
                f"got {type(query).__name__}"
            )
        expanded = self.expand_multiterm(query, max_terms)
        # parse_query rewrote a string query to a fixpoint already
        return expanded if parsed and expanded is query else rewrite(expanded)

    def _make_scorers(self, queries: list, tstats: dict, est: dict | None = None) -> dict:
        """Scorers of ``queries`` from ``tstats``, the ``_term_stats`` of
        their terms, and, on a multi-field index, ``est``, those of the
        fields' existence terms (read here when not given)."""
        doc_count, sum_ttf = self.reader.global_stats
        if doc_count == 0:
            return {}
        field_stats = None
        if self.fields:
            # per-field CollectionStatistics from the existence lists
            # (df = docCount(field), ttf = sumTotalTermFreq(field))
            if est is None:
                est = self._term_stats([exists_term(f) for f in self.fields])
            field_stats = {f: est[exists_term(f)] for f in self.fields}
        return build_scorers(
            queries, tstats, doc_count, sum_ttf, self.mode, field_stats=field_stats
        )

    def _slices(self, queries: list, body, schema, scored: bool = True):
        """The one plan behind search, search_many, search_all and count
        (IndexSearcher.search(Query, CollectorManager)): global stats for
        the union of the queries' terms, then driver-planned (segment,
        docid slice) tasks, each reading its own rows
        (``index.reader.read_slice``) and running ``body`` on its
        SegmentContext. Only where the tasks run depends on their size, as
        IndexSearcher runs its leaf slices on the caller thread when it has
        no executor: a plan that ``_on_driver`` finds sooner in this
        process runs here, and its rows come back as a pandas DataFrame;
        any other comes back as the lazy one-stage ``mapInPandas``
        DataFrame. ``scored=False`` builds no scorers (count needs none); a
        plan with no term and no match-all plans no task."""
        terms = sorted(set().union(*(collect_terms(q) for q in queries)))
        match_all, docs, positions, payloads, whole = _plan_reads(queries)
        seg_meta = self._seg_meta() if terms or match_all else {}
        if seg_meta and not match_all:
            # Bloom segment-skip (index/blooms.py): a segment whose bloom
            # rules out every query term gets no task; a match-all can
            # match docs of a segment that holds none of the terms
            from ..index.blooms import bloom_candidate_segments

            cand = bloom_candidate_segments(
                self.reader.term_blooms, sorted(seg_meta), terms
            )
            if cand is not None:
                seg_meta = {seg: seg_meta[seg] for seg in cand}
        # block-join trees evaluate on whole segments
        span = None if whole else self._slice_span()
        tasks = plan_slices(seg_meta, span)
        if not tasks:
            return _arrow_schema(schema).empty_table().to_pandas()
        # the call's one term-dictionary read: global stats, the field
        # existence stats of a multi-field index and the pulsed singletons
        # its tasks take for their docid ranges
        exists = tuple(exists_term(f) for f in self.fields) if scored and self.fields else ()
        got, singles = self.reader.term_plan(terms, positions, payloads, stats_only=exists)
        tstats = {t: got.get(t, (0, 0)) for t in terms}
        scorers = (
            self._make_scorers(queries, tstats, {t: got.get(t, (0, 0)) for t in exists})
            if scored else {}
        )
        # column pruning: positions/payloads are read only for queries that
        # consume them
        skip = {"positions_enc": not positions, "payloads_enc": not payloads}
        # whether deletes exist is the reader's view: the first tombstone
        # write (add_deletes_by_query) runs these tasks while it creates
        # the directory
        read = partial(
            read_slice,
            self.reader.index_dir,
            self.reader.deletes_dir,
            terms=terms,
            cols=[c for c in POSTINGS_COLS if not skip.get(c)],
            docs=docs,
            singles={s: v for s, v in singles.items() if s in seg_meta},
        )
        tag = self._cache_tag()
        run = partial(
            _run_slice, tasks=tasks, read=read, body=body, scorers=scorers,
            seg_meta=seg_meta, cache_tag=tag,
        )
        postings = sum(df for df, _ttf in tstats.values())
        n = len(tasks)
        work = _driver_ms(tasks, postings, positions, docs)
        if _on_driver(work, n, self.spark.sparkContext.defaultParallelism):
            ids = pd.DataFrame({"id": np.arange(n)})
            return pd.concat(list(run([ids])), ignore_index=True)
        return self.spark.range(0, n, 1, n).mapInPandas(run, schema=schema)

    # --- search ---------------------------------------------------------
    def search(
        self,
        query,
        k: int = 10,
        with_url: bool = False,
        after: tuple[float, int] | None = None,
        analyzer: str | None = None,
    ) -> DataFrame:
        """Top ``k`` hits (docid, score), or (docid, url, score) with
        ``with_url``, by (score DESC, docid ASC); ``after=(score, docid)``
        pages past that anchor (searchAfter). The tasks run and their hits
        are merged during this call, in the driver process or as one Spark
        stage; the returned DataFrame holds the merged rows."""
        query = self._prepared(query, analyzer=analyzer)
        body = partial(_top_k_body, query=query, k=k, after=after)
        top = _top(_to_pandas(self._slices([query], body, SEARCH_HIT_SCHEMA)), k)
        if with_url:
            return self._local_rows(URL_HIT_SCHEMA, self._with_urls(top))
        return self._local_rows(SEARCH_HIT_SCHEMA, top)

    def search_many(self, queries: dict[str, object], k: int = 10) -> DataFrame:
        """Batched top-k for many queries in at most ONE Spark job.

        This is the engine's query-throughput path: postings for the union
        of all query terms are scanned once, each segment evaluates every
        query against its per-term decode cache and emits ≤ k hits per
        query, and the driver merges those into the top-k per query
        (TopDocs.merge) — amortizing job/scan overhead across the batch
        (the Spark analog of Lucene's SearchTask loop throughput,
        benchmark/byTask/tasks/SearchTask.java). The tasks run during this
        call, in the driver process when that is sooner than a Spark
        wave; the returned DataFrame holds the merged rows.

        Returns (query_id, docid, score), k rows per query, ordered within
        each query by (score DESC, docid ASC): the rows ``search(q, k)``
        gives.
        """
        parsed = {qid: self._prepared(q) for qid, q in queries.items()}
        body = partial(_batch_body, queries=parsed, k=k)
        schema = "query_id string, docid long, score double"
        hits = _to_pandas(self._slices(list(parsed.values()), body, schema))
        top = (
            hits.sort_values(
                ["query_id", "score", "docid"], ascending=[True, False, True]
            )
            .groupby("query_id", sort=False)
            .head(k)
        )
        return self._local_rows(schema, top)

    def search_all(self, query) -> DataFrame:
        """All matching (docid, score) rows, distributed (no top-k cut) —
        the building block for field-sort / rescoring / function scoring."""
        query = self._prepared(query)
        body = partial(_all_body, query=query)
        hits = self._slices([query], body, SEARCH_HIT_SCHEMA)
        if isinstance(hits, DataFrame):
            return hits
        return self._local_rows(SEARCH_HIT_SCHEMA, hits)

    def search_sorted_by(
        self,
        query,
        sort_col: str = "doc_len",
        ascending: bool = False,
        k: int = 10,
        after: tuple | None = None,
    ) -> DataFrame:
        """Top-k by an arbitrary stored field instead of relevance — the
        TopFieldCollector analog (search/TopFieldCollector.java): matching
        doc set joined to the docmap column, ``orderBy(field, docid)`` →
        Spark's TakeOrderedAndProject. Returns (docid, <sort_col>).

        On an index built with ``index_sort`` matching the requested sort,
        the query EARLY-TERMINATES per segment (TopFieldCollector
        canEarlyTerminate): docid order within a segment IS the sort order,
        so only the k lowest matching docids per segment survive to the
        docmap join — the join input shrinks from |matches| to segments·k
        rows, and the global cut stays a TakeOrderedAndProject. BOTH paths
        tie-break equal field values by url ASC — the stable doc key, so
        the result is identical whichever path runs AND invariant to the
        index's physical layout (segment count / docid assignment), unlike
        Lucene's docid tie-break which differs between a sorted and an
        unsorted index of the same corpus.

        ``after=(field_value, docid)`` pages past a previous page's last hit
        — the FieldDoc form of searchAfter (IndexSearcher.searchAfter with a
        Sort, search/FieldComparator analog): strictly worse in the sort
        order; ties resolved by the anchor doc's url so paging follows the
        same url-secondary total order.

        ``sort_col="dv:<name>"`` sorts by the named numeric doc-value
        stored at build time (``build_index(doc_values=...)``, the
        SortField(name, Type.DOUBLE) analog); docs missing the value sort
        after every present value in either direction (nulls-last, Lucene's
        missing-value default). Output column is ``dv_<name>``."""
        requested = sort_col
        if sort_col.startswith("dv:"):
            dv_name = sort_col.split(":", 1)[1]
            out_name = f"dv_{dv_name}"
            sort_expr = F.col("dv").getItem(dv_name).alias(out_name)
            sort_col = out_name
        else:
            sort_expr = F.col(sort_col)
        hits = self.search_all(query).select("docid")
        if after is not None:
            av, ad = float(after[0]), int(after[1])
            if ad < 0:
                # sentinel anchor (docid -1): before every url
                a_url = ""
            else:
                a_row = (
                    self._docmap_global()
                    .filter(F.col("docid") == ad)
                    .select("url")
                    .first()
                )
                if a_row is None:
                    raise ValueError(
                        f"searchAfter anchor docid {ad} not in index"
                    )
                a_url = a_row["url"]
            dm_a = self._docmap_global().select("docid", sort_expr, "url")
            strictly = (
                (F.col(sort_col) > av) if ascending else (F.col(sort_col) < av)
            )
            tie = (F.col(sort_col) == av) & (F.col("url") > a_url)
            hits = (
                hits.join(dm_a, "docid").filter(strictly | tie).select("docid")
            )
        if self.index_sort == requested and not ascending and after is None:
            from pyspark.sql.window import Window as _W

            seg_df = self.spark.createDataFrame(
                [
                    (int(s), int(b) + int(mn), int(b) + int(mx))
                    for s, (b, mn, mx) in self._seg_meta().items()
                ],
                "segment_id int, lo long, hi long",
            )
            h = hits.join(
                F.broadcast(seg_df),
                (hits.docid >= F.col("lo")) & (hits.docid < F.col("hi")),
            )
            rn = F.row_number().over(
                _W.partitionBy("segment_id").orderBy(F.asc("docid"))
            )
            top = h.withColumn("_rn", rn).filter(F.col("_rn") <= k)
            dm = self._docmap_global().select("docid", sort_expr, "url")
            out = top.join(dm, "docid")
            return (
                out.orderBy(F.desc_nulls_last(sort_col), F.asc("url"))
                .limit(k)
                .select("docid", sort_col)
            )
        dm = self._docmap_global().select("docid", sort_expr, "url")
        out = hits.join(dm, "docid")
        order = (
            F.asc_nulls_last(sort_col) if ascending else F.desc_nulls_last(sort_col)
        )
        return (
            out.orderBy(order, F.asc("url")).limit(k).select("docid", sort_col)
        )

    def rescore(
        self,
        query,
        rescore_query,
        k: int = 10,
        window: int = 100,
        weight: float = 1.0,
    ) -> DataFrame:
        """QueryRescorer (search/QueryRescorer.java): re-rank the top
        ``window`` first-pass hits with ``first + weight·second`` where
        ``second`` is the rescore query's score on those docs (0 when it
        doesn't match). The window is driver-sized (≤ window rows); the
        second pass joins it against the rescore query's distributed
        scores."""
        first = self.search(query, k=window).withColumnRenamed("score", "s1")
        second = self.search_all(rescore_query).withColumnRenamed("score", "s2")
        return (
            first.join(second, "docid", "left")
            .select(
                "docid",
                (
                    F.col("s1") + F.lit(float(weight)) * F.coalesce("s2", F.lit(0.0))
                ).alias("score"),
            )
            .orderBy(F.desc("score"), F.asc("docid"))
            .limit(k)
        )

    def indri_and(
        self,
        terms: list[str],
        boosts: list[float] | None = None,
        k: int = 10,
        mu: float = 2000.0,
    ) -> DataFrame:
        """IndriAndQuery (core/src/java/org/apache/lucene/search/
        IndriAndQuery.java + IndriAndScorer.java:45-73): the boost-weighted
        MEAN of per-term Indri Dirichlet log-probabilities over the UNION
        of the terms' postings — a term absent from a doc contributes its
        SMOOTHING score, TermScorer.smoothingScore(:98-104) = score(freq=0,
        that doc's norm) = ln(mu·cp/(dl+mu)). This is Indri's #combine:
        every union doc gets a full query likelihood, so documents missing
        a rare term are penalized by that term's collection probability
        instead of being excluded (AND semantics in log-space).

        Requires ``mode='indri_dirichlet'`` (the reference query only
        accepts IndriScorer children). Spark shape: one postings scan per
        term through the standard scorer path, full-outer-joined on docid
        (the union), smoothing filled JVM-side from the docmap's norm byte
        — no Python in the per-doc path; top-k is a
        TakeOrderedAndProject."""
        from ..functions.smallfloat import BYTE4_DECODE_TABLE
        from .query import TermQuery

        if self.mode != "indri_dirichlet":
            raise ValueError("indri_and requires mode='indri_dirichlet'")
        boosts = [float(b) for b in (boosts or [1.0] * len(terms))]
        ns = self._default_ns()
        stats = self._term_stats([ns + t for t in terms])
        _, sum_ttf = self.reader.global_stats
        sum_ttf = max(sum_ttf, 1)
        joined = None
        for i, t in enumerate(terms):
            df_t = self.search_all(TermQuery(t)).withColumnRenamed(
                "score", f"s_{i}"
            )
            joined = (
                df_t if joined is None else joined.join(df_t, "docid", "full")
            )
        qdl_arr = F.array(*[F.lit(float(v)) for v in BYTE4_DECODE_TABLE])
        out = (
            joined.join(self._docmap_global().select("docid", "norm"), "docid")
            .withColumn(
                "qdl",
                F.element_at(
                    qdl_arr, F.col("norm").bitwiseAND(F.lit(255)) + F.lit(1)
                ),
            )
        )
        num = F.lit(0.0)
        for i, (t, b) in enumerate(zip(terms, boosts)):
            _, ttf = stats[ns + t]
            mu_cp = mu * (ttf / sum_ttf)
            smooth = F.log(F.lit(mu_cp) / (F.col("qdl") + F.lit(mu)))
            num = num + F.lit(b) * F.coalesce(F.col(f"s_{i}"), smooth)
        bsum = sum(boosts)
        return (
            out.select("docid", (num / F.lit(bsum)).alias("score"))
            .orderBy(F.desc("score"), F.asc("docid"))
            .limit(k)
        )

    def function_score(
        self, query, score_expr: str, k: int = 10
    ) -> DataFrame:
        """FunctionScoreQuery (queries/function/FunctionScoreQuery.java:44):
        replace the relevance score with a SQL expression over ``score`` and
        docmap columns (url, doc_len, norm) — Spark SQL is the
        DoubleValuesSource. Ranking is by the NEW score, so evaluation is
        exhaustive-then-top-k (a FunctionScoreQuery cannot use relevance
        pruning either)."""
        hits = self.search_all(query)
        dm = self._docmap_global()
        return (
            hits.join(dm, "docid")
            .withColumn("fscore", F.expr(score_expr))
            .select("docid", F.col("fscore").alias("score"))
            .orderBy(F.desc("score"), F.asc("docid"))
            .limit(k)
        )

    def distance_feature(
        self,
        query,
        field: str,
        origin: float,
        pivot: float,
        weight: float = 1.0,
        k: int = 10,
    ) -> DataFrame:
        """DistanceFeatureQuery over a numeric doc-value
        (document/LongDistanceFeatureQuery.java:121,265-266, built by
        LongField.newDistanceFeatureQuery): the feature clause scores

            weight · pivot / (pivot + |value − origin|)

        and is combined as the canonical BooleanQuery SHOULD next to the
        matching ``query`` (the boost-by-recency/proximity pattern), so a
        hit's score is ``query_score + feature``; a doc missing the
        doc-value gets no feature contribution (the SHOULD simply doesn't
        match, LongDistanceFeatureQuery's DocValuesIterator skip).

        Lucene prunes via point-tree distance buckets; here the feature is
        one whole-stage-codegen expression over the docmap join the scoring
        already pays, and ranking by the combined score is
        exhaustive-then-top-k like function_score."""
        if not (pivot > 0):
            raise ValueError(f"pivotDistance must be > 0, got {pivot}")
        expr = (
            f"score + coalesce({float(weight)!r} * ({float(pivot)!r}"
            f" / ({float(pivot)!r} + abs(dv['{field}'] - {float(origin)!r})))"
            ", 0.0)"
        )
        return self.function_score(query, expr, k=k)

    def expression_score(
        self,
        query,
        source: str,
        bindings: dict[str, str] | None = None,
        k: int = 10,
    ) -> DataFrame:
        """Expression-language FunctionScoreQuery (expressions/Expression.java,
        js/JavascriptCompiler.java): ``source`` is a Lucene-expressions string
        (``_score * (prio > 100 ? 1.5 : 1.0) + ln(1 + prio)``), compiled once
        to a Spark SQL arithmetic tree — Catalyst is the bytecode compiler,
        so the expression runs JVM-side inside whole-stage codegen.

        Bindings (expressions/Bindings.java): ``_score`` is pre-bound to the
        relevance score; any other free variable defaults to the numeric
        doc-value of the same name (``DoubleValuesSource.fromDoubleField``),
        overridable via ``bindings`` with any SQL over the docmap columns."""
        from .expressions import compile_expression

        expr = compile_expression(source)
        b = {"_score": "score"}
        for v in expr.variables:
            if v == "_score":
                continue
            b[v] = (bindings or {}).get(v, f"dv['{v}']")
        return self.function_score(query, expr.sql(b), k=k)

    def covering(
        self, queries: list, min_match_expr: str, k: int = 10
    ) -> DataFrame:
        """CoveringQuery (queries/CoveringQuery.java:47): a doc matches when
        at least ``minimumNumberMatch`` of the clauses match it, where the
        threshold is a PER-DOC long — here a Spark SQL expression over the
        docmap columns (url, doc_len, norm), the LongValuesSource.fromLongField
        analog. Score = sum of the matching clauses' scores, accumulated
        left-associatively in clause order (CoveringScorer sums subscorers in
        iteration order), so double-mode scores are bit-comparable to an
        oracle using the same chain."""
        per_clause = [
            self.search_all(q).select(
                "docid", F.col("score").alias(f"_cs{i}")
            )
            for i, q in enumerate(queries)
        ]
        joined = per_clause[0]
        for d in per_clause[1:]:
            joined = joined.join(d, "docid", "outer")
        score = F.lit(0.0)
        matched = F.lit(0)
        for i in range(len(queries)):
            c = F.col(f"_cs{i}")
            score = score + F.coalesce(c, F.lit(0.0))
            matched = matched + c.isNotNull().cast("int")
        dm = self._docmap_global()
        out = (
            joined.withColumn("score", score)
            .withColumn("_matched", matched)
            .join(dm, "docid")
            .filter(F.col("_matched") >= F.expr(min_match_expr))
            .select("docid", "score")
        )
        return out.orderBy(F.desc("score"), F.asc("docid")).limit(k)

    def count(self, query) -> int:
        """Total hit count (TotalHitCountCollector analog) — per-segment
        docid-set sizes summed, no scoring, no top-k. ``count("*")`` reads
        only metadata (``IndexReader.live_doc_count``)."""
        query = self._prepared(query)
        if isinstance(query, MatchAllDocsQuery):
            return self.reader.live_doc_count()
        body = partial(_count_body, query=query)
        rows = self._slices([query], body, "n long", scored=False)
        return int(_to_pandas(rows)["n"].sum())

    def explain(self, query, docid: int) -> dict:
        """IndexSearcher.explain analog (search/IndexSearcher.java explain →
        Weight.explain): a nested explanation tree for why ``docid`` scores
        what it scores — {match, value, description, details}. Every node's
        value comes from the REAL evaluator restricted to the doc (not a
        re-derivation), so ``explain(q, d)["value"]`` equals the score
        ``search(q)`` would give d, clause by clause. A debugging API: one
        small job per query node."""
        q = self._prepared(query)
        return self._explain_node(q, int(docid))

    def _node_value(self, q, docid: int):
        rows = (
            self.search_all(q).filter(F.col("docid") == docid).collect()
        )
        return float(rows[0]["score"]) if rows else None

    def _explain_node(self, q, docid: int) -> dict:
        name = type(q).__name__
        details: list[dict] = []
        if isinstance(q, BooleanQuery):
            for c in q.must:
                details.append({**self._explain_node(c, docid), "clause": "MUST"})
            for c in q.should:
                details.append({**self._explain_node(c, docid), "clause": "SHOULD"})
            for c in q.must_not:
                sub = self._explain_node(c, docid)
                details.append(
                    {
                        "match": not sub["match"],
                        "value": 0.0,
                        "description": f"MUST_NOT({sub['description']})",
                        "clause": "MUST_NOT",
                        "details": [sub],
                    }
                )
            desc = (
                f"BooleanQuery(must={len(q.must)}, should={len(q.should)}, "
                f"must_not={len(q.must_not)}, msm={q.min_should_match}): "
                "sum of matching clauses"
            )
        elif isinstance(q, DisjunctionMaxQuery):
            for c in q.disjuncts:
                details.append(self._explain_node(c, docid))
            desc = f"DisjunctionMax(tie={q.tie_breaker}): max + tie·others"
        elif isinstance(q, ConstantScoreQuery):
            details.append(self._explain_node(q.query, docid))
            desc = f"ConstantScore(boost={q.boost})"
        else:
            term = getattr(q, "term", None) or getattr(q, "terms", None)
            desc = f"{name}({term!r})" if term is not None else name
        v = self._node_value(q, docid)
        return {
            "match": v is not None,
            "value": v if v is not None else 0.0,
            "description": desc,
            "details": details,
        }

    def count_with_relation(
        self, query, total_hits_threshold: int = 1_000
    ) -> tuple[int, str]:
        """TotalHits semantics (search/TotalHits.java, IndexSearcher
        TOTAL_HITS_THRESHOLD=1000 default — IndexSearcher.java:100): an exact
        count is only promised up to the threshold; past it the collector
        reports a LOWER BOUND and stops counting. Returns ``(value,
        relation)`` with relation ``"EQUAL_TO"`` or
        ``"GREATER_THAN_OR_EQUAL_TO"``. The distributed count is already
        scoring-free set algebra (one long per slice), so unlike Lucene
        there is nothing left to early-terminate — the threshold here fixes
        the REPORTING contract callers rely on when swapping engines."""
        n = self.count(query)  # per-slice docid-set sizes, no scoring
        if n <= total_hits_threshold:
            return n, "EQUAL_TO"
        return total_hits_threshold, "GREATER_THAN_OR_EQUAL_TO"

    def _with_urls(self, top: pd.DataFrame) -> pd.DataFrame:
        """(docid, url, score) of the ≤ k hits ``top``, in its order: the
        urls are read with pyarrow from the docmap partitions of the hits'
        segments, so no Spark job runs."""
        docid = top["docid"].to_numpy(dtype=np.int64)
        url = np.empty(len(top), dtype=object)
        for seg, (base, lo, hi) in self._seg_meta().items():
            mine = np.flatnonzero((docid >= base + lo) & (docid < base + hi))
            if mine.size:
                got = self.reader.doc_urls(seg, docid[mine] - base)
                url[mine] = [got[d] for d in docid[mine] - base]
        return pd.DataFrame(
            {"docid": docid, "url": url, "score": top["score"].to_numpy()}
        )

    def _local_rows(self, schema, pdf: pd.DataFrame | None = None) -> DataFrame:
        """The rows of ``pdf`` (none when None) as a DataFrame of ``schema``
        (a StructType or DDL string), made from an Arrow table: a local
        relation, so collecting it runs no Spark job and starts no Python
        worker."""
        st = DataType.fromDDL(schema) if isinstance(schema, str) else schema
        arrow = _arrow_schema(st)
        table = (
            arrow.empty_table() if pdf is None
            else pa.Table.from_pandas(pdf, schema=arrow, preserve_index=False)
        )
        return self.spark.createDataFrame(table, st)

    def _empty_hits(self) -> DataFrame:
        return self._local_rows(SEARCH_HIT_SCHEMA)
