"""Per-segment query evaluation — vectorized numpy over decoded blocks.

This is the per-leaf search of IndexSearcher.searchLeaf (reference:
lucene/core/src/java/org/apache/lucene/search/IndexSearcher.java:820-860)
re-expressed batch-wise: a segment's postings blocks for the query terms
arrive as the numpy columns of one pyarrow read (``index.reader.read_slice``;
colocated by the index layout — no shuffle).
The first read that needs every block row of the batch decodes them all at
once into flat doc, freq and norm arrays (``codecs.blocks.decode_rows``: a
fixed number of numpy passes, however many terms and blocks), and positions
and payloads on their first read, in one more pass. Every postings read is
then a slice or gather of those arrays; the windowed top-k below reads
only the blocks of the windows it visits, and decodes only those:

- boolean: BooleanScorer's bucket array, one window as wide as the task's
  docid slice (``MAX_SPAN`` bounds it). Each clause's slice-relative docids
  and scores scatter-add into span-sized score and match-count arrays, and
  only the touched entries are reset; a term's slice-relative docids and
  scores are memoised per context, so the queries of a batch score a term
  once. A conjunction's candidates are its shortest MUST clause's docs
  that every MUST clause counted;
- exclusion: a span-sized mark array (ReqExclScorer);
- phrases, spans and intervals: position adjacency over the occurrences of
  the candidate docs, gathered from the flat positions
  (``_TermPostings.occurrences``, ExactPhraseMatcher). The candidates are
  the first term's docs that every other term holds
  (``_TermPostings.intersect``, one ``np.isin`` per term over its flat
  docids).

``search_segment`` is the one place that picks an evaluator, for ``search``
and ``search_many`` alike (``batch_search_segment`` runs it per query):

- in ``search``, on a slice wider than one window, a ``TermQuery``, or a
  ``DisjunctionMaxQuery`` whose disjuncts are all ``TermQuery``, runs the
  windowed block-max top-k (ImpactsDISI / MaxScoreCache semantics,
  search/MaxScoreCache.java:72-79, with the WANDScorer dismax bound): the
  docid space is cut into 4096-doc windows
  (MaxScoreBulkScorer.INNER_WINDOW_SIZE), each window's upper bound comes
  from the per-block impact skylines, windows run in descending-UB order
  and evaluation stops once UB < θ (the k-th best score so far). The
  per-block bound, ``_TermPostings.block_ub``, is the engine's one
  block-max bound and holds for every scoring mode (``scorers`` module
  docstring: SweetSpot's plateau needs its own bound table);
- every other query, every query on a slice of one window (which leaves
  the windowed top-k nothing to skip) and every query of a ``search_many``
  batch runs the exhaustive evaluator + top-k. A batch shares one context
  per task, which scores each term once for all its queries, so a term's
  top-k there is one partition of memoised scores.

The rule is measured, not assumed (tools/evaluator_probe.py: ``from_pdf``
plus the kernel per task, k=10, 4-core VM, best of 2, every result
bit-identical). On one 1M-doc slice the windowed path takes the 9
single-term shapes in 209 ms against 478 ms exhaustive (the three hot
terms 20–31 ms against 138–159 ms; the three rarest lose, 29–43 ms
against ~1 ms), and two hot-term dismax queries in 114 ms against 701 ms.
On 127k-doc slices of a 130k-doc segment the two paths tie (single terms
113 against 109 ms summed, dismax 103 against 104 ms); on 16k-doc slices
the windowed path loses (285 against 203 ms, 232 against 127 ms). In a
batch of 1000 ``perfbench`` queries (``batch_queries``) on the 130k-doc
segment, its 339 single-term queries took 3987 ms windowed against 707 ms
over the memoised scores on 16k-doc slices, and 1615 against 468 ms on
the whole segment.
Block-max pruning of the 13 multi-term boolean shapes lost to the
exhaustive evaluator in sum at 16k, 127k and 1M-doc slices (1M, before
the bulk decode: 4.3 s against 3.9 s, 8.0 s against 7.0 s).
A sparse boolean evaluator (``np.unique`` / ``np.isin``, with a
rarest-lead block leapfrog for conjunctions) measured the same in sum on
the 13 boolean shapes of a 130k-doc segment (498 against 504 ms dense on
the whole segment, 689 against 734 ms on 16k-doc slices, inside the
probe's run-to-run spread: the phrase shape read 497 to 660 ms across
runs); it won only where
list lengths differ by orders of magnitude (``hot AND rare``: 3.9 against
20.5 ms, 13 against 45 ms), because the leapfrog left the hot list
undecoded.

Float accumulation order is "ascending clause index, then doc", identical in
the exhaustive and windowed paths, so float32 scores are bit-identical across
strategies (CheckHits-style invariant, tested).
"""

from __future__ import annotations

import threading
from functools import cached_property

import numpy as np

from ..codecs.blocks import (
    ENC_VBYTE_TAIL,
    decode_payloads_rows,
    decode_positions_rows,
    decode_rows,
    ragged_index,
)
from ..functions.smallfloat import BYTE4_DECODE_TABLE, int_to_byte4
from .query import (
    BooleanQuery,
    CombinedFieldQuery,
    ConstantScoreQuery,
    DisjunctionMaxQuery,
    FeatureQuery,
    IntervalAtLeast,
    IntervalFilter,
    IntervalNear,
    IntervalOr,
    ParentChildrenBlockJoinQuery,
    ToChildBlockJoinQuery,
    ToParentBlockJoinQuery,
    MatchAllDocsQuery,
    MatchNoDocsQuery,
    MultiPhraseQuery,
    PayloadScoreQuery,
    PhraseQuery,
    SynonymQuery,
    TermAutomatonQuery,
    TermInSetQuery,
    TermQuery,
)
from .spans import is_span

__all__ = [
    "SegmentContext",
    "search_segment",
    "exhaustive_hits",
    "batch_search_segment",
    "MAX_SPAN",
    "WINDOW_DOCS",
]

WINDOW_DOCS = 4096  # MaxScoreBulkScorer.INNER_WINDOW_SIZE (:28)
# docs per search task (``searcher.plan_slices`` cuts every task at it): the
# bound of every array a task sizes by its docid span, the boolean
# accumulators (13 bytes a doc at float64, ~440 MB) and the filter bitsets
# (2 bytes a doc)
MAX_SPAN = 1 << 25

_EMPTY = np.zeros(0, dtype=np.int64)


class _FlatPostings:
    """Every block row of one SegmentContext, decoded at once, on the first
    read that needs them all (``codecs.blocks.decode_rows``): row r's
    postings are ``docids[row_off[r]:row_off[r + 1]]``, and likewise
    ``freqs`` and ``norms``. Positions and payloads decode on their first
    read, in one pass over the rows that store them: posting p's are
    ``positions[occ_off[p]:occ_off[p + 1]]``. A row that stores neither (a
    feature or field-existence row, whose freq is a feature value or a
    field length, not a count of positions) holds no occurrences. The
    arrays are read-only, because every postings read hands out views of
    them. ``cols`` are the rows in (term, block_no) order, in
    ``index.reader.read_slice``'s layout without ``term``: row r's impact
    skyline is ``impact_freqs`` / ``impact_norms`` [impact_off[r]:
    impact_off[r + 1]]."""

    def __init__(self, cols: dict):
        self.cols = cols
        n = np.asarray(cols["n_docs"], dtype=np.int64)
        self.row_off = np.zeros(n.size + 1, dtype=np.int64)
        np.cumsum(n, out=self.row_off[1:])

    def decode(self, rows) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(docids, freqs, norms) of the postings of ``rows``, in row
        order. A pulsed singleton's freq and norm are its one impact."""
        c = self.cols
        enc = c["encoding"][rows]
        # pulsed singletons (index/pseudo.py)
        at = c["impact_off"][:-1][rows][enc > ENC_VBYTE_TAIL]
        return decode_rows(
            enc, c["n_docs"][rows], c["base_docid"][rows], c["docids_enc"][rows],
            c["freqs_enc"][rows], c["norms_enc"][rows],
            c["impact_freqs"][at], c["impact_norms"][at],
        )[1:]

    @cached_property
    def postings(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        out = self.decode(slice(None))
        for a in out:
            a.flags.writeable = False
        return out

    @property
    def docids(self) -> np.ndarray:
        return self.postings[0]

    @property
    def freqs(self) -> np.ndarray:
        return self.postings[1]

    @property
    def norms(self) -> np.ndarray:
        return self.postings[2]

    @cached_property
    def occ_n(self) -> np.ndarray:
        """Per posting, the number of its occurrences: its freq in a row
        that stores positions or payloads, else 0."""
        has = np.zeros(self.row_off.size - 1, dtype=bool)
        for c in ("positions_enc", "payloads_enc"):
            if c in self.cols:
                has |= np.not_equal(self.cols[c], None)
        out = np.where(np.repeat(has, np.diff(self.row_off)), self.freqs, 0)
        out.flags.writeable = False
        return out

    @cached_property
    def occ_off(self) -> np.ndarray:
        out = np.zeros(self.occ_n.size + 1, dtype=np.int64)
        np.cumsum(self.occ_n, out=out[1:])
        return out

    @cached_property
    def positions(self) -> np.ndarray:
        """Per occurrence; -1 in a row that stores payloads but no
        positions."""
        col = self.cols["positions_enc"]
        rows = np.flatnonzero(np.not_equal(col, None))
        out = np.full(int(self.occ_off[-1]), -1, dtype=np.int64)
        if rows.size:
            occ, off = self.occ_off[self.row_off], self.row_off
            out[ragged_index(occ[rows], occ[rows + 1] - occ[rows])] = (
                decode_positions_rows(
                    col[rows],
                    self.freqs[ragged_index(off[rows], off[rows + 1] - off[rows])],
                )
            )
        out.flags.writeable = False
        return out

    @cached_property
    def payloads(self) -> np.ndarray:
        """Per occurrence; -1 where the row stores no payloads."""
        col = self.cols.get("payloads_enc")
        if col is None:
            out = np.full(int(self.occ_off[-1]), -1, dtype=np.int64)
        else:
            out = decode_payloads_rows(col, np.diff(self.occ_off[self.row_off]))
        out.flags.writeable = False
        return out


def _members(d: np.ndarray, cand: np.ndarray) -> np.ndarray:
    """Indices of the docids of sorted unique ``d`` that sorted unique
    ``cand`` holds, searching the shorter array in the longer one."""
    if cand.size < d.size:
        i = np.searchsorted(d, cand)
        ok = i < d.size
        i = i[ok]
        return i[d[i] == cand[ok]]
    j = np.searchsorted(cand, d)
    ok = np.flatnonzero(j < cand.size)
    return ok[cand[j[ok]] == d[ok]]


class _TermPostings:
    """The postings of one term within one segment: its block rows [lo,
    hi) of the context's ``_FlatPostings``. Every read is a slice or a
    gather of the flat arrays (``decode_blocks`` decodes its blocks alone
    until they exist); a pulsed singleton is a one-posting row."""

    __slots__ = ("flat", "lo", "hi")

    def __init__(self, flat: _FlatPostings, lo: int, hi: int):
        self.flat, self.lo, self.hi = flat, lo, hi

    @property
    def n_blocks(self) -> int:
        return self.hi - self.lo

    @property
    def block_first(self) -> np.ndarray:
        return self.flat.cols["first_docid"][self.lo : self.hi]

    @property
    def block_last(self) -> np.ndarray:
        return self.flat.cols["last_docid"][self.lo : self.hi]

    def block_ub(self, scorer) -> np.ndarray:
        """Per-block score upper bound, the engine's one block-max bound:
        the scorer's ``score`` at every pair of the blocks' impact
        skylines in one call, or its ``impact_bound`` where it defines one
        (the bound contract is in the ``scorers`` module docstring), then a
        segmented max."""
        c = self.flat.cols
        off = c["impact_off"][self.lo : self.hi + 1]
        a, b = off[0], off[-1]
        bound = getattr(scorer, "impact_bound", scorer.score)
        scores = bound(c["impact_freqs"][a:b], c["impact_norms"][a:b])
        return np.maximum.reduceat(scores.astype(np.float64), off[:-1] - a)

    def decode_all(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(docids, freqs, norms) of every posting."""
        f = self.flat
        a, b = f.row_off[self.lo], f.row_off[self.hi]
        return f.docids[a:b], f.freqs[a:b], f.norms[a:b]

    def intersect(self, cand: np.ndarray) -> np.ndarray:
        """The docids of sorted ``cand`` that the term holds."""
        return cand[np.isin(cand, self.decode_all()[0])]

    def decode_blocks(self, idxs) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(docids, freqs, norms) of the blocks ``idxs`` (ascending): a
        gather once every row is decoded, and before that a decode of these
        rows alone, so a path that reads only some blocks (the windowed
        top-k) decodes only those."""
        f = self.flat
        rows = self.lo + np.asarray(idxs, dtype=np.int64)
        if "postings" not in vars(f):
            return f.decode(rows)
        if rows.size and rows[-1] - rows[0] + 1 == rows.size:  # a run
            a, b = f.row_off[rows[0]], f.row_off[rows[-1] + 1]
            return f.docids[a:b], f.freqs[a:b], f.norms[a:b]
        at = ragged_index(f.row_off[rows], f.row_off[rows + 1] - f.row_off[rows])
        return f.docids[at], f.freqs[at], f.norms[at]

    def occurrences(self, cand: np.ndarray | None = None, payloads: bool = False):
        """(doc, position, norm, payload) of every occurrence of the term in
        the sorted candidate docs ``cand`` (in every doc when None): flat
        arrays in TermSpans order, doc-major with positions ascending.
        payload is None unless asked for, and -1 where none is stored."""
        f = self.flat
        a, b = f.row_off[self.lo], f.row_off[self.hi]
        if cand is None:
            sel = np.arange(a, b)
            at = np.arange(f.occ_off[a], f.occ_off[b])
        else:
            sel = a + _members(f.docids[a:b], cand)
            at = ragged_index(f.occ_off[sel], f.occ_n[sel])
        cnt = f.occ_n[sel]
        return (
            np.repeat(f.docids[sel], cnt),
            f.positions[at],
            np.repeat(f.norms[sel], cnt),
            f.payloads[at] if payloads else None,
        )

    def payloads(self) -> tuple[np.ndarray, np.ndarray]:
        """(the number of occurrences of each posting, the payload of every
        occurrence, doc-major, -1 where none is stored); reads no
        positions."""
        f = self.flat
        a, b = f.row_off[self.lo], f.row_off[self.hi]
        return f.occ_n[a:b], f.payloads[f.occ_off[a] : f.occ_off[b]]


class SegmentContext:
    """Everything the evaluator needs for one segment's docid slice.
    Search tasks build it from ``index.reader.read_slice``'s numpy columns
    (``from_columns``); ``from_pdf`` is a pandas adapter over that, kept
    for ``perfbench/layers.py``."""

    def __init__(
        self,
        postings: dict[str, _TermPostings],
        scorers: dict[object, object],  # keyed by frozen AST leaf node
        min_doc: int,
        max_doc: int,  # exclusive
        deleted: np.ndarray | None = None,  # sorted stored docids (.liv analog)
        cache_key: tuple | None = None,  # (index tag, segment, slice) for the LRU
        doc_base: int = 0,  # global docid = stored docid + doc_base
    ):
        self.postings = postings
        self.scorers = scorers
        self.min_doc = min_doc
        self.max_doc = max_doc
        self.doc_base = doc_base
        self.deleted = deleted if deleted is not None and deleted.size else None
        # sorted stored docids of [min_doc, max_doc) from the docmap, deleted
        # ones included (deletes are masked where hits are collected); set
        # by the planner for MatchAllDocsQuery and ToChildBlockJoinQuery,
        # whose docs do not come from postings. Compaction leaves gaps in
        # the range, so it is not np.arange(min_doc, max_doc).
        self.docs: np.ndarray | None = None
        self.cache_key = cache_key
        # shared by every query evaluated against this context (search_many
        # runs hundreds per (segment, slice) task; hot terms repeat across
        # them): per term, its slice-relative (docids, scores) and its
        # block-max window map; per score dtype, the boolean accumulators
        # (``_SegmentSearcher._accumulators``)
        self.eval_cache: dict = {}

    @classmethod
    def from_columns(
        cls,
        cols: dict[str, np.ndarray],
        scorers,
        min_doc: int,
        max_doc: int,
        seg: int | None = None,
        cache_tag: str | None = None,
        doc_base: int = 0,
    ) -> "SegmentContext":
        """Build from one (segment, slice) task's block rows and pulsed
        singleton pseudo blocks (index/pseudo.py) as numpy columns in
        ``index.reader.read_slice``'s layout, in any row order: one stable
        sort puts them in (term, block_no) order, and they decode on their
        first read (``_FlatPostings``). ``cache_tag`` keys the filter LRU
        by (tag, ``seg``, slice) when the task holds rows."""
        term = cols["term"]
        ckey = None
        if cache_tag is not None and term.size:
            ckey = (cache_tag, seg, min_doc, max_doc)
        postings: dict[str, _TermPostings] = {}
        if term.size:
            by_block = np.argsort(cols["block_no"], kind="stable")
            order = by_block[np.argsort(term[by_block], kind="stable")]
            off = cols["impact_off"]
            n_imp = np.diff(off)[order]
            at = ragged_index(off[order], n_imp)
            flat = {c: v[order] for c, v in cols.items() if c != "impact_off"}
            flat["impact_off"] = np.zeros(order.size + 1, dtype=np.int64)
            np.cumsum(n_imp, out=flat["impact_off"][1:])
            for c in ("impact_freqs", "impact_norms"):
                flat[c] = cols[c][at]
                flat[c].flags.writeable = False  # scorers get views of them
            term = flat.pop("term")
            starts = np.flatnonzero(np.r_[True, term[1:] != term[:-1]])
            ends = np.append(starts[1:], term.size)
            fp = _FlatPostings(flat)
            for t, lo, hi in zip(term[starts], starts.tolist(), ends.tolist()):
                postings[t] = _TermPostings(fp, lo, hi)
        return cls(postings, scorers, min_doc, max_doc, None, ckey, doc_base)

    @classmethod
    def from_pdf(
        cls,
        pdf,
        scorers,
        min_doc: int,
        max_doc: int,
        _unused=None,  # ignored: perfbench/layers.py passes a 5th positional
        cache_tag: str | None = None,
        doc_base: int = 0,
    ) -> "SegmentContext":
        """``from_columns`` over a pandas frame of POSTINGS_COLS rows (the
        impact columns as per-row lists): a thin adapter whose only caller
        is ``perfbench/layers.py``; it goes when that replay reads its
        tasks with ``read_slice``. Search tasks and tests call
        ``from_columns``."""
        seg = int(pdf["segment_id"].iloc[0]) if len(pdf) else None
        cols = {
            c: pdf[c].to_numpy()
            for c in pdf.columns
            if c not in ("segment_id", "impact_freqs", "impact_norms")
        }
        n_imp = np.fromiter(map(len, pdf["impact_freqs"]), dtype=np.int64, count=len(pdf))
        cols["impact_off"] = np.zeros(len(pdf) + 1, dtype=np.int64)
        np.cumsum(n_imp, out=cols["impact_off"][1:])
        for c in ("impact_freqs", "impact_norms"):
            cols[c] = np.fromiter(
                (x for row in pdf[c] for x in row), dtype=np.int64, count=int(n_imp.sum())
            )
        return cls.from_columns(cols, scorers, min_doc, max_doc, seg, cache_tag, doc_base)


class _FilterLRU:
    """Worker-process LRU of filter-context docid sets — the
    LRUQueryCache analog (search/LRUQueryCache.java:60-118: per
    (query, leaf) DocIdSet cache bounded by entry count and RAM, LRU
    eviction) with the usage-tracking admission policy reduced to "cache a
    filter once it has been seen twice"
    (UsageTrackingQueryCachingPolicy.java:60-95 applies 2 sightings to
    costly queries, 5 to cheap ones; one uniform threshold here).

    Spark-native placement: python workers are reused across tasks AND
    jobs (spark.python.worker.reuse default), so a module-level instance
    caches across queries/batches on the same executor — the same
    lifetime an IndexSearcher-attached LRUQueryCache has per JVM. Plans
    small enough to run in the driver process use the driver's instance,
    from any caller thread, hence the lock. Keys
    carry the index generation tag, so an append/merge (new manifest)
    naturally invalidates without coordination. Deletes stay OUTSIDE the
    cached value (live-docs masking happens after matching), matching
    Lucene's cache-on-rewritten-query-before-deletes design."""

    def __init__(self, max_entries: int = 256, max_bytes: int = 32 << 20):
        from collections import OrderedDict

        self.max_entries = max_entries
        self.max_bytes = max_bytes
        # plans that run in the driver process may run on several caller
        # threads at once
        self.lock = threading.Lock()
        self.data: "OrderedDict[tuple, np.ndarray]" = OrderedDict()
        self.seen: "OrderedDict[tuple, int]" = OrderedDict()
        self.bytes = 0
        self.hits = 0
        self.misses = 0

    def get(self, key):
        with self.lock:
            v = self.data.get(key)
            if v is not None:
                self.data.move_to_end(key)
                self.hits += 1
            else:
                self.misses += 1
            return v

    def admit(self, key) -> bool:
        """Record a sighting; True once the filter is worth caching."""
        with self.lock:
            n = self.seen.get(key, 0) + 1
            self.seen[key] = n
            self.seen.move_to_end(key)
            while len(self.seen) > 4 * self.max_entries:
                self.seen.popitem(last=False)
            return n >= 2

    def put(self, key, arr: np.ndarray) -> None:
        if arr.base is not None:  # never pin a decode buffer via a view
            arr = arr.copy()
        arr.flags.writeable = False  # shared across callers
        with self.lock:
            if key in self.data:
                return
            self.data[key] = arr
            self.bytes += arr.nbytes
            while self.data and (
                len(self.data) > self.max_entries or self.bytes > self.max_bytes
            ):
                _, old = self.data.popitem(last=False)
                self.bytes -= old.nbytes

    def clear(self):
        with self.lock:
            self.data.clear()
            self.seen.clear()
            self.bytes = self.hits = self.misses = 0


FILTER_CACHE = _FilterLRU()


def _float_dtype(scorer) -> np.dtype:
    return np.float32 if isinstance(getattr(scorer, "weight", 0.0), np.float32) else np.float64


def _topk(docids: np.ndarray, scores: np.ndarray, k: int):
    if k <= 0 or docids.size == 0:
        return _EMPTY, scores[:0]
    neg = -scores
    if docids.size > k:
        # every hit scoring at least the k-th best, boundary ties included;
        # the sort below resolves them by docid ASC
        sel = np.flatnonzero(neg <= np.partition(neg, k - 1)[k - 1])
        order = sel[np.lexsort((docids[sel], neg[sel]))[:k]]
    else:
        order = np.lexsort((docids, neg))
    return docids[order], scores[order]


def _containment_antichain(doc_i, starts, ends, kp, return_index=False):
    """Minimal-interval antichain over (doc, start, end) rows: sort by
    (doc, end asc, start asc), keep the max start per (doc, end), then
    keep only rows whose start strictly exceeds every smaller-end row's
    start (a per-doc running max). Output is (doc, start)-sorted — on an
    antichain, end order and start order coincide. With
    ``return_index=True`` also returns the surviving rows' indices into
    the INPUT arrays (so per-row payloads can be carried through)."""
    if doc_i.size == 0:
        if return_index:
            return doc_i, starts, ends, np.zeros(0, dtype=np.int64)
        return doc_i, starts, ends
    order = np.lexsort((starts, ends, doc_i))
    doc_i, starts, ends = doc_i[order], starts[order], ends[order]
    key2 = doc_i * kp + ends
    last = np.empty(key2.size, dtype=bool)
    last[-1] = True
    last[:-1] = key2[1:] != key2[:-1]
    doc_i, starts, ends = doc_i[last], starts[last], ends[last]
    kept = order[last]
    if doc_i.size > 1:
        import pandas as pd

        gm = pd.Series(starts).groupby(pd.Series(doc_i)).cummax().to_numpy()
        keep = np.ones(doc_i.size, dtype=bool)
        keep[1:] = ~((doc_i[1:] == doc_i[:-1]) & (starts[1:] <= gm[:-1]))
        doc_i, starts, ends = doc_i[keep], starts[keep], ends[keep]
        kept = kept[keep]
    if return_index:
        return doc_i, starts, ends, kept
    return doc_i, starts, ends


def _repeat_windows(d, s, e, c: int):
    """RepeatingIntervalsSource consecutive windows: ``c`` equal sources
    collapse into one stream whose i-th interval spans the i-th through
    (i+c-1)-th occurrence of the child within a doc
    (queries/intervals/RepeatingIntervalsSource.java — equal sources
    never share one occurrence). Inputs sorted by (doc, start) and
    per-doc antichain (starts and ends both ascending). Returns
    (d, s, e, w) with w = Σ copy widths (Rep.width() sums every copy's
    width, not the span)."""
    n = d.size
    empty = np.zeros(0, dtype=np.int64)
    if n < c:
        return empty, empty, empty, empty
    i0 = np.arange(n - c + 1)
    ok = d[i0] == d[i0 + c - 1]
    i0 = i0[ok]
    cw = np.cumsum(e - s + 1)
    w = cw[i0 + c - 1] - np.where(i0 > 0, cw[i0 - 1], 0)
    return d[i0], s[i0], e[i0 + c - 1], w.astype(np.int64)


def _atleast_replay(doc_subs, m: int):
    """One doc's MinimumShouldMatchIntervalIterator run, replayed literally
    (queries/intervals/MinimumShouldMatchIntervalsSource.java — reset()
    :273-292, nextInterval() :206-258): returns [(start, end, slop), ...]
    in emission order. ``doc_subs``: per PRESENT sub-source,
    (starts, ends, widths-or-None) arrays of its minimal intervals sorted
    by start; widths defaults to end−start+1 and differs only for merged
    Repeating streams (Σ copy widths).

    Queue disciplines are the reference's comparators: the background
    queue orders by (end asc, start desc), the proximity queue of size
    ``m`` by (start asc, end desc); the emitted interval per call is
    [proximity-top start, queueEnd], queueEnd being the max end ever added
    to the proximity queue (updateRightExtreme, :294-299 — it never
    shrinks, which is where the stream's non-minimal emissions come from).
    ``slop`` is gaps(): emitted width minus the proximity members' widths
    at the same instant (:203-205)."""
    import heapq

    n = len(doc_subs)
    ptr = [0] * n
    cur: list = [None] * n  # current (start, end, width) per sub-iterator

    def advance(i: int) -> bool:
        p = ptr[i]
        ss, ee, ww = doc_subs[i]
        if p >= len(ss):
            cur[i] = None
            return False
        s0, e0 = int(ss[p]), int(ee[p])
        cur[i] = (s0, e0, e0 - s0 + 1 if ww is None else int(ww[p]))
        ptr[i] = p + 1
        return True

    background: list = []  # (end, -start, i, width)
    proximity: list = []  # (start, -end, i, width)
    # reset(): every sub positioned on its first interval, all into the
    # background queue; the m smallest-end ones move to the proximity queue
    for i in range(n):
        if advance(i):
            heapq.heappush(background, (cur[i][1], -cur[i][0], i, cur[i][2]))
    queue_end = -1
    for _ in range(m):
        if not background:
            break
        e, ns, i, w = heapq.heappop(background)
        heapq.heappush(proximity, (-ns, -e, i, w))
        if e > queue_end:
            queue_end = e
    start = end = -1
    emitted: list[tuple[int, int, int]] = []
    while True:
        # advance past the previous start; the refill only happens when the
        # popped iterator had another interval (the reference's :221-231)
        while len(proximity) == m and proximity[0][0] == start:
            _s, _ne, i, _w = heapq.heappop(proximity)
            if advance(i):
                heapq.heappush(
                    background, (cur[i][1], -cur[i][0], i, cur[i][2])
                )
                e, ns, j, w = heapq.heappop(background)
                heapq.heappush(proximity, (-ns, -e, j, w))
                if e > queue_end:
                    queue_end = e
        if len(proximity) < m:
            break  # NO_MORE_INTERVALS
        # minimize: fix end = queueEnd, push start right while possible
        while True:
            start = proximity[0][0]
            end = queue_end
            slop = end - start + 1
            for (_s2, _ne2, _i2, w2) in proximity:
                slop -= w2
            if -proximity[0][1] == end:
                break
            _s, _ne, i, _w = heapq.heappop(proximity)
            if advance(i):
                heapq.heappush(
                    background, (cur[i][1], -cur[i][0], i, cur[i][2])
                )
            if background:
                e, ns, j, w = heapq.heappop(background)
                heapq.heappush(proximity, (-ns, -e, j, w))
                if e > queue_end:
                    queue_end = e
            if not (len(proximity) == m and end == queue_end):
                break
        emitted.append((start, end, slop))
    return emitted


class _SegmentSearcher:
    def __init__(self, ctx: SegmentContext):
        self.ctx = ctx

    def term_postings(self, term: str) -> _TermPostings | None:
        return self.ctx.postings.get(term)

    def _intersect_filter_sets(self, base: np.ndarray, d: np.ndarray) -> np.ndarray:
        """AND of two sorted docid sets in filter context, with the dense
        strategy switch (DenseConjunctionBulkScorer.java:55-61: when a
        clause is expected to match more than 1/32 of the docs, intersect
        via bit sets instead of iterator leapfrog; WINDOW_SIZE there is a
        cache-residency concern that one vectorized pass doesn't have).
        Sparse sides keep the searchsorted (leapfrog-analog) path."""
        span = self.ctx.max_doc - self.ctx.min_doc
        if (
            span > 0
            and min(base.size, d.size) * 32 >= span  # DENSITY_THRESHOLD_INVERSE
            and span <= MAX_SPAN  # block-join tasks may be wider
        ):
            lo, hi = self.ctx.min_doc, self.ctx.max_doc
            acc = np.zeros(span, dtype=bool)
            b_in = base[(base >= lo) & (base < hi)]
            acc[b_in - lo] = True
            m = np.zeros(span, dtype=bool)
            d_in = d[(d >= lo) & (d < hi)]
            m[d_in - lo] = True
            acc &= m
            out = np.flatnonzero(acc) + lo
            # docs outside the slice span (straddling blocks) can't be in
            # the bitset; they are filtered by the caller's span mask
            # anyway, so dropping them here preserves results
            return out
        return base[np.isin(base, d)]

    # --- docid-only evaluation (FILTER / MUST_NOT side) -----------------
    def matching_docs(self, q) -> np.ndarray:
        """Docid set of a filter-context node, with the worker-level LRU
        consulted per node (LRUQueryCache caches filter clauses, never
        scoring clauses — this method IS the filter-context surface)."""
        ck = self.ctx.cache_key
        if ck is None or isinstance(q, (MatchAllDocsQuery, MatchNoDocsQuery)):
            return self._matching_docs(q)
        key = (*ck, repr(q))
        v = FILTER_CACHE.get(key)
        if v is not None:
            return v
        d = self._matching_docs(q)
        if FILTER_CACHE.admit(key):
            FILTER_CACHE.put(key, d)
        return d

    def _matching_docs(self, q) -> np.ndarray:
        if isinstance(q, TermQuery):
            tp = self.term_postings(q.term)
            return tp.decode_all()[0] if tp else _EMPTY
        if isinstance(q, PhraseQuery):
            d, _f, _n, freq = self._phrase_match(q)
            return d
        if isinstance(q, MultiPhraseQuery):
            d, _f, _n, _ok = self._multi_phrase_match(q)
            return d
        if isinstance(q, (SynonymQuery, TermInSetQuery, CombinedFieldQuery)):
            parts = []
            for t in q.terms:
                tp = self.term_postings(t)
                if tp is not None:
                    parts.append(tp.decode_all()[0])
            if not parts:
                return _EMPTY
            return np.unique(np.concatenate(parts))
        if isinstance(q, FeatureQuery):
            from ..index.builder import feature_term

            tp = self.term_postings(feature_term(q.feature))
            return tp.decode_all()[0] if tp else _EMPTY
        if isinstance(q, PayloadScoreQuery):
            tp = self.term_postings(q.term)
            return tp.decode_all()[0] if tp else _EMPTY
        if isinstance(q, TermAutomatonQuery):
            d, _f, _n, _ok = self._automaton_match(q)
            return d
        if isinstance(q, IntervalNear):
            return self._interval_match(q)[0]
        if isinstance(q, IntervalAtLeast):
            return self._interval_atleast_match(q)[0]
        if isinstance(q, IntervalOr):
            return self._interval_or_match(q)[0]
        if isinstance(q, IntervalFilter):
            return self._interval_filter_match(q)[0]
        if is_span(q):
            return self._span_match(q)[0]
        if isinstance(q, ToParentBlockJoinQuery):
            # filter context: docid-set algebra only, no child scoring
            parents = self.matching_docs(q.parents)
            cd = self.matching_docs(q.child)
            if parents.size == 0 or cd.size == 0:
                return _EMPTY
            pi = np.searchsorted(parents, cd, side="left")
            pi = pi[pi < parents.size]
            return np.unique(parents[pi])
        if isinstance(q, ToChildBlockJoinQuery):
            parents = self.matching_docs(q.parents)
            pd = self.matching_docs(q.parent)
            if parents.size == 0 or pd.size == 0:
                return _EMPTY
            pd = pd[np.isin(pd, parents)]
            return self._child_docs_of(pd, parents)[0]
        if isinstance(q, ParentChildrenBlockJoinQuery):
            lo, p = self._children_range(q)
            if p is None:
                return _EMPTY
            cd = self.matching_docs(q.child)
            return cd[(cd > lo) & (cd < p)]
        if isinstance(q, MatchAllDocsQuery):
            return self.ctx.docs
        if isinstance(q, MatchNoDocsQuery):
            return _EMPTY
        if isinstance(q, ConstantScoreQuery):
            return self.matching_docs(q.query)
        if isinstance(q, DisjunctionMaxQuery):
            parts = [self.matching_docs(c) for c in q.disjuncts]
            parts = [p for p in parts if p.size]
            return np.unique(np.concatenate(parts)) if parts else _EMPTY
        if isinstance(q, BooleanQuery):
            # pure docid-set algebra — no scorers touched, so counting and
            # FILTER/MUST_NOT evaluation never pay scoring work
            # (TotalHitCountCollector semantics)
            base: np.ndarray | None = None
            if q.must:
                for c in q.must:
                    d = self.matching_docs(c)
                    base = (
                        d
                        if base is None
                        else self._intersect_filter_sets(base, d)
                    )
                    if base.size == 0:
                        return _EMPTY
                if q.min_should_match > 0:
                    cnt = np.zeros(base.size, dtype=np.int64)
                    for c in q.should:
                        d = self.matching_docs(c)
                        hit = np.isin(base, d)
                        cnt[hit] += 1
                    base = base[cnt >= q.min_should_match]
            elif q.should:
                msm = max(q.min_should_match, 1)
                if msm > 1:
                    parts = [self.matching_docs(c) for c in q.should]
                    parts = [p for p in parts if p.size]
                    if not parts:
                        return _EMPTY
                    alld = np.concatenate(parts)
                    uniq, cnt = np.unique(alld, return_counts=True)
                    base = uniq[cnt >= msm]
                else:
                    parts = [self.matching_docs(c) for c in q.should]
                    parts = [p for p in parts if p.size]
                    if not parts:
                        return _EMPTY
                    base = np.unique(np.concatenate(parts))
            else:
                return _EMPTY
            if base.size and q.must_not:
                excl = [self.matching_docs(c) for c in q.must_not]
                excl = [e for e in excl if e.size]
                if excl:
                    base = base[np.isin(base, np.concatenate(excl), invert=True)]
            return base
        raise TypeError(f"unsupported query node {type(q)}")

    # --- scored evaluation ---------------------------------------------
    def evaluate(self, q) -> tuple[np.ndarray, np.ndarray]:
        """Returns (sorted docids, scores aligned)."""
        if isinstance(q, TermQuery):
            d, s = self._rel(q)
            return d + self.ctx.min_doc, s
        if isinstance(q, BooleanQuery):
            d, s = self._evaluate_bool(q)
            return d + self.ctx.min_doc, s
        if isinstance(q, PhraseQuery):
            return self._phrase_scores(q)
        if isinstance(q, MultiPhraseQuery):
            return self._multi_phrase_scores(q)
        if isinstance(q, SynonymQuery):
            return self._evaluate_synonym(q)
        if isinstance(q, CombinedFieldQuery):
            return self._evaluate_combined(q)
        if isinstance(q, FeatureQuery):
            return self._evaluate_feature(q)
        if isinstance(q, PayloadScoreQuery):
            return self._evaluate_payload(q)
        if isinstance(q, TermAutomatonQuery):
            sc = self.ctx.scorers[q]
            dtype = _float_dtype(sc)
            d, f, m, ok = self._automaton_match(q)
            if not ok or d.size == 0:
                return _EMPTY, np.zeros(0, dtype=dtype)
            return d, sc.score(f, m).astype(dtype)
        if isinstance(q, TermInSetQuery):
            # constant-score: TermInSetQuery rewrites to a filter over the
            # doc set, every match scores boost (TermInSetQuery.java:66)
            d = self.matching_docs(q)
            return d, np.full(d.size, np.float32(q.boost), dtype=np.float32)
        if isinstance(q, ConstantScoreQuery):
            d = self.matching_docs(q.query)
            return d, np.full(d.size, np.float32(q.boost), dtype=np.float32)
        if isinstance(q, DisjunctionMaxQuery):
            return self._evaluate_dismax(q)
        if isinstance(q, MatchAllDocsQuery):
            d = self.ctx.docs
            return d, np.full(d.size, q.boost, dtype=np.float32)
        if isinstance(q, MatchNoDocsQuery):
            return _EMPTY, np.zeros(0, dtype=np.float32)
        if isinstance(
            q, (IntervalNear, IntervalFilter, IntervalAtLeast, IntervalOr)
        ):
            return self._evaluate_interval(q)
        if is_span(q):
            return self._evaluate_span(q)
        if isinstance(q, ToParentBlockJoinQuery):
            return self._evaluate_block_join(q)
        if isinstance(q, ToChildBlockJoinQuery):
            return self._evaluate_child_join(q)
        if isinstance(q, ParentChildrenBlockJoinQuery):
            return self._evaluate_parent_children(q)
        raise TypeError(f"unsupported query node {type(q)}")

    def _child_docs_of(self, pd: np.ndarray, parents: np.ndarray):
        """Children of the given matching parent docids — the segment's
        stored docids (``ctx.docs``) between the previous parent and each
        parent — plus the per-parent child counts (for score propagation).
        Compaction drops docs without renumbering, so a block's docid range
        may have gaps; deletes are masked at the collection points like
        every other docid source."""
        docs = self.ctx.docs
        idx = np.searchsorted(parents, pd, side="left")
        prev = np.where(
            idx > 0, parents[np.maximum(idx - 1, 0)], self.ctx.min_doc - 1
        )
        first = np.searchsorted(docs, prev, side="right")
        counts = np.searchsorted(docs, pd, side="left") - first
        total = int(counts.sum())
        if total == 0:
            return _EMPTY, counts
        cum = np.cumsum(counts)
        intra = np.arange(total, dtype=np.int64) - np.repeat(cum - counts, counts)
        return docs[np.repeat(first, counts) + intra], counts

    def _evaluate_child_join(self, q: ToChildBlockJoinQuery):
        """ToChildBlockJoinQuery: children of each matching parent score
        the parent's score (boost-scaled); non-parent matches of the
        parent query are ignored (the reference's advance-past contract)."""
        parents = self.matching_docs(q.parents)
        pd, ps = self.evaluate(q.parent)
        dtype = ps.dtype if ps.size else np.float32
        if parents.size == 0 or pd.size == 0:
            return _EMPTY, np.zeros(0, dtype=dtype)
        ok = np.isin(pd, parents)
        pd, ps = pd[ok], ps[ok]
        if pd.size == 0:
            return _EMPTY, np.zeros(0, dtype=dtype)
        children, counts = self._child_docs_of(pd, parents)
        if children.size == 0:
            return _EMPTY, np.zeros(0, dtype=dtype)
        scores = np.repeat(ps.astype(np.float64) * q.boost, counts).astype(dtype)
        return children, scores

    def _children_range(self, q: ParentChildrenBlockJoinQuery):
        """(previous parent, parent): the stored docids strictly between
        them are the children of ``q.parent_docid``
        (ParentChildrenBlockJoinQuery.java:88-131 — childrenIterator
        bounded to (prevParent, parentDoc)). The parent is None when this
        segment slice does not hold it or ``q.parents`` does not match it."""
        # global → segment-local docid (Lucene's context.docBase subtraction,
        # ParentChildrenBlockJoinQuery.java:88-97)
        p = int(q.parent_docid) - self.ctx.doc_base
        if not (self.ctx.min_doc <= p < self.ctx.max_doc):
            return None, None
        parents = self.matching_docs(q.parents)
        pos = np.searchsorted(parents, p)
        if pos >= parents.size or parents[pos] != p:
            # the docid is not a parent under this filter — no children
            return None, None
        return (parents[pos - 1] if pos > 0 else self.ctx.min_doc - 1), p

    def _evaluate_parent_children(self, q: ParentChildrenBlockJoinQuery):
        """ParentChildrenBlockJoinQuery: the matching children of ONE
        parent doc, each keeping its own child score (score =
        childScorer.score()). Segments not containing ``parent_docid``
        match nothing."""
        lo, p = self._children_range(q)
        if p is None:
            return _EMPTY, np.zeros(0, dtype=np.float32)
        cd, cs = self.evaluate(q.child)
        dtype = cs.dtype if cs.size else np.float32
        keep = (cd > lo) & (cd < p)
        cd, cs = cd[keep], cs[keep]
        if q.boost != 1.0:
            cs = (cs.astype(np.float64) * q.boost).astype(dtype)
        return cd, cs

    def _evaluate_block_join(self, q: ToParentBlockJoinQuery):
        """ToParentBlockJoinQuery: child hits map to the first parent docid
        at/after them (ParentApproximation.advance), then child scores
        combine per parent in child-docid order with a double accumulator
        (Score.java:296-341). Requires whole-segment evaluation (the
        searcher disables intra-segment slicing for block-join trees)."""
        parents = self.matching_docs(q.parents)
        cd, cs = self.evaluate(q.child)
        dtype = cs.dtype if cs.size else np.float32
        if parents.size == 0 or cd.size == 0:
            return _EMPTY, np.zeros(0, dtype=dtype)
        pi = np.searchsorted(parents, cd, side="left")
        ok = pi < parents.size
        cd, cs, pi = cd[ok], cs[ok], pi[ok]
        if cd.size == 0:
            return _EMPTY, np.zeros(0, dtype=dtype)
        uniq_pi, inv = np.unique(pi, return_inverse=True)
        pdocs = parents[uniq_pi]
        mode = q.score_mode
        if mode == "none":
            out = np.zeros(pdocs.size, dtype=np.float64)
        elif mode in ("total", "avg"):
            out = np.zeros(pdocs.size, dtype=np.float64)
            np.add.at(out, inv, cs.astype(np.float64))
            if mode == "avg":
                cnt = np.bincount(inv, minlength=pdocs.size)
                out /= cnt
        elif mode == "max":
            out = np.full(pdocs.size, -np.inf, dtype=np.float64)
            np.maximum.at(out, inv, cs.astype(np.float64))
        else:  # min
            out = np.full(pdocs.size, np.inf, dtype=np.float64)
            np.minimum.at(out, inv, cs.astype(np.float64))
        if mode != "none":
            out *= q.boost
        return pdocs, out.astype(dtype)

    def _evaluate_synonym(self, q: SynonymQuery) -> tuple[np.ndarray, np.ndarray]:
        """Union docids, per-doc freq = Σ over synonym terms, then ONE BM25
        call with the blended scorer (SynonymScorer.freq semantics)."""
        sc = self.ctx.scorers[q]
        dtype = _float_dtype(sc)
        parts = []  # (docids, freqs, norms)
        for t in q.terms:
            tp = self.term_postings(t)
            if tp is not None:
                parts.append(tp.decode_all())
        if not parts:
            return _EMPTY, np.zeros(0, dtype=dtype)
        alld = np.concatenate([p[0] for p in parts])
        allf = np.concatenate([p[1] for p in parts])
        alln = np.concatenate([p[2] for p in parts])
        uniq, inv = np.unique(alld, return_inverse=True)
        freqs = np.zeros(uniq.size, dtype=np.int64)
        np.add.at(freqs, inv, allf)
        norms = np.zeros(uniq.size, dtype=np.int64)
        norms[inv] = alln  # same doc → same field norm for every term
        return uniq, sc.score(freqs, norms).astype(dtype)

    def _evaluate_combined(self, q: CombinedFieldQuery) -> tuple[np.ndarray, np.ndarray]:
        """BM25F (CombinedFieldQuery.java:404-450 + MultiNormsLeafSimScorer):
        union the per-field postings of one token; per-doc freq =
        Σ_f weight_f·freq_f (field order), per-doc norm byte re-quantizes
        Σ_f weight_f·LENGTH_TABLE[norm_f] — summed over every field the doc
        HAS (from the existence lists), not just matching fields — with
        Math.round = floor(x+0.5). Accumulation dtype follows the scoring
        mode (float32 lucene / float64 oracle-double)."""
        sc = self.ctx.scorers[q]
        dtype = _float_dtype(sc)
        parts = []
        for t in q.terms:
            tp = self.term_postings(t)
            parts.append(tp.decode_all() if tp is not None else None)
        live = [p[0] for p in parts if p is not None and p[0].size]
        if not live:
            return _EMPTY, np.zeros(0, dtype=dtype)
        uniq = np.unique(np.concatenate(live))
        freq = np.zeros(uniq.size, dtype=dtype)
        for p, w in zip(parts, q.weights):
            if p is None or p[0].size == 0:
                continue
            d, f, _m = p
            pos = np.searchsorted(uniq, d)
            freq[pos] += (np.asarray(w, dtype=dtype) * f.astype(dtype)).astype(
                dtype
            )
        lt = BYTE4_DECODE_TABLE.astype(dtype)
        normval = np.zeros(uniq.size, dtype=dtype)
        for et, w in zip(q.exists_terms, q.weights):
            tp = self.term_postings(et)
            if tp is None:
                continue
            d, _f, m = tp.decode_all()
            mask = np.isin(d, uniq)
            if not mask.any():
                continue
            pos = np.searchsorted(uniq, d[mask])
            normval[pos] += (
                np.asarray(w, dtype=dtype) * lt[m[mask] & 0xFF]
            ).astype(dtype)
        norm_bytes = int_to_byte4(
            np.floor(normval.astype(np.float64) + 0.5).astype(np.int64)
        )
        return uniq, sc.score(freq, norm_bytes).astype(dtype)

    def _evaluate_feature(self, q: FeatureQuery) -> tuple[np.ndarray, np.ndarray]:
        """Decoded-feature scoring over the feature posting list
        (FeatureQuery.java createWeight; freq = encoded value, norms
        ignored)."""
        from ..index.builder import feature_term

        sc = self.ctx.scorers[q]
        dtype = _float_dtype(sc)
        tp = self.term_postings(feature_term(q.feature))
        if tp is None:
            return _EMPTY, np.zeros(0, dtype=dtype)
        d, f, _m = tp.decode_all()
        return d, sc.score(f).astype(dtype)

    def _evaluate_payload(self, q: PayloadScoreQuery) -> tuple[np.ndarray, np.ndarray]:
        """PayloadScoreQuery (payloads/PayloadScoreQuery.java:42-66): per
        doc, aggregate the stored per-position payload ints at the term's
        positions with ``func`` (Sum/Max/Min/first-occurrence PayloadFunction),
        score = boost * payloadScore, optionally * the term's BM25 score
        (include_span_score, :204-208). Vectorized: the per-doc aggregation
        is a segmented reduceat over the block's flat payload stream."""
        sc = self.ctx.scorers[q]
        dtype = _float_dtype(sc)
        tp = self.term_postings(q.term)
        if tp is None:
            return _EMPTY, np.zeros(0, dtype=np.float64)
        docids, f, m = tp.decode_all()
        n, pay = tp.payloads()
        # a doc with no payloads stored (-1, or no occurrences) reads 0
        pay = np.maximum(pay, 0).astype(np.float64)
        agg = np.zeros(docids.size, dtype=np.float64)
        has = n > 0
        if has.any():
            bounds = (np.cumsum(n) - n)[has]
            ufunc = {"sum": np.add, "max": np.maximum, "min": np.minimum}.get(q.func)
            # else the first occurrence's payload
            agg[has] = pay[bounds] if ufunc is None else ufunc.reduceat(pay, bounds)
        scores = agg * float(q.boost)
        if q.include_span_score:
            scores = scores * sc.score(f, m).astype(np.float64)
        return docids, scores.astype(dtype if q.include_span_score else np.float64)

    def _evaluate_dismax(self, q: DisjunctionMaxQuery) -> tuple[np.ndarray, np.ndarray]:
        """max(sub) + tie_breaker·(Σ others); float64 accumulation then one
        cast, like DisjunctionMaxScorer.score (double sum, float return)."""
        parts = [self.evaluate(c) for c in q.disjuncts]
        parts = [p for p in parts if p[0].size]
        if not parts:
            return _EMPTY, np.zeros(0, dtype=np.float32)
        dtype = parts[0][1].dtype
        alld = np.concatenate([p[0] for p in parts])
        alls = np.concatenate([p[1] for p in parts]).astype(np.float64)
        uniq, inv = np.unique(alld, return_inverse=True)
        sums = np.zeros(uniq.size, dtype=np.float64)
        maxs = np.full(uniq.size, -np.inf, dtype=np.float64)
        np.add.at(sums, inv, alls)
        np.maximum.at(maxs, inv, alls)
        out = maxs + q.tie_breaker * (sums - maxs)
        return uniq, out.astype(dtype)

    def _rel(self, q) -> tuple[np.ndarray, np.ndarray]:
        """(slice-relative docids, scores) of a scored clause. A term's are
        memoised per context, as the queries of a batch share their terms."""
        if isinstance(q, TermQuery):
            got = self.ctx.eval_cache.get(q)
            if got is None:
                tp = self.term_postings(q.term)
                sc = self.ctx.scorers[q]
                dtype = _float_dtype(sc)
                if tp is None:
                    got = (_EMPTY, np.zeros(0, dtype=dtype))
                else:
                    # the slice's postings only: straddling blocks hold docs
                    # of the neighbouring slices
                    d, f, m = tp.decode_all()
                    lo = self.ctx.min_doc
                    a, b = np.searchsorted(d, (lo, self.ctx.max_doc))
                    got = (d[a:b] - lo, sc.score(f[a:b], m[a:b]).astype(dtype))
                self.ctx.eval_cache[q] = got
            return got
        if isinstance(q, BooleanQuery):
            return self._evaluate_bool(q)
        d, s = self.evaluate(q)
        keep = (d >= self.ctx.min_doc) & (d < self.ctx.max_doc)
        return d[keep] - self.ctx.min_doc, s[keep]

    def _accumulators(self, dtype) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """The context's slice-wide (score, match count, exclusion mark)
        arrays for ``dtype`` scores, all zero between boolean evaluations."""
        key = ("acc", np.dtype(dtype))
        got = self.ctx.eval_cache.get(key)
        if got is None:
            n = max(self.ctx.max_doc - self.ctx.min_doc, 0)
            got = self.ctx.eval_cache[key] = (
                np.zeros(n, dtype=dtype),
                np.zeros(n, dtype=np.int32),
                np.zeros(n, dtype=bool),
            )
        return got

    def _evaluate_bool(self, q: BooleanQuery) -> tuple[np.ndarray, np.ndarray]:
        """Scored BooleanQuery as (sorted slice-relative docids, scores):
        BooleanScorer's bucket array, one window as wide as the slice. Every
        clause is evaluated first, so a nested boolean is done with the
        accumulators before this one scatters into them; the indices it
        touched are reset on the way out. Scores add in "MUST clauses in
        clause order, then SHOULD clauses in clause order", each operand cast
        to the accumulator dtype (the first clause's) before the add."""
        must = [self._rel(c) for c in q.must]
        should = [self._rel(c) for c in q.should]
        if not (must or should):
            return _EMPTY, np.zeros(0, dtype=np.float32)
        dtype = (must or should)[0][1].dtype
        if must:
            lead = min((d for d, _s in must), key=len)
            if not lead.size:
                return _EMPTY, np.zeros(0, dtype=dtype)
        msm = q.min_should_match
        # SHOULD matches are counted for minShouldMatch, and without MUST
        # clauses to find the union
        count = msm > 0 or not must
        acc, cnt, excl = self._accumulators(dtype)
        touched = [d for d, _s in must + should]  # to zero on the way out
        try:
            for d, s in must:
                acc[d] += s if s.dtype == dtype else s.astype(dtype)
                cnt[d] += 1
            if must:
                cand = lead[cnt[lead] == len(must)]
            for d, s in should:
                acc[d] += s if s.dtype == dtype else s.astype(dtype)
                if count:
                    cnt[d] += 1
            if not must:
                if sum(map(len, touched)) * 32 >= cnt.size:  # dense: one pass
                    cand = np.flatnonzero(cnt)
                else:
                    cand = np.unique(np.concatenate(touched))
                touched = [cand]  # the union of the clauses
            if msm > 1 or must and msm > 0:  # ReqOptSumScorer's msm too
                cand = cand[cnt[cand] >= len(must) + msm]
            if cand.size and q.must_not:
                lo, hi = self.ctx.min_doc, self.ctx.max_doc
                out = [self.matching_docs(c) for c in q.must_not]
                out = [d[(d >= lo) & (d < hi)] - lo for d in out]
                for d in out:
                    excl[d] = True
                cand = cand[~excl[cand]]
                for d in out:
                    excl[d] = False
            return cand, acc[cand]
        finally:
            for d in touched:
                acc[d] = 0
                cnt[d] = 0

    # --- phrases --------------------------------------------------------
    def _phrase_match(self, q: PhraseQuery):
        """Returns (docids, freqs(phrase occurrences), norms, ok).
        Exact phrases (slop=0) take the vectorized adjacency path; sloppy
        phrases dispatch to the per-candidate-doc matcher."""
        if q.slop > 0:
            if getattr(q, "positions", None):
                raise ValueError(
                    "explicit phrase positions require slop=0 (sloppy "
                    "matching is defined over the dense position list)"
                )
            return self._sloppy_phrase_match(q)
        tps = []
        for t in q.terms:
            tp = self.term_postings(t)
            if tp is None:
                return _EMPTY, _EMPTY, _EMPTY, False
            tps.append(tp)
        # candidates: docs containing all terms
        cand = tps[0].decode_all()[0]
        for tp in tps[1:]:
            if cand.size == 0:
                return _EMPTY, _EMPTY, _EMPTY, False
            cand = tp.intersect(cand)
        if cand.size == 0:
            return _EMPTY, _EMPTY, _EMPTY, False
        # explicit positions allow gaps (PhraseQuery.Builder.add(term, pos),
        # the NGramPhraseQuery rewrite shape); default = consecutive
        poss = getattr(q, "positions", None) or tuple(range(len(tps)))
        starts = self._term_pos_keys(tps[0], cand)
        for i in range(1, len(tps)):
            if starts.size == 0:
                return _EMPTY, _EMPTY, _EMPTY, False
            keys = self._term_pos_keys(tps[i], cand)
            if keys.size == 0:
                return _EMPTY, _EMPTY, _EMPTY, False
            want = starts + (poss[i] - poss[0])
            idx = np.searchsorted(keys, want)
            idx_c = np.minimum(idx, keys.size - 1)
            starts = starts[keys[idx_c] == want]
        if starts.size == 0:
            return _EMPTY, _EMPTY, _EMPTY, False
        docs, freqs = np.unique(starts >> np.int64(32), return_counts=True)
        # norms from the first term's postings
        d0, _f0, m0 = tps[0].decode_all()
        norms = m0[np.searchsorted(d0, docs)]
        return docs, freqs, norms, True

    @staticmethod
    def _term_pos_keys(tp, cand: np.ndarray) -> np.ndarray:
        """Sorted (doc<<32 | position) keys of one term restricted to the
        candidate docs — the vectorized adjacency currency
        (ExactPhraseMatcher.java:38 semantics, batch-wise)."""
        d, p, _n, _pl = tp.occurrences(cand)
        return (d << np.int64(32)) | p

    def _multi_phrase_match(self, q: MultiPhraseQuery):
        """Union the alternatives' position keys per slot, then the same
        adjacency leapfrog as the exact phrase
        (search/MultiPhraseQuery.java:53 — UnionPostingsEnum per position)."""
        slot_tps: list[list] = []
        for slot in q.slots:
            tps = [self.term_postings(t) for t in slot]
            tps = [tp for tp in tps if tp is not None]
            if not tps:
                return _EMPTY, _EMPTY, _EMPTY, False
            slot_tps.append(tps)

        def slot_docs(tps) -> np.ndarray:
            return np.unique(np.concatenate([tp.decode_all()[0] for tp in tps]))

        cand = slot_docs(slot_tps[0])
        for tps in slot_tps[1:]:
            if cand.size == 0:
                return _EMPTY, _EMPTY, _EMPTY, False
            cand = cand[np.isin(cand, slot_docs(tps))]
        if cand.size == 0:
            return _EMPTY, _EMPTY, _EMPTY, False

        def slot_keys(tps) -> np.ndarray:
            parts = [self._term_pos_keys(tp, cand) for tp in tps]
            parts = [p for p in parts if p.size]
            if not parts:
                return _EMPTY
            return np.unique(np.concatenate(parts))

        starts = slot_keys(slot_tps[0])
        for off in range(1, len(slot_tps)):
            if starts.size == 0:
                return _EMPTY, _EMPTY, _EMPTY, False
            keys = slot_keys(slot_tps[off])
            if keys.size == 0:
                return _EMPTY, _EMPTY, _EMPTY, False
            want = starts + off
            idx = np.searchsorted(keys, want)
            idx_c = np.minimum(idx, keys.size - 1)
            starts = starts[keys[idx_c] == want]
        if starts.size == 0:
            return _EMPTY, _EMPTY, _EMPTY, False
        docs, freqs = np.unique(starts >> np.int64(32), return_counts=True)
        # norm per doc from whichever slot-0 alternative holds it
        dparts, mparts = [], []
        for tp in slot_tps[0]:
            d0, _f0, m0 = tp.decode_all()
            dparts.append(d0)
            mparts.append(m0)
        alld = np.concatenate(dparts)
        allm = np.concatenate(mparts)
        uniq, first_idx = np.unique(alld, return_index=True)
        norms = allm[first_idx][np.searchsorted(uniq, docs)]
        return docs, freqs, norms, True

    def _automaton_match(self, q: TermAutomatonQuery):
        """TermAutomatonScorer semantics (sandbox/search/
        TermAutomatonQuery.java:64 + its scorer): each accepted path is an
        exact-adjacency run over (doc<<32|pos) keys (the ExactPhraseMatcher
        currency shared with _phrase_match); freq = distinct (start, length)
        spans per doc, deduped so a synonym-stacked index counting two paths
        over the same span counts it once. Returns (docids, freqs, norms,
        ok)."""
        span_keys, span_lens = [], []
        any_tp = None
        for path in q.paths:
            tps = [self.term_postings(t) for t in path]
            if any(tp is None for tp in tps):
                continue
            any_tp = any_tp or tps[0]
            cand = tps[0].decode_all()[0]
            for tp in tps[1:]:
                if cand.size == 0:
                    break
                cand = tp.intersect(cand)
            if cand.size == 0:
                continue
            starts = self._term_pos_keys(tps[0], cand)
            for off in range(1, len(tps)):
                if starts.size == 0:
                    break
                keys = self._term_pos_keys(tps[off], cand)
                if keys.size == 0:
                    starts = _EMPTY
                    break
                want = starts + off
                idx = np.searchsorted(keys, want)
                idx_c = np.minimum(idx, keys.size - 1)
                starts = starts[keys[idx_c] == want]
            if starts.size:
                span_keys.append(starts)
                span_lens.append(
                    np.full(starts.size, len(path), dtype=np.int64)
                )
        if not span_keys:
            return _EMPTY, _EMPTY, _EMPTY, False
        spans = np.stack(
            (np.concatenate(span_keys), np.concatenate(span_lens)), axis=1
        )
        spans = np.unique(spans, axis=0)
        docs, freqs = np.unique(spans[:, 0] >> np.int64(32), return_counts=True)
        # norm per doc from any involved term's postings that holds it
        dparts, mparts = [], []
        for t in q.distinct_terms:
            tp = self.term_postings(t)
            if tp is not None:
                d0, _f0, m0 = tp.decode_all()
                dparts.append(d0)
                mparts.append(m0)
        alld = np.concatenate(dparts)
        allm = np.concatenate(mparts)
        uniq, first_idx = np.unique(alld, return_index=True)
        norms = allm[first_idx][np.searchsorted(uniq, docs)]
        return docs, freqs, norms, True

    def _multi_phrase_scores(self, q: MultiPhraseQuery):
        sc = self.ctx.scorers[q]
        dtype = _float_dtype(sc)
        d, f, m, ok = self._multi_phrase_match(q)
        if not ok or d.size == 0:
            return _EMPTY, np.zeros(0, dtype=dtype)
        return d, sc.score(f, m).astype(dtype)

    def _sloppy_candidates(self, q: PhraseQuery):
        """(tps, cand): per-slot postings + docs containing every term."""
        tps = []
        for t in q.terms:
            tp = self.term_postings(t)
            if tp is None:
                return None, _EMPTY
            tps.append(tp)
        cand = tps[0].decode_all()[0]
        for tp in tps[1:]:
            if cand.size == 0:
                return None, _EMPTY
            cand = tp.intersect(cand)
        if cand.size == 0:
            return None, _EMPTY
        return tps, cand

    def _sloppy_phrase_match(self, q: PhraseQuery):
        """SloppyPhraseMatcher semantics (search/SloppyPhraseMatcher.java:53):
        adjusted position = pos - slot; the advance-min sweep evaluates a
        state, adds weight 1/(1+matchLength) when max(adj)-min(adj) ≤ slop
        (PhraseScorer.java:86-88), advances the minimum, and stops when a
        list exhausts.

        Vectorized equivalence (no per-doc loop): the sweep consumes
        positions in merged ascending order (ties by slot index), so the
        j-th evaluated state has min = the j-th merged element and, for
        every slot, cur = that slot's next occurrence at merged index ≥ j;
        states run from j = doc start to j_end = min over slots of the
        slot's LAST merged index (the state that exhausts a list is still
        evaluated before the break). Per-doc freq is accumulated by match
        length — Σ_L count_L · (1/(1+L)), ascending L, left-assoc float64 —
        a deterministic order an ANSI-SQL oracle reproduces exactly;
        weights for a given L are identical, so grouping only fixes the
        float addition order."""
        if len(set(q.terms)) != len(q.terms):
            return self._sloppy_phrase_match_repeats(q)
        tps, cand = self._sloppy_candidates(q)
        if tps is None:
            return _EMPTY, _EMPTY, _EMPTY, False
        m = len(tps)
        dparts, pparts, sparts = [], [], []
        for slot, tp in enumerate(tps):
            dd, pp = tp.occurrences(cand)[:2]
            dparts.append(dd)
            pparts.append(pp - slot)
            sparts.append(np.full(dd.size, slot, dtype=np.int64))
        d = np.concatenate(dparts)
        p = np.concatenate(pparts)
        s = np.concatenate(sparts)
        order = np.lexsort((s, p, d))
        d, p, s = d[order], p[order], s[order]
        n = d.size
        # doc segmentation (cand is sorted; every cand doc has every slot)
        newdoc = np.empty(n, dtype=bool)
        newdoc[0] = True
        newdoc[1:] = d[1:] != d[:-1]
        doc_idx = np.cumsum(newdoc) - 1  # 0..ndocs-1, == index into cand
        ndocs = cand.size
        # per-slot: next occurrence position at/after each merged row, and
        # the slot's last merged index per doc
        maxpos = np.full(n, np.iinfo(np.int64).min, dtype=np.int64)
        j_end = np.full(ndocs, np.iinfo(np.int64).max, dtype=np.int64)
        rows = np.arange(n, dtype=np.int64)
        for t in range(m):
            idx_t = np.flatnonzero(s == t)
            k = np.searchsorted(idx_t, rows, side="left")
            nxt = idx_t[np.minimum(k, idx_t.size - 1)]
            np.maximum(maxpos, p[nxt], out=maxpos)
            dt = doc_idx[idx_t]
            tail = np.empty(idx_t.size, dtype=bool)
            tail[-1] = True
            tail[:-1] = dt[1:] != dt[:-1]
            np.minimum.at(j_end, dt[tail], idx_t[tail])
        valid = rows <= j_end[doc_idx]
        length = maxpos - p  # ≥ 0: a slot's own next occurrence is itself
        hit = valid & (length <= q.slop)
        if not hit.any():
            return _EMPTY, _EMPTY, _EMPTY, False
        key = doc_idx[hit] * (q.slop + 1) + length[hit]
        counts = np.bincount(key, minlength=ndocs * (q.slop + 1)).reshape(
            ndocs, q.slop + 1
        )
        freq = np.zeros(ndocs, dtype=np.float64)
        for length_l in range(q.slop + 1):
            freq += counts[:, length_l] * (1.0 / (1 + length_l))
        live = freq > 0
        docs_a = cand[live]
        d0, _f0, m0 = tps[0].decode_all()
        norms = m0[np.searchsorted(d0, docs_a)]
        return docs_a, freq[live], norms, True

    def _sloppy_phrase_match_repeats(self, q: PhraseQuery):
        """Sloppy matching when the same term fills several slots
        (SloppyPhraseMatcher.java:376-429 "with repeats"): one token
        occurrence cannot satisfy two slots, so after any advance a phrase
        position colliding with a same-term one (identical raw token
        position) is advanced again until collision-free. Per-doc python —
        repeated-term sloppy phrases are rare; the non-repeating bulk takes
        the vectorized path."""
        tps, cand = self._sloppy_candidates(q)
        if tps is None:
            return _EMPTY, _EMPTY, _EMPTY, False
        # group slots by term for collision checks
        groups: dict[str, list[int]] = {}
        for slot, t in enumerate(q.terms):
            groups.setdefault(t, []).append(slot)
        per_slot: list[dict[int, np.ndarray]] = []
        for slot, tp in enumerate(tps):
            dd, pp = tp.occurrences(cand)[:2]
            pp = pp - slot
            out: dict[int, np.ndarray] = {}
            if dd.size:
                cuts = np.flatnonzero(np.concatenate(([True], dd[1:] != dd[:-1])))
                ends = np.concatenate((cuts[1:], [dd.size]))
                for c, e in zip(cuts, ends):
                    out[int(dd[c])] = pp[c:e]
            per_slot.append(out)
        slop = q.slop
        docs: list[int] = []
        freqs: list[float] = []
        for doc in cand:
            doc = int(doc)
            lists = [per_slot[i][doc] for i in range(len(tps))]
            idx = [0] * len(lists)

            def bump_collisions() -> bool:
                """Advance any slot whose RAW position equals an earlier
                same-term slot's raw position; False when a list exhausts."""
                changed = True
                while changed:
                    changed = False
                    for slots in groups.values():
                        if len(slots) < 2:
                            continue
                        taken: set[int] = set()
                        for sl in slots:
                            raw = int(lists[sl][idx[sl]]) + sl
                            while raw in taken:
                                idx[sl] += 1
                                if idx[sl] >= len(lists[sl]):
                                    return False
                                raw = int(lists[sl][idx[sl]]) + sl
                                changed = True
                            taken.add(raw)
                return True

            if not bump_collisions():
                continue
            counts = [0] * (slop + 1)
            while True:
                cur = [int(lists[i][idx[i]]) for i in range(len(lists))]
                lo, hi = min(cur), max(cur)
                if hi - lo <= slop:
                    counts[hi - lo] += 1
                mi = cur.index(lo)
                idx[mi] += 1
                if idx[mi] >= len(lists[mi]) or not bump_collisions():
                    break
            freq = 0.0
            for length_l in range(slop + 1):
                freq += counts[length_l] * (1.0 / (1 + length_l))
            if freq > 0:
                docs.append(doc)
                freqs.append(freq)
        if not docs:
            return _EMPTY, _EMPTY, _EMPTY, False
        docs_a = np.array(docs, dtype=np.int64)
        d0, _f0, m0 = tps[0].decode_all()
        norms = m0[np.searchsorted(d0, docs_a)]
        return docs_a, np.array(freqs, dtype=np.float64), norms, True

    # --- minimal-interval positional queries (queries/intervals) --------
    def _interval_match(self, q: IntervalNear):
        """(docids, sloppy freqs) of the minimal-interval enumeration.

        Semantics: queries/intervals — ordered
        (OrderedIntervalsSource.java:123-181: each term's occurrence must
        start strictly after the previous term's end) or unordered
        (UnorderedIntervalsSource.java: span = [min start, max end] over one
        occurrence of every term), restricted to MINIMAL intervals (no
        enumerated interval contains another —
        MinimizingConjunctionIntervalsSource), then filtered by
        max_gaps/max_width (FilteredIntervalsSource.MaxGaps/MaxWidth) and
        weighted 1/max(width - minExtent + 1, 1) per interval
        (IntervalScorer.java:60-68, minExtent = Σ leaf extents = m).

        Vectorized across all candidate docs, no per-doc loop. Candidate
        intervals are generated greedily per start — the greedy end is the
        smallest reachable for that start, so every minimal interval is a
        candidate — and minimality is ends-are-monotone dedup: within a doc
        starts ascend and greedy ends are non-decreasing, so keeping the
        LAST row of each (doc, end) run leaves exactly the antichain of
        minimal intervals (proof: a surviving candidate strictly containing
        a minimal interval would force that interval's equal end with a
        larger start, contradicting the max-start-per-end keep).

        Per-doc freq accumulates per distinct width in ascending width
        order, left-assoc float64 (count_w adds as one product) — the same
        deterministic grouping as _sloppy_phrase_match, reproducible in
        ANSI SQL. Docids are compressed to dense candidate indices before
        any (doc, pos) keying, so int64 keys never overflow at 10^12-docid
        global coordinates."""
        d, starts, ends, ext = self._interval_enumerate(q)
        return self._interval_fold(d, ends - starts + 1, ext)

    @staticmethod
    def _interval_fold(gdocs, width, min_extent):
        """Per-doc sloppy freq over intervals: per distinct width ascending,
        left-assoc (the deterministic grouping shared with the SQL oracle).
        Returns (unique global docids, freqs)."""
        if gdocs.size == 0:
            return _EMPTY, np.zeros(0, dtype=np.float64)
        docs_u, inv = np.unique(gdocs, return_inverse=True)
        freq = np.zeros(docs_u.size, dtype=np.float64)
        for w in np.unique(width):  # ascending distinct widths
            wt = 1.0 / max(int(w) - min_extent + 1, 1)
            freq += np.bincount(inv[width == w], minlength=docs_u.size) * wt
        return docs_u, freq

    def _phrase_leaf_starts(self, terms, cand, kp, offsets=None) -> np.ndarray:
        """(dense doc · kp + first-term position) of exact-phrase
        occurrences — Intervals.phrase leaf (BlockIntervalsSource):
        term_i at start + offsets[i] (consecutive ints by default; a
        DEFINED-GAPS phrase with IntervalExtend elements stretches them —
        Block chaining over the extended boundaries). Vectorized
        key-membership walk over candidate docs."""
        tps = [self.term_postings(t) for t in terms]
        if any(tp is None for tp in tps):
            return np.zeros(0, dtype=np.int64)
        offs = tuple(range(len(terms))) if offsets is None else tuple(offsets)
        dd, pp = tps[0].occurrences(cand)[:2]
        if dd.size == 0:
            return np.zeros(0, dtype=np.int64)
        k0 = np.searchsorted(cand, dd) * kp + pp
        k0.sort()
        for i in range(1, len(terms)):
            dd, pp = tps[i].occurrences(cand)[:2]
            if dd.size == 0:
                return np.zeros(0, dtype=np.int64)
            ki = np.searchsorted(cand, dd) * kp + pp
            ki.sort()
            k0 = k0[np.isin(k0 + np.int64(offs[i]), ki)]
            if k0.size == 0:
                return k0
        return k0

    def _interval_enumerate(self, q: IntervalNear):
        """All minimal intervals of ``q`` after max_gaps/max_width, as
        (global docids, starts, ends, min_extent) sorted by (doc, start).
        Shared by scoring (_interval_fold) and containment filters."""
        no_hit = (_EMPTY, _EMPTY, _EMPTY, 0)
        slots = q.slots
        exts = q.slot_extents
        ext_total = int(sum(exts))
        m = len(slots)
        if m == 0:
            return no_hit
        # candidate docs: ≥1 alternative leaf of every slot (slot =
        # Intervals.or → union of leaf doc sets; a phrase leaf's candidate
        # superset is the conjunction of its terms' doc sets)
        cand: np.ndarray | None = None
        for alts in slots:
            ds = []
            for leaf in alts:
                ld: np.ndarray | None = None
                for t in leaf:
                    tp = self.term_postings(t)
                    if tp is None:
                        ld = _EMPTY
                        break
                    ld = tp.decode_all()[0] if ld is None else tp.intersect(ld)
                    if ld.size == 0:
                        break
                if ld is not None and ld.size:
                    ds.append(ld)
            if not ds:
                return no_hit
            u = ds[0] if len(ds) == 1 else np.unique(np.concatenate(ds))
            cand = u if cand is None else cand[np.isin(cand, u)]
            if cand.size == 0:
                return no_hit
        kp = np.int64(1) << np.int64(31)  # positions < 2^31 (int32 contract)
        infos = q.slot_infos
        keys = []  # per slot: sorted (dense doc idx · kp + CLIPPED start)
        dends = []  # per slot: end − start per occurrence (int scalar when
        # no alternative has a left padding — the historical fast path) —
        # extended leaves (IntervalExtend) shift the start left by
        # ``before`` (clipped at 0, so doc-start occurrences shrink) and
        # the end right by ``after``
        for alts in infos:
            parts_k: list[np.ndarray] = []
            parts_d: list[np.ndarray] = []
            any_before = any(info[3] > 0 for info in alts)
            for (terms, rel, extent, before) in alts:
                if len(terms) == 1:
                    tp = self.term_postings(terms[0])
                    if tp is None:
                        continue
                    dd, pp = tp.occurrences(cand)[:2]
                    if dd.size == 0:
                        continue
                    raw = np.searchsorted(cand, dd) * kp + pp
                else:
                    raw = self._phrase_leaf_starts(terms, cand, kp, rel)
                    if raw.size == 0:
                        continue
                if before > 0:
                    p0 = raw % kp
                    shift = np.minimum(p0, np.int64(before))
                    parts_k.append(raw - shift)
                    parts_d.append(
                        np.int64(extent - 1) - (np.int64(before) - shift)
                    )
                else:
                    parts_k.append(raw)
                    parts_d.append(
                        np.full(raw.size, extent - 1, dtype=np.int64)
                        if any_before
                        else None  # scalar lane
                    )
            if not parts_k:
                return no_hit
            if not any_before:
                kk = parts_k[0] if len(parts_k) == 1 else np.concatenate(parts_k)
                if len(parts_k) > 1:
                    kk.sort()
                keys.append(kk)
                dends.append(int(alts[0][2] - 1))
            else:
                kk = np.concatenate(parts_k)
                dd_ = np.concatenate(parts_d)
                # sort by key; equal clipped starts order by SMALLER end so
                # the greedy ordered walk picks the minimal continuation
                order = np.lexsort((dd_, kk))
                keys.append(kk[order])
                dends.append(dd_[order])

        def _dend(t: int, jdx):
            d = dends[t]
            return d if isinstance(d, int) else d[jdx]

        # padded path: some slot occurrence widths were clipped at doc
        # start, so the gaps filter must use the ACTUAL chained sub widths
        # (ExtendedIntervalIterator clamps start at 0 and the reference's
        # slop = width() − Σ subIterator.width() sees the CLIPPED widths —
        # OrderedIntervalsSource.java:165-169), not the nominal ext_total
        padded = any(not isinstance(d, int) for d in dends)
        ext_act = None
        if q.ordered:
            # each leaf occurrence must START strictly after the previous
            # leaf occurrence's END (extended/clipped boundaries)
            k0 = keys[0]
            doc_i = k0 // kp
            starts = k0 % kp
            d0 = _dend(0, np.arange(k0.size))
            cur_end = k0 + d0
            if padded:
                ext_act = np.zeros(k0.size, dtype=np.int64) + np.asarray(d0) + 1
            for t in range(1, m):
                kt = keys[t]
                idx = np.searchsorted(kt, cur_end, side="right")
                ok = idx < kt.size
                jdx = np.minimum(idx, kt.size - 1)
                nxt = kt[jdx]
                ok &= (nxt // kp) == doc_i
                doc_i, starts = doc_i[ok], starts[ok]
                dt = _dend(t, jdx[ok])
                cur_end = nxt[ok] + dt
                if padded:
                    ext_act = ext_act[ok] + np.asarray(dt) + 1
                if doc_i.size == 0:
                    return no_hit
            ends = cur_end % kp
        else:
            # span = [candidate start s, max over slots of (first own
            # occurrence with start >= s) end]; the j-th copy of a
            # repeated slot takes its (j+1)-th occurrence at/after s
            # (RepeatingIntervalsSource consecutive-window semantics), so
            # equal slots never share one occurrence
            dup = q.slot_dup_ranks
            allk = np.concatenate(keys)
            allk.sort()
            doc_i = allk // kp
            starts = allk % kp
            endp = np.zeros(allk.size, dtype=np.int64)
            ok = np.ones(allk.size, dtype=bool)
            if padded:
                ext_act = np.zeros(allk.size, dtype=np.int64)
            for t, kt in enumerate(keys):
                idx = np.searchsorted(kt, allk, side="left") + dup[t]
                okt = idx < kt.size
                jdx = np.minimum(idx, kt.size - 1)
                nxt = kt[jdx]
                okt &= (nxt // kp) == doc_i
                ok &= okt
                dt = _dend(t, jdx)
                np.maximum(endp, nxt % kp + dt, out=endp)
                if padded:
                    ext_act += np.asarray(dt) + 1
            doc_i, starts, ends = doc_i[ok], starts[ok], endp[ok]
            if padded:
                ext_act = ext_act[ok]
            if doc_i.size == 0:
                return no_hit
        # minimality: last row per (doc, end) run == max start per end
        # (sufficient alone on the unpadded path — see the monotonicity
        # proof in _interval_match's docstring). Padded slots clip starts
        # at 0, so several candidates can share a start with growing ends
        # (nested) — the full containment antichain re-establishes
        # minimality there.
        if padded:
            doc_i, starts, ends, kidx = _containment_antichain(
                doc_i, starts, ends, kp, return_index=True
            )
            ext_act = ext_act[kidx]
        else:
            key2 = doc_i * kp + ends
            last = np.empty(key2.size, dtype=bool)
            last[-1] = True
            last[:-1] = key2[1:] != key2[:-1]
            doc_i, starts, ends = doc_i[last], starts[last], ends[last]
        width = ends - starts + 1
        keep = np.ones(doc_i.size, dtype=bool)
        if q.max_gaps >= 0:
            # slop per surviving interval = width − Σ actual (clipped) sub
            # widths along its chain; on the unpadded path every occurrence
            # has its nominal extent so the sum is the constant ext_total
            keep &= (width - (ext_act if padded else ext_total)) <= q.max_gaps
        if q.max_width >= 0:
            keep &= width <= q.max_width
        doc_i, starts, ends = doc_i[keep], starts[keep], ends[keep]
        if doc_i.size == 0:
            return no_hit
        # scoring minExtent deduplicates repeat groups (a Repeating source
        # contributes its child's extent once) while the gaps filter above
        # used the FULL ext_total (Rep.width() sums every copy's width)
        return cand[doc_i], starts, ends, q.min_extent

    def _interval_atleast_match(self, q: IntervalAtLeast):
        """(docids, sloppy freqs) over the intervals EMITTED by the
        reference's minimum-should-match iterator (see
        _interval_atleast_enumerate), folded with minExtent = sum of the
        min_match smallest sub minExtents."""
        d, starts, ends, ext = self._interval_atleast_enumerate(q)
        return self._interval_fold(d, ends - starts + 1, ext)

    def _interval_atleast_enumerate(self, q: IntervalAtLeast):
        """Intervals.atLeast — the stream of intervals emitted by
        MinimumShouldMatchIntervalsSource's two-queue iterator
        (queries/intervals/MinimumShouldMatchIntervalsSource.java:155-331),
        after max_gaps/max_width (FilteredIntervalsSource wraps OUTSIDE the
        iterator, so gaps() filtering sees the iterator's own slop), as
        (global docids, starts, ends, min_extent) sorted by (doc, start).

        Each sub-source first enumerates its own minimal intervals
        vectorized (_interval_enumerate); candidate docs (>= min_match
        sub-sources present, the DisjunctionDISIApproximation doc match)
        are found with one unique/count pass; only those docs run the
        per-doc literal replay. The replay preserves the reference's
        emission behavior exactly — including NON-minimal emissions (the
        emitted end is the max end ever added to the proximity queue) and
        the early give-up when a sub-iterator popped by the
        advance-past-start loop is exhausted (:221-231: the refill from
        the background queue only happens when the popped iterator had
        another interval), which can end a doc's stream with sub-sources
        still unconsumed. Ties in the queues are broken by sub-source
        index (the reference's heap order on equal keys is unspecified)."""
        no_hit = (_EMPTY, _EMPTY, _EMPTY, 0)
        m = q.min_match
        nears = list(q.sub_nears)
        if m == len(nears):
            # the factory rewrites min_match==n to unordered(sources) for
            # ALL source kinds (Intervals.java:567-570); unordered dedups
            # EQUAL sources into RepeatingIntervalsSource. The leaf-only
            # case is rewritten away before reaching here; with
            # IntervalNear subtrees retained, emulate the dedup: collapse
            # duplicates into one consecutive-window stream carrying
            # Σ copy widths so equal sources never share one occurrence.
            groups: list[list] = []  # [source, count]
            for nr in nears:
                for g in groups:
                    if g[0] == nr:
                        g[1] += 1
                        break
                else:
                    groups.append([nr, 1])
            if len(groups) < len(nears):
                enums = []
                for nr, c in groups:
                    d, s, e, _x = self._interval_enumerate(nr)
                    if c > 1:
                        d, s, e, w = _repeat_windows(d, s, e, c)
                    else:
                        w = None
                    enums.append((d, s, e, w))
                m = len(groups)
            else:
                enums = [
                    (d, s, e, None)
                    for (d, s, e, _x) in (
                        self._interval_enumerate(nr) for nr in nears
                    )
                ]
        else:
            enums = [
                (d, s, e, None)
                for (d, s, e, _x) in (
                    self._interval_enumerate(nr) for nr in nears
                )
            ]
        doc_lists = [d for (d, _s, _e, _w) in enums if d.size]
        if len(doc_lists) < m:
            return no_hit
        docs_u, counts = np.unique(np.concatenate(doc_lists), return_counts=True)
        cand = docs_u[counts >= m]
        if cand.size == 0:
            return no_hit
        # per-sub [lo, hi) row ranges per candidate doc (subs sorted by doc)
        slices = []
        for (d, s, e, w) in enums:
            if d.size == 0:
                continue
            lo = np.searchsorted(d, cand, side="left")
            hi = np.searchsorted(d, cand, side="right")
            slices.append((s, e, w, lo, hi))
        # Vectorized fast path (the overwhelmingly common shape for
        # non-stopword terms): docs where EXACTLY m sub-sources are
        # present, each contributing ONE interval. The replay then emits
        # exactly [(min start, max end, slop)]: reset() moves all m
        # singletons into the proximity queue (background empties),
        # queueEnd = max end, and both the minimize loop and the outer
        # advance stop on their first failed refill. Docs outside this
        # shape (any sub with 2+ intervals in the doc, or more than m
        # present subs competing for the proximity queue) take the exact
        # per-doc replay below — its cost is O(T log m) for T intervals
        # in the doc, bounded by the doc's term frequency sum (measured
        # ~4 µs/doc at m=3 singleton shape vs ~0.04 µs/doc vectorized).
        los = np.stack([lo for (_s, _e, _w, lo, _h) in slices])
        his = np.stack([hi for (_s, _e, _w, _l, hi) in slices])
        present = his > los
        n_present = present.sum(axis=0)
        all_single = ((his - los) <= 1).all(axis=0)
        fast = (n_present == m) & all_single
        out_parts_d: list[np.ndarray] = []
        out_parts_s: list[np.ndarray] = []
        out_parts_e: list[np.ndarray] = []
        if fast.any():
            fl = los[:, fast]
            fp = present[:, fast]
            big = np.int64(1) << 60
            sa = np.full(fl.shape, big, dtype=np.int64)
            ea = np.full(fl.shape, -big, dtype=np.int64)
            wa = np.zeros(fl.shape, dtype=np.int64)
            for si, (s, e, w, _l, _h) in enumerate(slices):
                idx = np.minimum(fl[si], max(len(s) - 1, 0))
                pm = fp[si]
                sa[si, pm] = s[idx][pm]
                ea[si, pm] = e[idx][pm]
                wa[si, pm] = (
                    (e[idx] - s[idx] + 1) if w is None else w[idx]
                )[pm]
            s0v = sa.min(axis=0)
            e0v = ea.max(axis=0)
            slopv = (e0v - s0v + 1) - wa.sum(axis=0)
            keep = np.ones(s0v.shape, dtype=bool)
            if q.max_gaps >= 0:
                keep &= slopv <= q.max_gaps
            if q.max_width >= 0:
                keep &= (e0v - s0v + 1) <= q.max_width
            out_parts_d.append(cand[fast][keep])
            out_parts_s.append(s0v[keep])
            out_parts_e.append(e0v[keep])
        out_d: list[int] = []
        out_s: list[int] = []
        out_e: list[int] = []
        for ci in np.flatnonzero(~fast):
            doc_subs = []
            for (s, e, w, lo, hi) in slices:
                a, b = int(lo[ci]), int(hi[ci])
                if b > a:
                    doc_subs.append(
                        (s[a:b], e[a:b], None if w is None else w[a:b])
                    )
            if len(doc_subs) < m:
                continue
            doc = int(cand[ci])
            for (s0, e0, slop) in _atleast_replay(doc_subs, m):
                if q.max_gaps >= 0 and slop > q.max_gaps:
                    continue
                if q.max_width >= 0 and (e0 - s0 + 1) > q.max_width:
                    continue
                out_d.append(doc)
                out_s.append(s0)
                out_e.append(e0)
        out_parts_d.append(np.asarray(out_d, dtype=np.int64))
        out_parts_s.append(np.asarray(out_s, dtype=np.int64))
        out_parts_e.append(np.asarray(out_e, dtype=np.int64))
        d_arr = np.concatenate(out_parts_d)
        if d_arr.size == 0:
            return no_hit
        s_arr = np.concatenate(out_parts_s)
        e_arr = np.concatenate(out_parts_e)
        # the emission stream is per-doc but (with wide sub-intervals) not
        # necessarily start-ordered; containment filtering over this stream
        # (_interval_filter_match) requires (doc, start) order
        order = np.lexsort((s_arr, d_arr))
        return d_arr[order], s_arr[order], e_arr[order], q.min_extent

    def _enumerate_interval_source(self, src):
        """Route an interval source to its enumerator — an
        IntervalAtLeast contributes its EMITTED stream
        (FilteringIntervalsSource composes over whatever the wrapped
        iterator yields, non-minimal emissions included); an IntervalOr
        contributes the re-minimalized union of its subsources."""
        if isinstance(src, IntervalAtLeast):
            return self._interval_atleast_enumerate(src)
        if isinstance(src, IntervalOr):
            return self._interval_or_enumerate(src)
        if isinstance(src, IntervalFilter):
            return self._interval_filter_enumerate(src)
        return self._interval_enumerate(src)

    def _interval_or_enumerate(self, q: IntervalOr):
        """Intervals.or over whole sources (DisjunctionIntervalsSource):
        union of the subsources' enumerations, re-minimalized ACROSS
        sources (one source's interval strictly containing another's is
        dropped), as (global docids, starts, ends, min minExtent)."""
        no_hit = (_EMPTY, _EMPTY, _EMPTY, 0)
        parts = [self._enumerate_interval_source(s) for s in q.sources]
        parts = [(d, s, e) for (d, s, e, _x) in parts if d.size]
        if not parts:
            return no_hit
        d = np.concatenate([p[0] for p in parts])
        s = np.concatenate([p[1] for p in parts])
        e = np.concatenate([p[2] for p in parts])
        # densify the GLOBAL docid domain before keying: the antichain keys
        # rows as doc·2^31+end, which overflows int64 at 10^12-scale global
        # docids (same reason _interval_filter_enumerate densifies)
        du = np.unique(d)
        di = np.searchsorted(du, d)
        kp = np.int64(1) << np.int64(31)
        di, s, e = _containment_antichain(di, s, e, kp)
        return du[di], s, e, q.min_extent

    def _interval_or_match(self, q: IntervalOr):
        d, starts, ends, ext = self._interval_or_enumerate(q)
        return self._interval_fold(d, ends - starts + 1, ext)

    def _interval_filter_match(self, q):
        """(docids, sloppy freqs) over the filtered source's surviving
        intervals (see _interval_filter_enumerate)."""
        ad, as_, ae, ext = self._interval_filter_enumerate(q)
        return self._interval_fold(ad, ae - as_ + 1, ext)

    def _interval_filter_enumerate(self, q):
        """Surviving intervals of a containment-filtered interval source
        (Intervals.containing/notContaining/containedBy/notContainedBy —
        FilteringIntervalsSource passes SOURCE intervals through, so the
        weight keeps the source's minExtent). Containment tests are
        vectorized (pandas grouped cummin/cummax over per-doc runs):
        reference intervals sorted by (doc, start) carry a
        per-doc suffix-min of ends (for containing: ∃ ref with
        start >= s and end <= e iff the suffix-min at the first ref with
        start >= s is <= e) or prefix-max of ends (for contained_by).
        Returns (docids, starts, ends, source minExtent)."""
        import pandas as pd

        no_hit = (_EMPTY, _EMPTY, _EMPTY, 0)
        ad, as_, ae, ext = self._enumerate_interval_source(q.source)
        if ad.size == 0:
            return no_hit
        bd, bs, be, _ = self._enumerate_interval_source(q.reference)
        negate = q.kind.startswith("not_") or q.kind == "non_overlapping"
        if bd.size == 0:
            if negate:
                return ad, as_, ae, ext
            return no_hit
        # dense shared doc domain keeps (doc · kp + pos) inside int64 at
        # 10^12-docid global coordinates
        du = np.union1d(ad, bd)
        ai = np.searchsorted(du, ad)
        bi = np.searchsorted(du, bd)
        kp = np.int64(1) << np.int64(31)
        bkey = bi * kp + bs
        akey = ai * kp + as_
        if q.kind == "before":
            # ∃ ref with ref.start > src.end ⇔ src.end < per-doc max start
            agg = pd.Series(bs).groupby(pd.Series(bi)).max().reindex(ai)
            m = agg.to_numpy(dtype=np.float64)
            rel = (~np.isnan(m)) & (ae < m)
        elif q.kind == "after":
            # ∃ ref with ref.end < src.start ⇔ src.start > per-doc min end
            agg = pd.Series(be).groupby(pd.Series(bi)).min().reindex(ai)
            m = agg.to_numpy(dtype=np.float64)
            rel = (~np.isnan(m)) & (as_ > m)
        elif q.kind in ("overlapping", "non_overlapping"):
            # ∃ ref with ref.start <= src.end AND ref.end >= src.start:
            # last ref (by start) with start <= src.end, prefix-max of ends
            prefmax = (
                pd.Series(be).groupby(pd.Series(bi)).cummax().to_numpy()
            )
            j = np.searchsorted(bkey, ai * kp + ae + 1, side="left") - 1
            ok = j >= 0
            jj = np.maximum(j, 0)
            rel = ok & (bi[jj] == ai) & (prefmax[jj] >= as_)
        elif q.kind.endswith("containing"):
            suffmin = (
                pd.Series(be[::-1])
                .groupby(pd.Series(bi[::-1]))
                .cummin()
                .to_numpy()[::-1]
            )
            j = np.searchsorted(bkey, akey, side="left")
            ok = j < bkey.size
            jj = np.minimum(j, bkey.size - 1)
            rel = ok & (bi[jj] == ai) & (suffmin[jj] <= ae)
        else:  # contained_by / not_contained_by
            prefmax = (
                pd.Series(be).groupby(pd.Series(bi)).cummax().to_numpy()
            )
            j = np.searchsorted(bkey, akey, side="right") - 1
            ok = j >= 0
            jj = np.maximum(j, 0)
            rel = ok & (bi[jj] == ai) & (prefmax[jj] >= ae)
        keep = ~rel if negate else rel
        return ad[keep], as_[keep], ae[keep], ext

    def _evaluate_interval(self, q):
        sc = self.ctx.scorers[q]
        dtype = _float_dtype(sc)
        if isinstance(q, IntervalFilter):
            d, f = self._interval_filter_match(q)
        elif isinstance(q, IntervalAtLeast):
            d, f = self._interval_atleast_match(q)
        elif isinstance(q, IntervalOr):
            d, f = self._interval_or_match(q)
        else:
            d, f = self._interval_match(q)
        if d.size == 0:
            return _EMPTY, np.zeros(0, dtype=dtype)
        return d, sc.score(f).astype(dtype)

    # --- span family (queries/spans) ------------------------------------

    _SPAN_EMPTY = (_EMPTY, _EMPTY, _EMPTY, _EMPTY, _EMPTY)

    @staticmethod
    def _payload_pred(pl: np.ndarray, value: int, op: str) -> np.ndarray:
        if op == "eq":
            return pl == value
        if op == "gt":
            return pl > value
        if op == "gte":
            return pl >= value
        if op == "lt":
            return pl < value
        return pl <= value  # lte (op validated at construction)

    def _span_doc_superset(self, q) -> np.ndarray:
        """Sorted docid superset that could hold a match of the span tree
        (conjunctive nodes intersect, disjunctive union) — the candidate
        restriction threaded through enumeration so only the candidates'
        occurrences are gathered (the ConjunctionDISI analog for spans)."""
        from .spans import (
            FieldMaskedSpan,
            PayloadFilteredTerm,
            SpanContaining,
            SpanNear,
            SpanNot,
            SpanOr,
            SpanPositionRange,
            SpanTerm,
            SpanWithin,
        )

        if isinstance(q, FieldMaskedSpan):
            return self._span_doc_superset(q.clause)
        if isinstance(q, PayloadFilteredTerm):
            # superset: payload filtering only removes occurrences
            tp = self.term_postings(q.term)
            return tp.decode_all()[0] if tp is not None else _EMPTY
        if isinstance(q, SpanTerm):
            tp = self.term_postings(q.term)
            return tp.decode_all()[0] if tp is not None else _EMPTY
        if isinstance(q, SpanNear):
            cand = None
            for c in q.clauses:
                d = self._span_doc_superset(c)
                cand = d if cand is None else cand[np.isin(cand, d)]
                if cand.size == 0:
                    return _EMPTY
            return cand
        if isinstance(q, SpanOr):
            parts = [self._span_doc_superset(c) for c in q.clauses]
            parts = [p for p in parts if p.size]
            return np.unique(np.concatenate(parts)) if parts else _EMPTY
        if isinstance(q, SpanNot):
            return self._span_doc_superset(q.include)
        if isinstance(q, SpanPositionRange):
            return self._span_doc_superset(q.match)
        if isinstance(q, (SpanContaining, SpanWithin)):
            b = self._span_doc_superset(q.big)
            if b.size == 0:
                return _EMPTY
            return b[np.isin(b, self._span_doc_superset(q.little))]
        raise TypeError(f"not a span query: {q!r}")

    @staticmethod
    def _span_sort(d, s, e, w, n):
        order = np.lexsort((e, s, d))
        return d[order], s[order], e[order], w[order], n[order]

    def _span_enumerate(self, q, cand):
        """Enumerated spans of the node as (docids, starts, ends(excl),
        widths, norms) sorted by (doc, start, end) — the reference's
        per-doc enumeration order (SpanScorer asserts start ascending).
        Width carries each node's own semantics (see spans.py header)."""
        from .spans import (
            FieldMaskedSpan,
            PayloadFilteredTerm,
            SpanContaining,
            SpanNear,
            SpanNot,
            SpanOr,
            SpanPositionRange,
            SpanTerm,
            SpanWithin,
        )

        if isinstance(q, FieldMaskedSpan):
            # FieldMaskingSpanQuery.createWeight delegates to the masked
            # query — the mask changes getField() only, never the spans
            return self._span_enumerate(q.clause, cand)
        if isinstance(q, (SpanTerm, PayloadFilteredTerm)):
            tp = self.term_postings(q.term)
            if tp is None:
                return self._SPAN_EMPTY
            payload = isinstance(q, PayloadFilteredTerm)
            d, p, n, pl = tp.occurrences(cand, payloads=payload)
            if payload:
                # SpanPayloadCheckQuery's collect-and-compare as a mask; a
                # position without a stored payload (-1) matches nothing
                keep = (pl >= 0) & self._payload_pred(pl, q.value, q.op)
                d, p, n = d[keep], p[keep], n[keep]
            return d, p, p + 1, np.zeros(p.size, dtype=np.int64), n
        if isinstance(q, SpanOr):
            parts = [self._span_enumerate(c, cand) for c in q.clauses]
            parts = [p for p in parts if p[0].size]
            if not parts:
                return self._SPAN_EMPTY
            if len(parts) == 1:
                return parts[0]
            cat = tuple(
                np.concatenate([p[j] for p in parts]) for j in range(5)
            )
            return self._span_sort(*cat)
        if isinstance(q, SpanNear):
            return (
                self._span_near_ordered(q, cand)
                if q.in_order
                else self._span_near_unordered(q, cand)
            )
        if isinstance(q, SpanPositionRange):
            d, s, e, w, n = self._span_enumerate(q.match, cand)
            keep = (s >= q.start) & (e <= q.end)
            return d[keep], s[keep], e[keep], w[keep], n[keep]
        if isinstance(q, SpanNot):
            return self._span_not(q, cand)
        if isinstance(q, (SpanContaining, SpanWithin)):
            return self._span_contain(q, cand)
        raise TypeError(f"not a span query: {q!r}")

    _KP = np.int64(1) << np.int64(31)  # positions/ends < 2^31 (int32)

    def _span_subs_common(self, clauses, cand):
        """Enumerate sub-clauses and restrict all to their common docs
        (ConjunctionSpans intersects sub iterators). Returns (subs, du) —
        du the sorted common docids — or (None, None) when empty."""
        subs = [self._span_enumerate(c, cand) for c in clauses]
        du = None
        for sub in subs:
            if sub[0].size == 0:
                return None, None
            u = np.unique(sub[0])
            du = u if du is None else du[np.isin(du, u)]
            if du.size == 0:
                return None, None
        out = []
        for sub in subs:
            keep = np.isin(sub[0], du)
            out.append(tuple(a[keep] for a in sub))
        return out, du

    def _span_near_ordered(self, q, cand):
        """NearSpansOrdered: one candidate per FIRST-clause span; each
        later clause takes its first span (in (start, end) order) whose
        start >= the previous clause's end — ``advancePosition``'s
        monotone pointer equals this declarative min-≥ because the
        targets are non-decreasing — width = Σ gaps, match iff
        width <= slop (NearSpansOrdered.java:85-105)."""
        subs, du = self._span_subs_common(q.clauses, cand)
        if subs is None:
            return self._SPAN_EMPTY
        kp = self._KP
        d0, s0, e0, _w0, n0 = subs[0]
        di = np.searchsorted(du, d0)
        starts, cur_end, width, norms = s0, e0, np.zeros(d0.size, np.int64), n0
        for t in range(1, len(subs)):
            dt, st, et, _wt, _nt = subs[t]
            key_t = np.searchsorted(du, dt) * kp + st
            target = di * kp + cur_end
            idx = np.searchsorted(key_t, target, side="left")
            ok = idx < key_t.size
            jj = np.minimum(idx, key_t.size - 1)
            ok &= (key_t[jj] // kp) == di
            di, starts, cur_end, width, norms = (
                di[ok], starts[ok], cur_end[ok], width[ok], norms[ok]
            )
            jj = jj[ok]
            width = width + (st[jj] - cur_end)
            cur_end = et[jj]
            if di.size == 0:
                return self._SPAN_EMPTY
        keep = width <= q.slop
        return (
            du[di[keep]], starts[keep], cur_end[keep], width[keep], norms[keep]
        )

    def _span_near_unordered(self, q, cand):
        """NearSpansUnordered: the advance-min sweep vectorized with the
        same rank decomposition as _sloppy_phrase_match — the sweep
        consumes sub-spans in merged (start, end) order, so the j-th
        state has top = merged row j and, per clause, current = the
        clause's first own merged row >= j; states run until a clause's
        rows exhaust. maxEnd is the running max over every end seen
        (currents + consumed prefix), totalSpanLength sums the currents'
        own lengths, and a state matches iff maxEnd - top.start -
        totalSpanLength <= slop with width = maxEnd - top.start
        (NearSpansUnordered.java:56-127). Ties at equal (start, end)
        break by clause index (the reference's PQ order is unspecified
        there)."""
        import pandas as pd

        subs, du = self._span_subs_common(q.clauses, cand)
        if subs is None:
            return self._SPAN_EMPTY
        m = len(subs)
        d = np.concatenate([s[0] for s in subs])
        s_ = np.concatenate([s[1] for s in subs])
        e = np.concatenate([s[2] for s in subs])
        n_ = np.concatenate([s[4] for s in subs])
        cl = np.concatenate(
            [np.full(subs[t][0].size, t, dtype=np.int64) for t in range(m)]
        )
        order = np.lexsort((cl, e, s_, d))
        d, s_, e, n_, cl = d[order], s_[order], e[order], n_[order], cl[order]
        n = d.size
        newdoc = np.empty(n, dtype=bool)
        newdoc[0] = True
        newdoc[1:] = d[1:] != d[:-1]
        doc_idx = np.cumsum(newdoc) - 1
        ndocs = int(doc_idx[-1]) + 1
        rows = np.arange(n, dtype=np.int64)
        maxend_cur = np.full(n, np.iinfo(np.int64).min, dtype=np.int64)
        total_len = np.zeros(n, dtype=np.int64)
        j_end = np.full(ndocs, np.iinfo(np.int64).max, dtype=np.int64)
        for t in range(m):
            idx_t = np.flatnonzero(cl == t)
            k = np.searchsorted(idx_t, rows, side="left")
            nxt = idx_t[np.minimum(k, idx_t.size - 1)]
            np.maximum(maxend_cur, e[nxt], out=maxend_cur)
            total_len += e[nxt] - s_[nxt]
            dt = doc_idx[idx_t]
            tail = np.empty(idx_t.size, dtype=bool)
            tail[-1] = True
            tail[:-1] = dt[1:] != dt[:-1]
            np.minimum.at(j_end, dt[tail], idx_t[tail])
        # exclusive per-doc running max of ends (consumed prefix)
        pref_incl = (
            pd.Series(e).groupby(pd.Series(doc_idx)).cummax().to_numpy()
        )
        pref_excl = np.empty(n, dtype=np.int64)
        pref_excl[0] = np.iinfo(np.int64).min
        pref_excl[1:] = pref_incl[:-1]
        pref_excl[newdoc] = np.iinfo(np.int64).min
        maxend = np.maximum(maxend_cur, pref_excl)
        valid = rows <= j_end[doc_idx]
        match = valid & (maxend - s_ - total_len <= q.slop)
        if not match.any():
            return self._SPAN_EMPTY
        return (
            d[match],
            s_[match],
            maxend[match],
            (maxend - s_)[match],
            n_[match],
        )

    def _span_not(self, q, cand):
        """SpanNotQuery's FilterSpans accept loop declaratively: the
        exclude pointer always rests at the FIRST exclude span (in
        enumeration order) with end > include.start - pre (skips only
        happen against earlier, smaller thresholds), so an include span
        drops iff that span exists in-doc and its start - post <
        include.end (SpanNotQuery.java:173-215)."""
        import pandas as pd

        inc = self._span_enumerate(q.include, cand)
        if inc[0].size == 0:
            return self._SPAN_EMPTY
        idocs = np.unique(inc[0])
        exc = self._span_enumerate(q.exclude, idocs)
        if exc[0].size == 0:
            return inc
        du = idocs
        ed, es, ee = exc[0], exc[1], exc[2]
        ei = np.searchsorted(du, ed)
        # per-doc running max of exclude ends: first j with end > thr ==
        # first j with cummax(end) > thr (the argmax index has end == cummax)
        cme = pd.Series(ee).groupby(pd.Series(ei)).cummax().to_numpy()
        kp2 = np.int64(1) << np.int64(33)
        ekey = ei * kp2 + (cme + np.int64(2))
        ii = np.searchsorted(du, inc[0])
        thr = np.maximum(inc[1] - np.int64(q.pre), np.int64(-1))
        j = np.searchsorted(ekey, ii * kp2 + (thr + np.int64(2)), side="right")
        ok = j < ekey.size
        jj = np.minimum(j, ekey.size - 1)
        reject = ok & (ei[jj] == ii) & (es[jj] - np.int64(q.post) < inc[2])
        keep = ~reject
        return tuple(a[keep] for a in inc)

    def _span_contain(self, q, cand):
        """SpanContaining / SpanWithin: the reference's two-pointer loops
        (SpanContainingQuery.java:93-110, SpanWithinQuery.java:93-131)
        expressed as first-≥ lookups — exact whenever the probed side's
        ends are non-decreasing within a doc (term/phrase-like sub-spans
        and ordered nears all qualify; the pointer discipline equals the
        declarative form there)."""
        import pandas as pd

        from .spans import SpanContaining

        containing = isinstance(q, SpanContaining)
        subs, du = self._span_subs_common((q.big, q.little), cand)
        if subs is None:
            return self._SPAN_EMPTY
        big, lit = subs
        kp = self._KP
        bi = np.searchsorted(du, big[0])
        li = np.searchsorted(du, lit[0])
        if containing:
            # keep big where the first little with start >= big.start has
            # end <= big.end
            lkey = li * kp + lit[1]
            j = np.searchsorted(lkey, bi * kp + big[1], side="left")
            ok = j < lkey.size
            jj = np.minimum(j, lkey.size - 1)
            keep = ok & (li[jj] == bi) & (lit[2][jj] <= big[2])
            return tuple(a[keep] for a in big)
        # within: keep little where the first big with end >= little.end
        # has start <= little.start
        cbe = pd.Series(big[2]).groupby(pd.Series(bi)).cummax().to_numpy()
        kp2 = np.int64(1) << np.int64(33)
        bkey = bi * kp2 + cbe
        j = np.searchsorted(bkey, li * kp2 + lit[2], side="left")
        ok = j < bkey.size
        jj = np.minimum(j, bkey.size - 1)
        keep = ok & (bi[jj] == li) & (big[1][jj] <= lit[1])
        return tuple(a[keep] for a in lit)

    def _span_match(self, q):
        """(docids, sloppy freqs, norms) of the span tree: per doc,
        freq = Σ 1/(1+width) accumulated per distinct width ascending,
        left-assoc float64 (SpanScorer.setFreqCurrentDoc's sum, grouped
        deterministically so an ANSI-SQL oracle reproduces it)."""
        cand = self._span_doc_superset(q)
        if cand.size == 0:
            return _EMPTY, np.zeros(0, dtype=np.float64), _EMPTY
        d, _s, _e, w, n = self._span_enumerate(q, cand)
        if d.size == 0:
            return _EMPTY, np.zeros(0, dtype=np.float64), _EMPTY
        docs_u, first_idx, inv = np.unique(d, return_index=True, return_inverse=True)
        freq = np.zeros(docs_u.size, dtype=np.float64)
        for width in np.unique(w):
            wt = 1.0 / (1.0 + int(width))
            freq += np.bincount(inv[w == width], minlength=docs_u.size) * wt
        return docs_u, freq, n[first_idx]

    def _evaluate_span(self, q):
        sc = self.ctx.scorers[q]
        dtype = _float_dtype(sc)
        d, f, m = self._span_match(q)
        if d.size == 0:
            return _EMPTY, np.zeros(0, dtype=dtype)
        return d, sc.score(f, m).astype(dtype)

    def _phrase_scores(self, q: PhraseQuery) -> tuple[np.ndarray, np.ndarray]:
        sc = self.ctx.scorers[q]
        dtype = _float_dtype(sc)
        d, f, m, ok = self._phrase_match(q)
        if not ok or d.size == 0:
            return _EMPTY, np.zeros(0, dtype=dtype)
        return d, sc.score(f, m).astype(dtype)

    # --- windowed block-max top-k over term disjuncts -------------------
    def _term_winmap(self, tq, tp, sc, off: int, n_win: int):
        """Memoized (per-window UB, window-sorted incidence) for one term."""
        got = self.ctx.eval_cache.get(("winmap", tq))
        if got is None:
            got = _term_window_map(tp, tp.block_ub(sc), off, n_win)
            self.ctx.eval_cache[("winmap", tq)] = got
        return got

    def blockmax_topk(self, term_qs: list, tie: float, k: int, after=None):
        """Windowed block-max top-k of a DisjunctionMaxQuery over term
        disjuncts; a single term is its one-disjunct case.

        Lucene routes dismax top-k through WANDScorer
        (BooleanScorerSupplier / DisjunctionMaxQuery.java rewrite to
        WAND-eligible shape) and single terms through ImpactsDISI
        (search/ImpactsDISI.java:67-110); here both use the MAXSCORE window
        machinery with the dismax upper bound per window:
        ``(1 - tie)·max_t ub_t + tie·Σ_t ub_t`` — for any doc in the
        window, score = max + tie·(sum − max) ≤ that bound since every
        per-term score is ≤ its window UB. Per-window evaluation applies
        the exact ``_evaluate_dismax`` combine (same operands, same float64
        accumulation order restricted to the window's docs), so results
        are rank- and score-identical to the exhaustive path."""
        tps, scs = [], []
        for tq in term_qs:
            tp = self.term_postings(tq.term)
            if tp is not None:
                tps.append(tp)
                scs.append(self.ctx.scorers[tq])
        if not tps:
            return _EMPTY, np.zeros(0, dtype=np.float32)
        dtype = _float_dtype(scs[0])
        # windows are relative to the segment's min docid: at web scale a
        # merged segment holds global docids, and a zero-based window array
        # over 10^12 ids would not fit — the offset keeps it O(segment size)
        off = self.ctx.min_doc
        n_win = (self.ctx.max_doc - 1 - off) // WINDOW_DOCS + 1
        sum_w = np.zeros(n_win, dtype=np.float64)
        max_w = np.zeros(n_win, dtype=np.float64)
        term_maps: list[tuple[np.ndarray, np.ndarray]] = []
        for i, (tp, sc) in enumerate(zip(tps, scs)):
            t_ub, wins_s, blocks_s = self._term_winmap(
                term_qs[i], tp, sc, off, n_win
            )
            sum_w += t_ub
            np.maximum(max_w, t_ub, out=max_w)
            term_maps.append((wins_s, blocks_s))
        # inflate by a few float32 ulps: the true doc score is accumulated in
        # float32 (round-to-nearest can round *up* past the float64 UB sum);
        # WANDScorer solves the same problem with scaled-long math (:61-117)
        ub_w = (max_w + tie * (sum_w - max_w)) * (1.0 + 4e-6)
        order = np.argsort(-ub_w, kind="stable")
        top_d = _EMPTY
        top_s = np.zeros(0, dtype=dtype)
        theta = -np.inf
        for w in order:
            w = int(w)
            # strict <: a window tying θ can still improve the docid tie-break
            if top_d.size >= k and ub_w[w] < theta:
                break
            lo_doc = off + w * WINDOW_DOCS
            # clamp: the last window of a docid slice must not leak docs that
            # belong to the next slice (they'd be double-counted there)
            hi_doc = min(lo_doc + WINDOW_DOCS, self.ctx.max_doc)
            parts = []
            for tp, sc, (wins_s, blocks_s) in zip(tps, scs, term_maps):
                lo_i = np.searchsorted(wins_s, w, side="left")
                hi_i = np.searchsorted(wins_s, w, side="right")
                if hi_i == lo_i:
                    continue
                d, f, m = tp.decode_blocks(blocks_s[lo_i:hi_i])
                sel = (d >= lo_doc) & (d < hi_doc)
                if not sel.any():
                    continue
                parts.append((d[sel], sc.score(f[sel], m[sel]).astype(dtype)))
            if not parts:
                continue
            if len(parts) == 1:
                # one list: max + tie·(sum − max) is the score itself
                d, s = parts[0]
            else:
                # exact _evaluate_dismax combine on the window's docs
                alld = np.concatenate([p[0] for p in parts])
                alls = np.concatenate([p[1] for p in parts]).astype(np.float64)
                uniq, inv = np.unique(alld, return_inverse=True)
                sums = np.zeros(uniq.size, dtype=np.float64)
                maxs = np.full(uniq.size, -np.inf, dtype=np.float64)
                np.add.at(sums, inv, alls)
                np.maximum.at(maxs, inv, alls)
                d = uniq
                s = (maxs + tie * (sums - maxs)).astype(dtype)
            if self.ctx.deleted is not None:
                keep = np.isin(d, self.ctx.deleted, invert=True)
                d, s = d[keep], s[keep]
            if after is not None:
                d, s = _after_filter(d, s, after)
            top_d = np.concatenate((top_d, d))
            top_s = np.concatenate((top_s, s))
            top_d, top_s = _topk(top_d, top_s, k)
            if top_d.size >= k:
                theta = float(top_s[-1])
        return top_d, top_s


def _term_window_map(tp: _TermPostings, ubs: np.ndarray, off: int, n_win: int):
    """Vectorized block→window assignment for one term: returns
    (per-window UB contribution, window-sorted incidence arrays
    (windows, block indices)) — one numpy pass over the (block, window)
    incidences instead of a per-block Python loop. A block straddling a
    slice boundary is clamped to this slice's window range."""
    if tp.n_blocks == 0:
        return np.zeros(n_win, dtype=np.float64), _EMPTY, _EMPTY
    wlo = np.clip(
        (np.asarray(tp.block_first, dtype=np.int64) - off) // WINDOW_DOCS, 0, n_win - 1
    )
    whi = np.clip(
        (np.asarray(tp.block_last, dtype=np.int64) - off) // WINDOW_DOCS, 0, n_win - 1
    )
    in_slice = (tp.block_last >= off) & (tp.block_first < off + n_win * WINDOW_DOCS)
    bidx = np.flatnonzero(in_slice)
    if bidx.size == 0:
        return np.zeros(n_win, dtype=np.float64), _EMPTY, _EMPTY
    wlo, whi = wlo[bidx], whi[bidx]
    spans = whi - wlo + 1
    total = int(spans.sum())
    # ragged arange: one row per (block, overlapped window) incidence
    starts = np.concatenate(([0], np.cumsum(spans)[:-1]))
    wins = (
        np.arange(total, dtype=np.int64)
        - np.repeat(starts, spans)
        + np.repeat(wlo, spans)
    )
    blocks = np.repeat(bidx, spans)
    ub_rep = np.repeat(np.asarray(ubs, dtype=np.float64)[bidx], spans)
    order = np.argsort(wins, kind="stable")
    wins_s, blocks_s, ub_s = wins[order], blocks[order], ub_rep[order]
    t_ub = np.zeros(n_win, dtype=np.float64)
    grp = np.flatnonzero(np.concatenate(([True], wins_s[1:] != wins_s[:-1])))
    t_ub[wins_s[grp]] = np.maximum.reduceat(ub_s, grp)
    return t_ub, wins_s, blocks_s


def batch_search_segment(
    ctx: SegmentContext, queries: dict[str, object], k: int
) -> tuple[list[str], np.ndarray, np.ndarray]:
    """Top-k per query for a BATCH of queries against one segment slice:
    ``search_segment`` per query on the one context, so the queries share
    its decoded postings, term scores and accumulators. Returns
    (query_ids, docids, scores) flattened."""
    qids: list[str] = []
    docid_parts: list[np.ndarray] = []
    score_parts: list[np.ndarray] = []
    for qid, q in queries.items():
        d, s = search_segment(ctx, q, k, shared=True)
        if d.size:
            qids.extend([qid] * d.size)
            docid_parts.append(d)
            score_parts.append(s.astype(np.float64))
    if not docid_parts:
        return [], _EMPTY, np.zeros(0, dtype=np.float64)
    return qids, np.concatenate(docid_parts), np.concatenate(score_parts)


def _after_filter(d: np.ndarray, s: np.ndarray, after: tuple):
    """searchAfter anchor (IndexSearcher.java:576): keep hits strictly below
    (score DESC, docid ASC) of the anchor — score < a OR (== a AND docid > d)."""
    a_score, a_doc = after
    keep = (s < a_score) | ((s == a_score) & (d > a_doc))
    return d[keep], s[keep]


def exhaustive_hits(
    ctx: SegmentContext, query, after: tuple | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """Every live hit (docid, score) of this segment slice, unsorted."""
    # the slice's hits only: straddling blocks decode docs owned by
    # neighbour slices; each doc must be scored by exactly one task
    d, sc = _SegmentSearcher(ctx)._rel(query)
    d = d + ctx.min_doc
    if ctx.deleted is not None and d.size:
        keep = np.isin(d, ctx.deleted, invert=True)  # live-docs check
        d, sc = d[keep], sc[keep]
    if after is not None:
        d, sc = _after_filter(d, sc, after)
    return d, sc


def search_segment(
    ctx: SegmentContext, query, k: int, after: tuple | None = None,
    shared: bool = False,
) -> tuple[np.ndarray, np.ndarray]:
    """Top-k (docids, scores) for this segment, tie-break score DESC then
    docid ASC (HitQueue.java:76-82). ``after=(score, docid)`` restricts to
    hits ranking strictly below the anchor (searchAfter pagination).
    ``shared``: the context serves a batch of queries, which score each term
    once into its memo. The one place an evaluator is picked (module
    docstring)."""
    if k <= 0:
        return _EMPTY, np.zeros(0, dtype=np.float64)
    # a slice of one window leaves the windowed top-k nothing to skip, and a
    # batch's memoised term scores make the exhaustive top-k one partition
    if not shared and ctx.max_doc - ctx.min_doc > WINDOW_DOCS:
        s = _SegmentSearcher(ctx)
        if isinstance(query, TermQuery):
            return s.blockmax_topk([query], 0.0, k, after=after)
        if isinstance(query, DisjunctionMaxQuery) and all(
            isinstance(c, TermQuery) for c in query.disjuncts
        ):
            return s.blockmax_topk(
                list(query.disjuncts), query.tie_breaker, k, after=after
            )
    return _topk(*exhaustive_hits(ctx, query, after), k)
