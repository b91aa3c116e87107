"""Query AST + classic-syntax parser + logical rewrite.

Grammar follows Lucene's classic QueryParser surface (reference:
lucene/queryparser/src/java/org/apache/lucene/queryparser/classic/QueryParser.jj:256):
``a AND b``, ``a OR b``, ``NOT a``, ``+a -b``, ``"a phrase"``, ``"a b"~2``
(sloppy phrase), parentheses, ``prefix*``, ``wild*card`` / ``w?ld``,
``/regex/``, ``fuzzy~`` / ``fuzzy~1``, ``[a TO b]`` / ``{a TO b}`` term
ranges, and ``^boost`` on any atom. Default operator is OR (QueryParserBase
default). Leaf text is re-analyzed with the *same* analyzer as the index
(QueryParserBase ``newFieldQuery`` — index/query symmetry); a leaf that
analyzes to multiple tokens becomes a PhraseQuery, to zero tokens
(stopword) is dropped. Multi-term patterns are lowercased but not analyzed
(Analyzer.normalize semantics).

Rewrites mirror BooleanQuery.rewrite (lucene/core/src/java/org/apache/lucene/
search/BooleanQuery.java:270-474): 1-clause unwrap, nested SHOULD-only
flatten, duplicate-clause dedup, empty → MatchNoDocs; applied to fixpoint
(IndexSearcher.java:862-871). Boosts are distributed multiplicatively into
leaves exactly as Lucene's createWeight(query, scoreMode, boost) threads the
boost down the Weight tree (search/BooleanWeight.java passes boost to every
scoring clause; BoostQuery.java:29 multiplies).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field, replace

__all__ = [
    "TermQuery",
    "PhraseQuery",
    "MultiPhraseQuery",
    "PrefixQuery",
    "WildcardQuery",
    "RegexpQuery",
    "FuzzyQuery",
    "TermRangeQuery",
    "TermInSetQuery",
    "SynonymQuery",
    "DisjunctionMaxQuery",
    "ConstantScoreQuery",
    "BooleanQuery",
    "MatchNoDocsQuery",
    "MatchAllDocsQuery",
    "parse_query",
    "rewrite",
    "collect_terms",
    "boosted",
    "wildcard_to_regex",
    "ngram_phrase",
    "ngram_phrase_rewrite",
    "analyzed_text_intervals",
]


def wildcard_to_regex(pattern: str) -> tuple[str, str]:
    """(literal_prefix, anchored_regex) for a ``*``/``?`` wildcard pattern
    (WildcardQuery.java:38 WILDCARD_STRING/WILDCARD_CHAR automaton).
    ``\\x`` escapes make x literal — WildcardQuery.toAutomaton's escape
    handling (WildcardQuery.java:73-90)."""
    out: list[str] = []
    lit: list[str] = []
    in_lit = True
    i = 0
    while i < len(pattern):
        ch = pattern[i]
        if ch == "\\" and i + 1 < len(pattern):
            out.append(re.escape(pattern[i + 1]))
            if in_lit:
                lit.append(pattern[i + 1])
            i += 2
            continue
        if ch == "*":
            in_lit = False
            out.append(".*")
        elif ch == "?":
            in_lit = False
            out.append(".")
        else:
            out.append(re.escape(ch))
            if in_lit:
                lit.append(ch)
        i += 1
    return "".join(lit), "^" + "".join(out) + "$"


@dataclass(frozen=True)
class TermQuery:
    term: str
    boost: float = 1.0
    # when nonzero, score with this docFreq instead of the term's own —
    # BlendedTermQuery.adjustFrequencies semantics (df = max across the
    # expanded set) used by FuzzyQuery's TopTermsBlendedFreqScoringRewrite
    df_override: int = 0
    # blended totalTermFreq (BlendedTermQuery.rewrite sums ttf across the
    # set); consulted only by ttf-reading similarities (LM family)
    ttf_override: int = 0


@dataclass(frozen=True)
class PhraseQuery:
    """``positions`` (PhraseQuery.Builder.add(term, position)): explicit
    term positions RELATIVE to the phrase start, allowing gaps — "AB"/0
    "CD"/2 matches docs where pos(CD) = pos(AB) + 2. None means the
    consecutive default (term i at position i). Only the exact (slop=0)
    matcher honors gaps; the sloppy matcher requires the default shape,
    matching the reference (sloppy scoring is defined over the dense
    position list)."""

    terms: tuple[str, ...]
    slop: int = 0
    boost: float = 1.0
    positions: tuple[int, ...] | None = None


@dataclass(frozen=True)
class MultiPhraseQuery:
    """Exact phrase with term alternatives per position
    (search/MultiPhraseQuery.java:53): ``slots`` is one tuple of
    alternative terms per phrase position; a doc matches where some
    combination of alternatives is position-adjacent. Scored like a phrase
    whose weight sums the idf of every involved term
    (MultiPhraseQuery scoring via idfExplain over all terms)."""

    slots: tuple[tuple[str, ...], ...]
    boost: float = 1.0


def ngram_phrase_rewrite(phrase: "PhraseQuery", n: int) -> "PhraseQuery":
    """NGramPhraseQuery.rewrite (search/NGramPhraseQuery.java:46-75): a
    phrase of CONSECUTIVE grams on an ``n``-gram tokenizer field needs only
    every n-th gram plus the last one — "ABCD" on a 2-gram field queries
    AB/0 CD/2 instead of AB/0 BC/1 CD/2 (the dropped grams are implied:
    character grams of contiguous text overlap, so AB at p and CD at p+2
    force BC at p+1). Optimizable iff slop == 0, n >= 2, >= 3 terms, and
    positions are consecutive — otherwise the phrase returns unchanged.
    Matching is identical; scoring uses the kept terms' stats, exactly as
    the reference's rewritten PhraseQuery does."""
    terms = phrase.terms
    poss = phrase.positions or tuple(range(len(terms)))
    optimizable = (
        phrase.slop == 0
        and n >= 2  # non-overlap n-gram cannot be optimized
        and len(terms) >= 3  # short ones can't be optimized
        and all(poss[i] == poss[i - 1] + 1 for i in range(1, len(poss)))
    )
    if not optimizable:
        return phrase
    keep = [i for i in range(len(terms)) if i % n == 0 or i == len(terms) - 1]
    return PhraseQuery(
        terms=tuple(terms[i] for i in keep),
        slop=0,
        boost=phrase.boost,
        positions=tuple(poss[i] for i in keep),
    )


def ngram_phrase(text: str, n: int = 2, boost: float = 1.0) -> "PhraseQuery":
    """Build the (rewritten) phrase for ``text`` over an ``n``-gram
    tokenizer field: gram the lowercased text like the index side
    (analysis/ngram.ngram_tokenizer_tokens), then apply the
    NGramPhraseQuery rewrite."""
    t = text.lower()
    grams = tuple(t[i : i + n] for i in range(len(t) - n + 1))
    if not grams:
        raise ValueError(f"query shorter than gram size {n}: {text!r}")
    return ngram_phrase_rewrite(PhraseQuery(grams, boost=boost), n)


@dataclass(frozen=True)
class PhrasePrefixQuery:
    """Exact phrase whose LAST position is a term *prefix* — the
    match_phrase_prefix shape (reference: search/PhraseWildcardQuery.java:66
    single-wildcard special case, and ComplexPhraseQueryParser's ``"a b*"``).
    Rewrites to a MultiPhraseQuery whose final slot is the prefix expansion
    (PhraseWildcardQuery rewrites to MultiPhraseQuery when every segment
    expansion fits, PhraseWildcardQuery.java:155-163)."""

    terms: tuple[str, ...]  # fixed leading positions
    prefix: str
    max_expansions: int = 128
    boost: float = 1.0


@dataclass(frozen=True)
class TermAutomatonQuery:
    """Automaton over terms (reference: lucene/sandbox/src/java/org/apache/
    lucene/sandbox/search/TermAutomatonQuery.java:64-118 — states +
    term-labeled transitions, accepted paths matched against consecutive
    token positions; the synonym-graph phrase shape, where alternatives may
    consume DIFFERENT numbers of positions — beyond MultiPhraseQuery).

    ``paths`` is the enumerated set of accepted term sequences (use
    TermAutomatonBuilder for the state/transition API; finite automata
    only, like a determinized graph token stream). A doc matches where any
    path's terms appear at consecutive positions; freq = number of distinct
    (start, length) match spans; scored like a phrase whose weight sums the
    idf of the automaton's distinct terms (TermAutomatonQuery createWeight
    gathers TermStates for every term id)."""

    paths: tuple[tuple[str, ...], ...]
    boost: float = 1.0

    def __post_init__(self):
        if any(len(p) == 0 for p in self.paths):
            raise ValueError("empty path in TermAutomatonQuery")

    @property
    def distinct_terms(self) -> tuple[str, ...]:
        return tuple(dict.fromkeys(t for p in self.paths for t in p))


class TermAutomatonBuilder:
    """State/transition builder mirroring TermAutomatonQuery's public API
    (createState/addTransition/setAccept/finish,
    sandbox/search/TermAutomatonQuery.java:88-118). ``finish`` enumerates
    the accepted paths from state 0 (the automaton must be acyclic — the
    determinized-graph-token-stream case) into a TermAutomatonQuery."""

    def __init__(self):
        self._n = 1  # state 0 = initial
        self._edges: dict[int, list[tuple[int, str]]] = {}
        self._accept: set[int] = set()

    def create_state(self) -> int:
        self._n += 1
        return self._n - 1

    def add_transition(self, src: int, dst: int, term: str) -> None:
        if not (0 <= src < self._n and 0 <= dst < self._n):
            raise ValueError("unknown state")
        self._edges.setdefault(src, []).append((dst, term))

    def set_accept(self, state: int, accept: bool = True) -> None:
        if accept:
            self._accept.add(state)
        else:
            self._accept.discard(state)

    def finish(self, max_paths: int = 256, boost: float = 1.0) -> TermAutomatonQuery:
        paths: list[tuple[str, ...]] = []

        def walk(state: int, prefix: tuple[str, ...], seen: frozenset[int]):
            if len(paths) >= max_paths:
                raise ValueError(f"more than {max_paths} accepted paths")
            if state in self._accept and prefix:
                paths.append(prefix)
            for dst, term in self._edges.get(state, ()):  # insertion order
                if dst in seen:
                    raise ValueError("cyclic automaton not supported")
                walk(dst, prefix + (term,), seen | {dst})

        walk(0, (), frozenset({0}))
        return TermAutomatonQuery(
            paths=tuple(dict.fromkeys(paths)), boost=boost
        )


@dataclass(frozen=True)
class PayloadScoreQuery:
    """Score docs by the per-position payload ints stored at the term's
    matched positions (reference: queries/src/java/org/apache/lucene/queries/
    payloads/PayloadScoreQuery.java:42-66 with PayloadFunction = Sum/Max/
    MinPayloadFunction and PayloadDecoder-style int decoding). ``func`` is
    one of sum|max|min|first; with ``include_span_score`` the payload
    aggregate is multiplied by the wrapped term's BM25 score
    (PayloadScoreQuery.java:204-208: payloadScore * spanScore)."""

    term: str
    func: str = "sum"
    include_span_score: bool = False
    boost: float = 1.0

    def __post_init__(self):
        if self.func not in ("sum", "max", "min", "first"):
            raise ValueError(f"unknown payload function {self.func!r}")


@dataclass(frozen=True)
class PhraseWildcardQuery:
    """Exact phrase with a wildcard pattern at ANY slot (reference:
    search/PhraseWildcardQuery.java:66 — multiple wildcards supported,
    ComplexPhraseQueryParser's ``"s* window"`` / ``"da?a stream"`` forms).
    A slot containing unescaped ``*``/``?`` expands against the term dict;
    rewrites to a MultiPhraseQuery when every slot's expansion fits
    (PhraseWildcardQuery.java:155-163), so scoring sums idf over all
    involved terms slot-major like MultiPhraseQuery."""

    slots: tuple[str, ...]  # literal term or wildcard pattern per slot
    max_expansions: int = 128
    boost: float = 1.0


@dataclass(frozen=True)
class PrefixQuery:
    prefix: str
    boost: float = 1.0


@dataclass(frozen=True)
class WildcardQuery:
    """``*`` = any run, ``?`` = any single char (search/WildcardQuery.java:38)."""

    pattern: str
    boost: float = 1.0


@dataclass(frozen=True)
class RegexpQuery:
    """Anchored regular expression over the term dictionary
    (search/RegexpQuery.java:44)."""

    pattern: str
    boost: float = 1.0


@dataclass(frozen=True)
class FuzzyQuery:
    """Damerau-Levenshtein ≤ max_edits expansion (search/FuzzyQuery.java:52);
    defaults mirror FuzzyQuery.defaultMaxEdits=2, defaultPrefixLength=0."""

    term: str
    max_edits: int = 2
    prefix_length: int = 0
    boost: float = 1.0


@dataclass(frozen=True)
class TermRangeQuery:
    """Lexicographic term range (search/TermRangeQuery.java:37); None bound =
    open end."""

    lower: str | None
    upper: str | None
    include_lower: bool = True
    include_upper: bool = True
    boost: float = 1.0


@dataclass(frozen=True)
class TermInSetQuery:
    """Large OR of exact terms (search/TermInSetQuery.java:66)."""

    terms: tuple[str, ...]
    boost: float = 1.0


@dataclass(frozen=True)
class SynonymQuery:
    """Scores as if all terms were one term: docFreq = max over terms,
    totalTermFreq = sum, per-doc freq = Σ matching term freqs
    (search/SynonymQuery.java:54 createWeight + SynonymScorer.freq)."""

    terms: tuple[str, ...]
    boost: float = 1.0


@dataclass(frozen=True)
class CombinedFieldQuery:
    """BM25F: scores a token as if the fields were one merged field
    (search/CombinedFieldQuery.java:273-315, MultiNormsLeafSimScorer):
    per-doc freq = Σ_f weight_f·freq_f, per-doc norm byte re-quantizes
    Σ_f weight_f·quantized_len_f, pseudo TermStatistics docFreq = max_f df,
    totalTermFreq = Σ trunc(weight·ttf), pseudo CollectionStatistics
    docCount = max_f docCount(f), sumTTF = Σ trunc(weight·sumTTF(f)).

    ``terms`` are the internal per-field term keys for one token,
    ``exists_terms`` the per-field existence lists (the norms source),
    both aligned with ``weights``."""

    terms: tuple[str, ...]
    exists_terms: tuple[str, ...]
    weights: tuple[float, ...]
    boost: float = 1.0


@dataclass(frozen=True)
class FeatureQuery:
    """Static ranking signal stored as a feature posting list's term freq
    (document/FeatureField.java:184-185, FeatureQuery.java). Score
    contribution per matching doc = ``function`` of the decoded value:
    log -> weight·ln(scaling + v); saturation -> weight·(1 - pivot/(v+pivot));
    sigmoid -> weight·(1 - pivot^a/(v^a + pivot^a)). Combine with text
    queries as a SHOULD clause (the FeatureField ranking recipe)."""

    feature: str
    function: str = "saturation"  # log | saturation | sigmoid
    weight: float = 1.0
    pivot: float | None = None
    a: float | None = None
    scaling: float | None = None
    boost: float = 1.0


@dataclass(frozen=True)
class IntervalPhrase:
    """Interval leaf matching an exact phrase (Intervals.phrase →
    BlockIntervalsSource: occurrences are fixed-width [start, start+L-1]
    spans of L consecutive term positions). Usable wherever a term leaf is
    (a slot of IntervalNear, alone or among Intervals.or alternatives).

    An element may be an :class:`IntervalExtend` wrapping a term — the
    reference's DEFINED-GAPS phrase (TestIntervals.testDefinedGaps):
    Block chaining runs over the EXTENDED boundaries, so
    phrase(a, extend(b, 1, 1), c) matches a@p, b@p+2, c@p+4 with extent
    1+3+1 = 5."""

    terms: tuple  # str | IntervalExtend(str)

    def __post_init__(self):
        ok = all(
            isinstance(t, str)
            or (isinstance(t, IntervalExtend) and isinstance(t.base, str))
            for t in self.terms
        )
        if not self.terms or not ok:
            raise ValueError(
                "IntervalPhrase needs 1+ terms (str or IntervalExtend(str))"
            )


@dataclass(frozen=True)
class IntervalPrefix:
    """Intervals.prefix (queries/intervals/Intervals.java:236): a slot
    leaf expanding to Intervals.or of every index term starting with
    ``prefix``, resolved at query time against the term dict (the searcher
    rewrite). More than ``max_expansions`` matching terms is an error —
    the reference throws at 128 (Intervals.java DEFAULT_MAX_EXPANSIONS)."""

    prefix: str
    max_expansions: int = 128


@dataclass(frozen=True)
class IntervalWildcard:
    """Intervals.wildcard (Intervals.java:255): like :class:`IntervalPrefix`
    with Lucene wildcard syntax (* and ?)."""

    pattern: str
    max_expansions: int = 128


_INTERVAL_MULTITERM = (IntervalPrefix, IntervalWildcard)


@dataclass(frozen=True)
class IntervalExtend:
    """Intervals.extend (Intervals.java:412, ExtendedIntervalsSource.java):
    widen each occurrence of the wrapped leaf by ``before`` positions on
    the left (clipped at position 0, ExtendedIntervalIterator.start) and
    ``after`` on the right (clamped at the int ceiling, .end). minExtent
    grows by before+after (:126-132). The reference's headline use is
    DEFINED GAPS inside Intervals.phrase (TestIntervals.testDefinedGaps:
    phrase(pease, extend(cold, 1, 1), porridge) matches
    "pease <any> cold <any> porridge").

    Usable as an IntervalNear slot (alone or among Intervals.or
    alternatives sharing one (before, after)) and as an IntervalPhrase
    element. ``base`` is a term or (as a slot) a tuple of terms; nesting
    extends is not supported."""

    base: object  # str | tuple[str, ...]
    before: int
    after: int

    def __post_init__(self):
        if self.before < 0 or self.after < 0:
            raise ValueError("before/after must be >= 0")
        items = self.base if isinstance(self.base, tuple) else (self.base,)
        if not items or not all(isinstance(t, str) for t in items):
            raise ValueError(
                "IntervalExtend wraps a term or a tuple of terms"
            )


def interval_leaf_info(x) -> tuple:
    """One slot alternative normalized to
    ``(terms, rel_offsets, extent, before)``:

    - ``terms``: the raw index terms, in occurrence order;
    - ``rel_offsets``: each term's raw position relative to the FIRST
      term's (consecutive ints for plain phrases; defined-gap phrases
      stretch them per their elements' paddings);
    - ``extent``: the alternative's interval width on unclipped
      occurrences (1+before+after per extended element);
    - ``before``: left padding of the first element — the occurrence's
      interval START is first-term-position − before, clipped at 0
      (ExtendedIntervalIterator.start)."""
    if isinstance(x, str):
        return ((x,), (0,), 1, 0)
    if isinstance(x, IntervalExtend):
        if isinstance(x.base, str):
            return ((x.base,), (0,), 1 + x.before + x.after, x.before)
        raise ValueError(
            "or-of-terms inside one IntervalExtend: wrap each term "
            "instead (extend(a)|extend(b) within the slot tuple)"
        )
    if isinstance(x, IntervalPhrase):
        terms, offs = [], []
        cursor = 0  # raw-position cursor relative to the first term
        extent = 0
        before = None
        for el in x.terms:
            if isinstance(el, IntervalExtend):
                b, a, t = el.before, el.after, el.base
            else:
                b, a, t = 0, 0, el
            if before is None:
                before = b
            else:
                cursor += b
            terms.append(t)
            offs.append(cursor)
            cursor += 1 + a
            extent += 1 + b + a
        return (tuple(terms), tuple(offs), extent, before or 0)
    if isinstance(x, _INTERVAL_MULTITERM):
        raise ValueError(
            f"unexpanded interval multiterm leaf {x!r} — run the "
            "query through Searcher.search (term-dict expansion)"
        )
    raise TypeError(f"bad interval leaf: {x!r}")


@dataclass(frozen=True)
class IntervalNear:
    """Positional interval query over term leaves: minimal intervals
    (queries/intervals/IntervalQuery.java, Intervals.ordered/unordered +
    maxgaps/maxwidth filters). A doc's sloppy freq sums, over its minimal
    intervals, ``1 / max(width - minExtent + 1, 1)`` with minExtent =
    len(terms) (IntervalScorer.java:60-68); the doc score is the
    saturation function ``boost * freq / (freq + pivot)``
    (IntervalScoreFunction.java:56-85) — no IDF, no length norm.

    ``ordered``: terms must appear left-to-right, non-overlapping
    (OrderedIntervalsSource.java minimal enumeration). ``ordered=False``:
    any order (UnorderedIntervalsSource) — enumerated with
    minimal-interval semantics (no enumerated interval contains another).
    ``max_gaps`` filters intervals with more than that many non-term
    positions inside (FilteredIntervalsSource.MaxGaps); ``max_width``
    bounds end-start+1 (MaxWidth); -1 = unfiltered.

    Freq accumulates per distinct interval width in ascending width order
    (left-assoc), making the float result reproducible in SQL.

    A slot may be a single term, an :class:`IntervalPhrase` (Intervals.phrase
    leaf — fixed-width [start, start+L-1] occurrences), or a tuple of such
    alternatives — ``Intervals.or`` (DisjunctionIntervalsSource): the slot's
    occurrence list is the union of the alternatives'. Alternatives within
    one slot must share one extent so the slot has a single leaf width
    (minExtent of a disjunction is the min over alternatives,
    DisjunctionIntervalsSource.minExtent — equal extents make it exact).
    The query's minExtent = Σ slot extents (ordered/unordered sources sum
    their subsources' minExtent), which generalizes the sloppy weight to
    ``1 / max(width - Σextents + 1, 1)``."""

    terms: tuple  # str | IntervalPhrase | tuple[str | IntervalPhrase, ...]
    ordered: bool = True
    max_gaps: int = -1
    max_width: int = -1
    pivot: float = 1.0
    boost: float = 1.0

    @property
    def slots(self) -> tuple[tuple[tuple[str, ...], ...], ...]:
        """Normal form: per slot, a tuple of leaves; each leaf a tuple of
        RAW terms (len 1 = plain term leaf, len L = phrase leaf). Padding
        metadata of extended leaves lives in :attr:`slot_infos`."""
        return tuple(
            tuple(info[0] for info in slot) for slot in self.slot_infos
        )

    @property
    def slot_infos(self) -> tuple:
        """Per slot, a tuple of ``interval_leaf_info`` records (terms,
        rel_offsets, extent, before) — one per Intervals.or alternative."""
        out = []
        for s in self.terms:
            alts = (
                (s,)
                if isinstance(s, (str, IntervalPhrase, IntervalExtend))
                else tuple(s)
            )
            out.append(tuple(interval_leaf_info(a) for a in alts))
        return tuple(out)

    @property
    def slot_extents(self) -> tuple[int, ...]:
        return tuple(slot[0][2] for slot in self.slot_infos)

    @property
    def min_extent(self) -> int:
        """Scoring minExtent with repeated slots deduplicated the way the
        reference groups equal sources into a RepeatingIntervalsSource
        whose minExtent is its CHILD's, counted once
        (RepeatingIntervalsSource.java minExtent; grouping at
        OrderedIntervalsSource.java:40-57 — adjacent equal sources only —
        vs UnorderedIntervalsSource.java:43-55 — by count, any order).
        Slot equality is the normalized slot tuple incl. extension
        paddings. Distinct slots that merely share a term are independent
        sources (no grouping)."""
        slots = self.slot_infos
        exts = self.slot_extents
        if self.ordered:
            total, prev = 0, None
            for s, e in zip(slots, exts):
                if s != prev:
                    total += e
                prev = s
            return total
        seen: set = set()
        total = 0
        for s, e in zip(slots, exts):
            if s not in seen:
                seen.add(s)
                total += e
        return total

    @property
    def slot_dup_ranks(self) -> tuple[int, ...]:
        """Per slot, how many EQUAL slots precede it — the copy index
        within its repeat group. An unordered repeat group's j-th copy must
        take the (j+1)-th own occurrence at/after the candidate start
        (DuplicateIntervalIterator's window of consecutive sub-intervals),
        so equal slots never match on a single occurrence."""
        counts: dict = {}
        out = []
        for s in self.slot_infos:
            j = counts.get(s, 0)
            out.append(j)
            counts[s] = j + 1
        return tuple(out)

    def _has_multiterm(self) -> bool:
        for s in self.terms:
            items = s if isinstance(s, tuple) else (s,)
            if any(isinstance(it, _INTERVAL_MULTITERM) for it in items):
                return True
        return False

    def __post_init__(self):
        if not self._has_multiterm():  # validated post-expansion otherwise
            for slot in self.slot_infos:
                if len({info[2] for info in slot}) > 1:
                    raise ValueError(
                        "Intervals.or alternatives must share one extent"
                    )
        if not (self.pivot > 0):
            raise ValueError(f"pivot must be > 0, got: {self.pivot}")


@dataclass(frozen=True)
class IntervalFilter:
    """Containment-filtered intervals (ConjunctionIntervalsSource via
    Intervals.containing / notContaining / containedBy / notContainedBy,
    queries/intervals/Intervals.java). Scores exactly like IntervalNear
    but only over the SOURCE's minimal intervals that stand in ``kind``
    relation to some REFERENCE interval:

    - ``containing``: source interval has a reference interval inside it
      (ref.start >= src.start and ref.end <= src.end)
    - ``not_containing``: no reference interval inside
    - ``contained_by``: source interval lies inside a reference interval
    - ``not_contained_by``: inside no reference interval
    - ``before``: source interval ends before some reference begins
      (Intervals.before = containedBy(source, extend(offset(ref, before),
      MAX, 0)), Intervals.java:582 — equivalently src.end < ref.start for
      some reference in the doc)
    - ``after``: source interval starts after some reference ends
      (Intervals.after, Intervals.java:588 — src.start > ref.end)
    - ``overlapping``: source interval overlaps some reference
      (OverlappingIntervalsSource, Intervals.java:479)
    - ``non_overlapping``: source interval overlaps no reference
      (NonOverlappingIntervalsSource, Intervals.java:468)

    The sloppy weight keeps the SOURCE's minExtent; the reference
    contributes no scoring of its own (FilteringIntervalsSource passes the
    source intervals through)."""

    source: IntervalNear
    reference: IntervalNear
    kind: str = "containing"
    pivot: float = 1.0
    boost: float = 1.0

    KINDS = (
        "containing", "not_containing", "contained_by", "not_contained_by",
        "before", "after", "overlapping", "non_overlapping",
    )

    @property
    def min_extent(self) -> int:
        # FilteringIntervalsSource.minExtent delegates to the source
        return self.source.min_extent

    def __post_init__(self):
        if self.kind not in self.KINDS:
            raise ValueError(f"kind must be one of {self.KINDS}")
        if not (self.pivot > 0):
            raise ValueError(f"pivot must be > 0, got: {self.pivot}")


@dataclass(frozen=True)
class IntervalOr:
    """Top-level Intervals.or over whole SOURCES
    (DisjunctionIntervalsSource via Intervals.or, Intervals.java:352):
    the interval stream is the union of the subsources' enumerations,
    re-minimalized across sources (a source's interval strictly containing
    another source's is dropped — the disjunction contract), scored with
    minExtent = the smallest sub minExtent
    (DisjunctionIntervalsSource.minExtent).

    This is distinct from the SLOT-level Intervals.or (a tuple of
    alternatives inside one IntervalNear slot): slot alternatives must
    share one extent, whereas IntervalOr composes arbitrary sources —
    e.g. Intervals.unorderedNoOverlaps(a, b), which the reference defines
    as exactly or(ordered(a, b), ordered(b, a)) (Intervals.java:446-448;
    see :func:`unordered_no_overlaps`)."""

    sources: tuple  # IntervalNear | IntervalAtLeast | IntervalFilter
    pivot: float = 1.0
    boost: float = 1.0

    @property
    def min_extent(self) -> int:
        return min(s.min_extent for s in self.sources)

    def _has_multiterm(self) -> bool:
        return any(
            getattr(s, "_has_multiterm", lambda: False)() for s in self.sources
        )

    def __post_init__(self):
        if not self.sources:
            raise ValueError("IntervalOr needs >= 1 sources")
        if not (self.pivot > 0):
            raise ValueError(f"pivot must be > 0, got: {self.pivot}")


def unordered_no_overlaps(a, b, pivot: float = 1.0, boost: float = 1.0):
    """Intervals.unorderedNoOverlaps (Intervals.java:446-448): both leaves
    present in either order, never overlapping — defined by the reference
    as or(ordered(a, b), ordered(b, a)). ``a``/``b`` are slot leaves
    (term / IntervalPhrase / IntervalExtend / or-tuple)."""
    return IntervalOr(
        (IntervalNear((a, b)), IntervalNear((b, a))), pivot=pivot, boost=boost
    )


def fix_field(field: str, q: "IntervalNear") -> "IntervalNear":
    """Intervals.fixField (Intervals.java:456, FixedFieldIntervalsSource):
    evaluate the source's intervals against another FIELD's positions.
    Fields are term-dict namespaces here (index/builder.field_term), so
    fixing the field is a term rewrite of every leaf."""
    from ..index.builder import field_term

    def map_leaf(x):
        if isinstance(x, str):
            return field_term(field, x)
        if isinstance(x, IntervalExtend):
            return replace(x, base=map_leaf(x.base))
        if isinstance(x, IntervalPhrase):
            return IntervalPhrase(tuple(map_leaf(t) for t in x.terms))
        if isinstance(x, tuple):
            return tuple(map_leaf(t) for t in x)
        raise TypeError(f"fix_field cannot rewrite leaf {x!r}")

    return replace(q, terms=tuple(map_leaf(t) for t in q.terms))


@dataclass(frozen=True)
class IntervalAtLeast:
    """Intervals.atLeast(minShouldMatch, sources...) —
    MinimumShouldMatchIntervalsSource (queries/intervals/
    MinimumShouldMatchIntervalsSource.java:39). Emits intervals spanning
    occurrences of at least ``min_match`` of the ``sources`` via the
    reference's two-queue iterator (a background queue ordered by
    smallest end feeding a proximity queue of the ``min_match`` current
    sub-intervals ordered by smallest start; the emitted interval is
    [min start in the proximity queue, max end ever added to it]) —
    replayed LITERALLY per doc in the engine, including its non-minimal
    emissions and its early exhaustion (the top-of-call advance loop
    gives up when a popped sub-iterator is spent, even with refills
    available in the background queue, :221-231).

    A source may be a term, an :class:`IntervalPhrase`, a tuple of such
    alternatives (Intervals.or), or a full :class:`IntervalNear` subtree
    (each sub-source enumerates its own minimal intervals first).
    ``max_gaps`` / ``max_width`` wrap the emitted stream exactly like on
    :class:`IntervalNear` (FilteredIntervalsSource.MaxGaps filters on the
    iterator's gaps() = emitted width minus the proximity-queue members'
    widths, :255-257; MaxWidth on end-start+1). Scoring is the standard
    interval saturation over the emitted widths with minExtent = the sum
    of the ``min_match`` smallest sub-source minExtents (:357-367).

    The factory's degenerate cases (Intervals.java:567-579) live in
    ``rewrite``: min_match == len(sources) with leaf-only sources becomes
    Intervals.unordered; min_match > len(sources) matches nothing."""

    sources: tuple  # str | IntervalPhrase | tuple-of-alts | IntervalNear
    min_match: int
    max_gaps: int = -1
    max_width: int = -1
    pivot: float = 1.0
    boost: float = 1.0

    @property
    def sub_nears(self) -> tuple:
        """Each source as a self-contained IntervalNear (leaf sources get a
        single-slot wrapper; a wrapper's enumeration is exactly the leaf's
        occurrence list)."""
        return tuple(
            s if isinstance(s, IntervalNear) else IntervalNear((s,))
            for s in self.sources
        )

    @property
    def min_extent(self) -> int:
        """Sum of the min_match smallest sub minExtents
        (MinimumShouldMatchIntervalsSource.minExtent, :357-367)."""
        exts = sorted(n.min_extent for n in self.sub_nears)
        return int(sum(exts[: self.min_match]))

    def _has_multiterm(self) -> bool:
        return any(n._has_multiterm() for n in self.sub_nears)

    def __post_init__(self):
        if self.min_match < 1:
            raise ValueError(f"min_match must be >= 1, got {self.min_match}")
        if not (self.pivot > 0):
            raise ValueError(f"pivot must be > 0, got: {self.pivot}")


@dataclass(frozen=True)
class ToParentBlockJoinQuery:
    """Parent/child doc-block join (join/src/java/org/apache/lucene/search/
    join/ToParentBlockJoinQuery.java): matches PARENT docs whose block
    contains >=1 child matching ``child``. A block = consecutive docids
    with the parent LAST (the addDocuments layout; build_index keeps it
    when families share a url prefix with the parent sorting last, and
    ``block_key`` pins a family to one segment). ``parents`` is any
    filter-context query marking exactly the parent docs (the
    BitSetProducer analog — conventionally a marker term). A child's
    parent is the first parent docid >= the child docid
    (ParentApproximation.advance, :243-256).

    ``score_mode`` combines child scores per parent (ScoreMode.java,
    accumulation in child-docid order, double precision, Score.java
    :296-341): none -> 0, total -> sum, avg -> sum/count, max, min.
    ``boost`` scales the combined score (Lucene folds it into the child
    weight — equivalent for every mode since min/max/avg commute with a
    positive scale, and none stays 0)."""

    child: object
    parents: object
    score_mode: str = "avg"
    boost: float = 1.0

    MODES = ("none", "avg", "max", "total", "min")

    def __post_init__(self):
        if self.score_mode not in self.MODES:
            raise ValueError(f"score_mode must be one of {self.MODES}")


@dataclass(frozen=True)
class ToChildBlockJoinQuery:
    """The inverse block join (join/.../ToChildBlockJoinQuery.java):
    matches every CHILD doc of a matching parent — the children are the
    docids strictly between the previous parent and the matching parent —
    and each child scores the parent's score (boost-scaled). ``parents``
    marks parent docs exactly as in ToParentBlockJoinQuery; the parent
    query must only match parent docs (non-parent matches are ignored,
    mirroring the reference's advance-past assertion)."""

    parent: object
    parents: object
    boost: float = 1.0


@dataclass(frozen=True)
class ParentChildrenBlockJoinQuery:
    """The children of ONE specific parent doc that match ``child``, each
    with its own child score (join/src/java/org/apache/lucene/search/join/
    ParentChildrenBlockJoinQuery.java:42: "useful when you want to fetch
    the matching children of a hit returned by ToParentBlockJoinQuery").
    ``parent_docid`` is the (global) docid of the parent; its children are
    the docids strictly between the previous parent and it."""

    child: object
    parents: object
    parent_docid: int
    boost: float = 1.0


@dataclass(frozen=True)
class FieldExistsQuery:
    """Matches every doc with ≥1 token in ``field``, constant score
    (search/FieldExistsQuery.java:39 — answered from norms existence there,
    from the per-field existence posting list here)."""

    field: str
    boost: float = 1.0


@dataclass(frozen=True)
class DisjunctionMaxQuery:
    """Per-doc max(sub) + tie_breaker·(Σ others)
    (search/DisjunctionMaxQuery.java:44)."""

    disjuncts: tuple = ()
    tie_breaker: float = 0.0


@dataclass(frozen=True)
class ConstantScoreQuery:
    """Every matching doc scores exactly ``boost``
    (search/ConstantScoreQuery.java:28) — boost does NOT propagate inside."""

    query: object = None
    boost: float = 1.0


@dataclass(frozen=True)
class MatchNoDocsQuery:
    pass


@dataclass(frozen=True)
class MatchAllDocsQuery:
    boost: float = 1.0


@dataclass(frozen=True)
class BooleanQuery:
    must: tuple = ()
    should: tuple = ()
    must_not: tuple = ()
    min_should_match: int = 0


def boosted(q, b: float):
    """Multiply a boost into a query — distributed into leaves like Lucene's
    Weight-tree boost threading (BoostQuery semantics)."""
    if b == 1.0:
        return q
    if isinstance(q, BooleanQuery):
        return BooleanQuery(
            must=tuple(boosted(c, b) for c in q.must),
            should=tuple(boosted(c, b) for c in q.should),
            must_not=q.must_not,  # non-scoring side
            min_should_match=q.min_should_match,
        )
    if isinstance(q, DisjunctionMaxQuery):
        return DisjunctionMaxQuery(
            disjuncts=tuple(boosted(c, b) for c in q.disjuncts),
            tie_breaker=q.tie_breaker,
        )
    if isinstance(q, MatchNoDocsQuery):
        return q
    return replace(q, boost=q.boost * b)


# --- parser -----------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<lparen>\() | (?P<rparen>\)) |
        (?P<and>AND\b) | (?P<or>OR\b) | (?P<not>NOT\b) |
        (?P<plus>\+) | (?P<minus>-(?=\S)) | (?P<stray_minus>-) |
        (?P<range>(?:(?P<range_field>[^\s()\[\]{}":/\\]+):)?(?P<range_open>[\[\{])
            \s*(?P<range_lo>\S+)\s+TO\s+(?P<range_hi>\S+)\s*(?P<range_close>[\]\}]))
            (?P<range_suffix>\^[0-9.]+)? |
        (?P<regex>(?:(?P<regex_field>[^\s()\[\]{}":/\\]+):(?!//))?
            /(?P<regex_body>(?:[^/\\]|\\.)*)/)(?P<regex_suffix>\^[0-9.]+)? |
        (?P<phrase>"(?P<phrase_body>(?:[^"\\]|\\.)*)")(?P<phrase_suffix>(?:~\d+)?(?:\^[0-9.]+)?) |
        (?P<word>(?:\\.|[^\s()+\-"/\\])(?:\\.|[^\s()"\\])*)
    )""",
    re.VERBOSE,
)

_WORD_SUFFIX_RE = re.compile(
    r"^(?P<body>.*?)(?:(?<!\\)~(?P<edits>\d*))?(?:(?<!\\)\^(?P<boost>[0-9.]+))?$"
)
_UNESCAPE_RE = re.compile(r"\\(.)")


def _unescape(s: str) -> str:
    """QueryParser backslash escaping (queryparser/classic/QueryParser.jj
    _ESCAPED_CHAR; QueryParserBase.discardEscapeChar): ``\\x`` -> ``x``."""
    return _UNESCAPE_RE.sub(r"\1", s)


def _unescape_keep_wild(s: str) -> str:
    """Lowercase a wildcard body, PRESERVING backslash escapes (they resolve
    inside wildcard_to_regex, so ``\\*`` stays a literal star)."""
    return s.lower()


def _split_field(body: str) -> tuple[str | None, str]:
    """Split ``field:token`` on the first UNESCAPED colon."""
    for i, ch in enumerate(body):
        if ch == ":" and (i == 0 or body[i - 1] != "\\"):
            return body[:i], body[i + 1:]
    return None, body


class _Tokens:
    def __init__(self, s: str):
        self.toks: list[tuple[str, object]] = []
        pos = 0
        while pos < len(s):
            m = _TOKEN_RE.match(s, pos)
            if not m or m.end() == pos:
                if s[pos:].strip():
                    raise ValueError(f"cannot tokenize query at: {s[pos:]!r}")
                break
            pos = m.end()
            if m.group("stray_minus"):
                continue  # isolated '-' ("a - b"): ignorable, like whitespace
            for kind in ("lparen", "rparen", "and", "or", "not", "plus", "minus"):
                if m.group(kind):
                    self.toks.append((kind, m.group(kind)))
                    break
            else:
                if m.group("range") is not None:
                    incl_lo = m.group("range_open") == "["
                    incl_hi = m.group("range_close") == "]"
                    boost = float((m.group("range_suffix") or "^1")[1:])
                    self.toks.append(
                        ("range", (m.group("range_lo"), m.group("range_hi"), incl_lo,
                                   incl_hi, boost, m.group("range_field")))
                    )
                elif m.group("regex") is not None:
                    boost = float((m.group("regex_suffix") or "^1")[1:])
                    self.toks.append(
                        ("regex", (m.group("regex_body"), boost, m.group("regex_field")))
                    )
                elif m.group("phrase") is not None:
                    suffix = m.group("phrase_suffix") or ""
                    slop_m = re.search(r"~(\d+)", suffix)
                    boost_m = re.search(r"\^([0-9.]+)", suffix)
                    self.toks.append(
                        (
                            "phrase",
                            (
                                m.group("phrase_body"),
                                int(slop_m.group(1)) if slop_m else 0,
                                float(boost_m.group(1)) if boost_m else 1.0,
                            ),
                        )
                    )
                else:
                    self.toks.append(("word", m.group("word")))
        self.i = 0

    def peek(self) -> str | None:
        return self.toks[self.i][0] if self.i < len(self.toks) else None

    def next(self) -> tuple[str, object]:
        t = self.toks[self.i]
        self.i += 1
        return t


def _make_word_leaf(text: str, analyzer, fmap=None) -> object:
    m = _WORD_SUFFIX_RE.match(text)
    body, edits, boost_s = m.group("body"), m.group("edits"), m.group("boost")
    boost = float(boost_s) if boost_s else 1.0
    # field: prefix — routed through ``fmap(field, token) -> term key`` on a
    # multi-field index, ignored (classic single-field behavior) otherwise
    field, body = _split_field(body)
    if field == "_exists_":  # _exists_:fieldname (classic QP syntax)
        return boosted(FieldExistsQuery(_unescape(body)), boost)
    if field is not None and hasattr(analyzer, "for_field"):
        # PerFieldAnalyzerWrapper (analysis/miscellaneous/
        # PerFieldAnalyzerWrapper.java:51): a fielded token analyzes with
        # THAT field's chain, like QueryParser.getAnalyzer() per field
        analyzer = analyzer.for_field(field)
    if field is not None:
        field = _unescape(field)
    key = fmap if fmap is not None else (lambda _f, t: t)
    if edits is not None:  # trailing ~ or ~N → fuzzy (QueryParser.jj FUZZY_SLOP)
        max_edits = int(edits) if edits else 2
        return boosted(
            FuzzyQuery(key(field, _unescape(body).lower()), max_edits=max_edits),
            boost,
        )
    if body == "*":
        return boosted(MatchAllDocsQuery(), boost)
    # wildcard metachars count only when UNESCAPED (QueryParser.jj
    # _ESCAPED_CHAR precedes the wildcard alternatives)
    naked = _UNESCAPE_RE.sub("", body)  # escaped pairs removed entirely
    if "*" in naked or "?" in naked:
        if naked.endswith("*") and body.endswith("*") and (
            "*" not in naked[:-1] and "?" not in naked
        ):
            ptoks = analyzer(_unescape(body[:-1]))
            if len(ptoks) == 1:
                return boosted(PrefixQuery(key(field, ptoks[0].term)), boost)
        return boosted(WildcardQuery(key(field, _unescape_keep_wild(body))), boost)
    toks = analyzer(_unescape(body))
    if not toks:
        return MatchNoDocsQuery()
    if len(toks) == 1:
        return boosted(TermQuery(key(field, toks[0].term)), boost)
    if len({t.position for t in toks}) == 1:
        # a same-position stack (e.g. a phonetic filter's differing
        # primary/alternate codes) is a synonym expansion, not a phrase —
        # QueryBuilder.analyzeTerm/analyzeBoolean (util/QueryBuilder.java)
        return boosted(
            SynonymQuery(tuple(key(field, t.term) for t in toks)), boost
        )
    return boosted(PhraseQuery(tuple(key(field, t.term) for t in toks)), boost)


def _make_leaf(kind: str, val, analyzer, fmap=None) -> object:
    key = fmap if fmap is not None else (lambda _f, t: t)
    if kind == "phrase":
        text, slop, boost = val
        # ``"a b c*"`` — trailing star on the last raw token, exact slots
        # before it (ComplexPhraseQueryParser's phrase-prefix form); only
        # for exact phrases (slop syntax wins over the star if both given)
        raw = text.rstrip()
        if slop == 0 and raw.endswith("*") and not raw.endswith("\\*"):
            head = raw[:-1]
            naked_head = _UNESCAPE_RE.sub("", head)
            if "*" not in naked_head and "?" not in naked_head:
                toks = analyzer(_unescape(head))
                if toks and head and not head[-1].isspace():
                    fixed, last = toks[:-1], toks[-1]
                    if fixed:
                        return boosted(
                            PhrasePrefixQuery(
                                tuple(key(None, t.term) for t in fixed),
                                prefix=key(None, last.term),
                            ),
                            boost,
                        )
                    return boosted(PrefixQuery(key(None, last.term)), boost)
        # general wildcard-in-phrase (ComplexPhraseQueryParser /
        # PhraseWildcardQuery): any raw whitespace token carrying an
        # UNESCAPED * or ? becomes a wildcard slot; literal tokens must
        # analyze 1:1 (else fall through to the plain-phrase path)
        if slop == 0:
            raw_toks = raw.split()
            if any(
                "*" in _UNESCAPE_RE.sub("", rt) or "?" in _UNESCAPE_RE.sub("", rt)
                for rt in raw_toks
            ) and len(raw_toks) >= 2:
                slots: list[str] = []
                ok = True
                for rt in raw_toks:
                    naked = _UNESCAPE_RE.sub("", rt)
                    if "*" in naked or "?" in naked:
                        slots.append(key(None, _unescape_keep_wild(rt).lower()))
                    else:
                        ts = analyzer(_unescape(rt))
                        if len(ts) != 1:
                            ok = False
                            break
                        slots.append(key(None, ts[0].term))
                if ok:
                    return boosted(
                        PhraseWildcardQuery(slots=tuple(slots)), boost
                    )
        toks = analyzer(_unescape(text))
        if not toks:
            return MatchNoDocsQuery()
        if len(toks) == 1:
            return boosted(TermQuery(key(None, toks[0].term)), boost)
        return boosted(
            PhraseQuery(tuple(key(None, t.term) for t in toks), slop=slop), boost
        )
    # a ``field:`` prefix keys the bounds or the pattern into its field (an
    # empty pattern takes none: ``http://x`` tokenizes as a word)
    if kind == "range":
        lo, hi, incl_lo, incl_hi, boost, field = val
        if field is not None and lo == hi == "*" and fmap is not None:
            # ``field:[* TO *]``: every term of the field, past its bare key
            lo, incl_lo = "", False
        return boosted(
            TermRangeQuery(
                None if lo == "*" else key(field, lo.lower()),
                None if hi == "*" else key(field, hi.lower()),
                include_lower=incl_lo,
                include_upper=incl_hi,
            ),
            boost,
        )
    if kind == "regex":
        body, boost, field = val
        return boosted(RegexpQuery(key(field, body) if fmap else body), boost)
    return _make_word_leaf(val, analyzer, fmap)


_CLAUSE_START = {"word", "phrase", "range", "regex", "plus", "minus", "not", "lparen"}


def _parse_or(tk: _Tokens, analyzer, fmap=None):
    clauses = [_parse_and(tk, analyzer, fmap)]
    # explicit OR, or adjacency (default operator OR, QueryParserBase default)
    while tk.peek() == "or" or tk.peek() in _CLAUSE_START:
        if tk.peek() == "or":
            tk.next()
        clauses.append(_parse_and(tk, analyzer, fmap))
    if len(clauses) == 1:
        return clauses[0]
    should, must_not = [], []
    for c in clauses:
        if isinstance(c, _Negated):
            must_not.append(c.q)
        else:
            should.append(c)
    return BooleanQuery(should=tuple(should), must_not=tuple(must_not))


def _parse_and(tk: _Tokens, analyzer, fmap=None):
    clauses = [_parse_clause(tk, analyzer, fmap)]
    while tk.peek() == "and":
        tk.next()
        clauses.append(_parse_clause(tk, analyzer, fmap))
    if len(clauses) == 1:
        return clauses[0]
    must, must_not = [], []
    for c in clauses:
        if isinstance(c, _Negated):
            must_not.append(c.q)
        else:
            must.append(c)
    return BooleanQuery(must=tuple(must), must_not=tuple(must_not))


@dataclass(frozen=True)
class _Negated:
    q: object


def _parse_clause(tk: _Tokens, analyzer, fmap=None):
    kind = tk.peek()
    if kind == "not" or kind == "minus":
        tk.next()
        inner = _parse_clause(tk, analyzer, fmap)
        if isinstance(inner, _Negated):
            return inner.q  # double negation
        return _Negated(inner)
    if kind == "plus":
        tk.next()
        inner = _parse_clause(tk, analyzer, fmap)
        return BooleanQuery(must=(inner,))
    return _parse_atom(tk, analyzer, fmap)


def _parse_atom(tk: _Tokens, analyzer, fmap=None):
    kind = tk.peek()
    if kind is None:
        return MatchNoDocsQuery()
    if kind == "lparen":
        tk.next()
        q = _parse_or(tk, analyzer, fmap)
        if tk.peek() == "rparen":
            tk.next()
        # group boost: (a b)^2 arrives as a following bare word "^2"
        if tk.peek() == "word":
            w = tk.toks[tk.i][1]
            if isinstance(w, str) and w.startswith("^"):
                tk.next()
                try:
                    return boosted(q, float(w[1:]))
                except ValueError:
                    pass
        return q
    k, v = tk.next()
    return _make_leaf(k, v, analyzer, fmap)


def parse_query(s: str, analyzer, fmap=None) -> object:
    """Parse a classic-syntax query string; ``analyzer(text) -> list[Token]``.
    ``fmap(field_or_None, token) -> term key`` namespaces tokens on a
    multi-field index (field: prefixes and the default field)."""
    tk = _Tokens(s)
    if tk.peek() is None:
        return MatchNoDocsQuery()
    q = _parse_or(tk, analyzer, fmap)
    if isinstance(q, _Negated):
        q = BooleanQuery(must_not=(q.q,))
    return rewrite(q)


# --- rewrite ----------------------------------------------------------------

def _rewrite_once(q):
    if isinstance(q, ParentChildrenBlockJoinQuery):
        child = _rewrite_once(q.child)
        parents = _rewrite_once(q.parents)
        if isinstance(child, MatchNoDocsQuery) or isinstance(
            parents, MatchNoDocsQuery
        ):
            return MatchNoDocsQuery()
        if child is not q.child or parents is not q.parents:
            return ParentChildrenBlockJoinQuery(
                child, parents, q.parent_docid, q.boost
            )
        return q
    if isinstance(q, ToChildBlockJoinQuery):
        parent = _rewrite_once(q.parent)
        parents = _rewrite_once(q.parents)
        if isinstance(parent, MatchNoDocsQuery) or isinstance(
            parents, MatchNoDocsQuery
        ):
            return MatchNoDocsQuery()
        return ToChildBlockJoinQuery(parent, parents, q.boost)
    if isinstance(q, ToParentBlockJoinQuery):
        child = _rewrite_once(q.child)
        parents = _rewrite_once(q.parents)
        if isinstance(child, MatchNoDocsQuery) or isinstance(
            parents, MatchNoDocsQuery
        ):
            return MatchNoDocsQuery()
        if child is not q.child or parents is not q.parents:
            return ToParentBlockJoinQuery(
                child, parents, q.score_mode, q.boost
            )
        return q
    if isinstance(q, BooleanQuery):
        must = tuple(_rewrite_once(c) for c in q.must)
        should = tuple(_rewrite_once(c) for c in q.should)
        must_not = tuple(_rewrite_once(c) for c in q.must_not)
        msm = q.min_should_match
        # drop MatchNoDocs SHOULD/MUST_NOT; a MatchNoDocs MUST kills the query
        if any(isinstance(c, MatchNoDocsQuery) for c in must):
            return MatchNoDocsQuery()
        should = tuple(c for c in should if not isinstance(c, MatchNoDocsQuery))
        must_not = tuple(c for c in must_not if not isinstance(c, MatchNoDocsQuery))
        if msm > len(should):
            return MatchNoDocsQuery()  # unsatisfiable (BooleanQuery.java:272)
        # flatten nested SHOULD-only booleans into a SHOULD-only parent
        if not must and not must_not and msm <= 1:
            flat: list = []
            for c in should:
                if (
                    isinstance(c, BooleanQuery)
                    and not c.must
                    and not c.must_not
                    and c.min_should_match <= 1
                ):
                    flat.extend(c.should)
                else:
                    flat.append(c)
            should = tuple(flat)
        # flatten nested MUST-only booleans into a MUST parent
        if not should:
            flat_m: list = []
            flat_mn: list = list(must_not)
            for c in must:
                if isinstance(c, BooleanQuery) and not c.should:
                    flat_m.extend(c.must)
                    flat_mn.extend(c.must_not)
                else:
                    flat_m.append(c)
            must, must_not = tuple(flat_m), tuple(flat_mn)
        # dedup identical clauses (BooleanQuery.java:429-474)
        must = tuple(dict.fromkeys(must))
        should = tuple(dict.fromkeys(should))
        must_not = tuple(dict.fromkeys(must_not))
        # 1-clause unwrap
        if len(must) == 1 and not should and not must_not:
            return must[0]
        if len(should) == 1 and not must and not must_not and msm <= 1:
            return should[0]
        if not must and not should:
            return MatchNoDocsQuery()  # pure-negative (BooleanQuery.java:372)
        return BooleanQuery(
            must=must, should=should, must_not=must_not, min_should_match=msm
        )
    if isinstance(q, DisjunctionMaxQuery):
        disj = tuple(
            _rewrite_once(c)
            for c in q.disjuncts
            if not isinstance(c, MatchNoDocsQuery)
        )
        if not disj:
            return MatchNoDocsQuery()
        if len(disj) == 1:
            return disj[0]  # DisjunctionMaxQuery.rewrite single-clause unwrap
        return DisjunctionMaxQuery(disjuncts=disj, tie_breaker=q.tie_breaker)
    if isinstance(q, ConstantScoreQuery):
        inner = _rewrite_once(q.query)
        if isinstance(inner, MatchNoDocsQuery):
            return MatchNoDocsQuery()
        if isinstance(inner, ConstantScoreQuery):  # nested wrap collapse
            inner = inner.query
        return ConstantScoreQuery(query=inner, boost=q.boost)
    if isinstance(q, PhraseQuery) and len(q.terms) == 1:
        return TermQuery(q.terms[0], q.boost)
    if isinstance(q, MultiPhraseQuery):
        if not q.slots or any(not s for s in q.slots):
            return MatchNoDocsQuery()
        if all(len(s) == 1 for s in q.slots):
            # plain phrase (MultiPhraseQuery.rewrite single-alternative case)
            return PhraseQuery(tuple(s[0] for s in q.slots), boost=q.boost)
        if len(q.slots) == 1:
            # single position → SHOULD of its alternatives
            # (MultiPhraseQuery.rewrite termArrays.size()==1 case)
            return BooleanQuery(
                should=tuple(TermQuery(t, q.boost) for t in q.slots[0])
            )
    if isinstance(q, IntervalNear) and not q.terms:
        return MatchNoDocsQuery()
    if (
        isinstance(q, IntervalFilter)
        and isinstance(q.source, IntervalNear)
        and not q.source.terms
    ):
        return MatchNoDocsQuery()
    if isinstance(q, IntervalOr) and len(q.sources) == 1:
        return replace(q.sources[0], pivot=q.pivot, boost=q.boost)
    if isinstance(q, IntervalAtLeast):
        # the Intervals.atLeast factory's degenerate arms
        # (Intervals.java:567-579)
        if not q.sources or q.min_match > len(q.sources):
            return MatchNoDocsQuery()
        if q.min_match == len(q.sources) and all(
            not isinstance(s, IntervalNear) for s in q.sources
        ):
            return IntervalNear(
                q.sources, ordered=False, max_gaps=q.max_gaps,
                max_width=q.max_width, pivot=q.pivot, boost=q.boost,
            )
        return q
    if isinstance(q, TermAutomatonQuery) and not q.paths:
        return MatchNoDocsQuery()
    if isinstance(q, SynonymQuery) and len(q.terms) == 1:
        return TermQuery(q.terms[0], q.boost)  # SynonymQuery.rewrite
    if isinstance(q, TermInSetQuery):
        if not q.terms:
            return MatchNoDocsQuery()
        if len(q.terms) == 1:
            return TermQuery(q.terms[0], q.boost)
        return q
    return q


def rewrite(q):
    """Apply rewrites to fixpoint (IndexSearcher.java:862-871)."""
    while True:
        q2 = _rewrite_once(q)
        if q2 == q:
            return q2
        q = q2


def collect_terms(q) -> set[str]:
    """All concrete terms referenced by the query (after multi-term expansion)."""
    if isinstance(q, TermQuery):
        return {q.term}
    if isinstance(q, PhraseQuery):
        return set(q.terms)
    if isinstance(q, MultiPhraseQuery):
        return {t for s in q.slots for t in s}
    if isinstance(q, PhrasePrefixQuery):
        # pre-expansion view: only the fixed slots are concrete
        return set(q.terms)
    if isinstance(q, PhraseWildcardQuery):
        return {s for s in q.slots if "*" not in s and "?" not in s}
    if isinstance(q, IntervalNear):
        return {t for s in q.slots for leaf in s for t in leaf}
    if isinstance(q, IntervalFilter):
        return collect_terms(q.source) | collect_terms(q.reference)
    if isinstance(q, IntervalAtLeast):
        out: set[str] = set()
        for n in q.sub_nears:
            out |= collect_terms(n)
        return out
    if isinstance(q, IntervalOr):
        out2: set[str] = set()
        for s in q.sources:
            out2 |= collect_terms(s)
        return out2
    if isinstance(q, (SynonymQuery, TermInSetQuery)):
        return set(q.terms)
    if isinstance(q, CombinedFieldQuery):
        # exists lists ride along: they are the per-doc field-norms source
        return set(q.terms) | set(q.exists_terms)
    if isinstance(q, FeatureQuery):
        from ..index.builder import feature_term

        return {feature_term(q.feature)}
    if isinstance(q, PayloadScoreQuery):
        return {q.term}
    if isinstance(q, TermAutomatonQuery):
        return set(q.distinct_terms)
    from .spans import is_span, span_all_terms

    if is_span(q):
        # prefetch/stats view: exclude-side terms ride along (their
        # postings are read even though they never score)
        return span_all_terms(q)
    if isinstance(q, BooleanQuery):
        out: set[str] = set()
        for c in (*q.must, *q.should, *q.must_not):
            out |= collect_terms(c)
        return out
    if isinstance(q, DisjunctionMaxQuery):
        out = set()
        for c in q.disjuncts:
            out |= collect_terms(c)
        return out
    if isinstance(q, ConstantScoreQuery):
        return collect_terms(q.query)
    if isinstance(q, ToParentBlockJoinQuery):
        return collect_terms(q.child) | collect_terms(q.parents)
    if isinstance(q, ToChildBlockJoinQuery):
        return collect_terms(q.parent) | collect_terms(q.parents)
    if isinstance(q, ParentChildrenBlockJoinQuery):
        return collect_terms(q.child) | collect_terms(q.parents)
    return set()


def analyzed_text_intervals(
    text,
    max_gaps: int = -1,
    ordered: bool = True,
    analyzer=None,
    stopwords=None,
):
    """Intervals.analyzedText (Intervals.java:618-647 →
    IntervalBuilder.analyzeText): tokenize ``text`` and build the
    interval source the reference builds —

    - 0 tokens → NO_INTERVALS (MatchNoDocsQuery);
    - 1 token → the bare term source;
    - tokens dropped upstream (StopFilter position gaps) become
      ``extend(term, precedingSpaces, 0)`` leaves
      (IntervalBuilder.analyzeTerms:151-170);
    - stacked tokens (position increment 0, single-term synonyms) become
      per-position Intervals.or alternatives
      (IntervalBuilder.analyzeSynonyms:172-199; the extend is
      distributed over the alternatives — identical interval sets);
    - combineSources: ``max_gaps == 0 and ordered`` (and no synonyms) →
      Intervals.phrase (Block chaining, defined-gaps aware), else
      ordered/unordered wrapped in maxgaps (IntervalBuilder:131-149).

    ``text`` may be a raw string (analyzed with the package's standard
    chain, or ``analyzer(text)`` returning Token-likes), or a pre-built
    list of ``(term, position)`` pairs / Token objects in stream order.
    Graph tokens (posLength > 1) are not represented in this package's
    Token — multi-word synonyms route through TermAutomatonQuery instead
    (the documented equivalent of IntervalBuilder.analyzeGraph)."""
    if isinstance(text, str):
        if analyzer is not None:
            toks = analyzer(text)
            pairs = [
                (t.term, t.position) if hasattr(t, "term") else (t[0], t[1])
                for t in toks
            ]
        else:
            from ..analysis.tokenizer import analyze_terms_positions

            terms, poss = analyze_terms_positions(text, stopwords=stopwords)
            pairs = list(zip(terms, poss))
    else:
        pairs = [
            (t.term, t.position) if hasattr(t, "term") else (t[0], t[1])
            for t in text
        ]
    if not pairs:
        return MatchNoDocsQuery()
    if len(pairs) == 1:
        return IntervalNear((pairs[0][0],))
    # group stacked synonyms: equal consecutive positions share a slot
    groups: list[tuple[int, list[str]]] = []
    for term, pos in pairs:
        if groups and groups[-1][0] == pos:
            groups[-1][1].append(term)
        else:
            groups.append((pos, [term]))
    has_syn = any(len(ts) > 1 for (_p, ts) in groups)
    slots: list = []
    prev = -1
    for pos, ts in groups:
        spaces = pos - prev - 1
        prev = pos
        if len(ts) == 1:
            slots.append(
                ts[0] if spaces == 0 else IntervalExtend(ts[0], spaces, 0)
            )
        elif spaces == 0:
            slots.append(tuple(ts))
        else:
            slots.append(tuple(IntervalExtend(t, spaces, 0) for t in ts))
    if len(slots) == 1:
        return IntervalNear((slots[0],))
    if max_gaps == 0 and ordered and not has_syn:
        return IntervalNear((IntervalPhrase(tuple(slots)),))
    return IntervalNear(tuple(slots), ordered=ordered, max_gaps=max_gaps)
