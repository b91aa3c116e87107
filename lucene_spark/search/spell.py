"""Spell correction + prefix suggestion over the index's term dictionary.

DirectSpellChecker analog (suggest/src/java/org/apache/lucene/search/spell/
DirectSpellChecker.java). Lucene enumerates candidates with a FuzzyTermsEnum
over the term dictionary and ranks survivors in a priority queue; here the
enumeration is the one FuzzyQuery expansion uses, ``IndexReader.fuzzy_terms``:
the cheap automaton invariants (shared prefix + length band) filter the
driver's pyarrow read of the term dictionary, a vectorized OSA verifies
the survivors, and the verified set (one term's neighborhood) is ranked on
the driver. Neither checker launches a Spark job; ``suggestions_df`` wraps
the ranked rows in a DataFrame.

Semantics mirrored from DirectSpellChecker.suggestSimilar
(DirectSpellChecker.java:321-392 and the candidate loop :410-476):

- query-length gate: ``len(term) < min_query_length`` (or > max) -> []
- ``when_not_in_index`` mode: docFreq(term) > 0 -> []
- ``max_query_frequency``: absolute when >= 1, else a maxDoc ratio
  (ceil(mqf * maxDoc)); query terms more frequent than it return []
- candidate floor ``docfreq``: 0 unless ``more_popular`` mode (then the
  query term's df), raised by ``threshold_frequency`` (absolute when >= 1,
  else int(tf*maxDoc)-1); candidates need df STRICTLY greater (:457)
- candidate prefix contract: Lucene's first pass enumerates distance<=1
  candidates with ``min_prefix`` shared chars, the top-up pass distance<=
  max_edits with ``max(min_prefix, max_edits-1)`` (FuzzyTermsEnum
  construction at :425/:462). The union rule: a candidate at distance 1
  needs ``min_prefix`` shared chars; at distance 2 it needs
  ``max(min_prefix, 1)``. With the default ``min_prefix=1`` both collapse
  to one startswith pushdown; candidates always differ from the query (:452)
- score = 1 - d/min(len(term), len(candidate))
  (LuceneLevenshteinDistance.java:104), d = OSA when transpositions else
  plain Levenshtein; candidates with score < accuracy drop (:469)
- ranking: score DESC, docFreq DESC, term ASC
  (SuggestWordScoreComparator.java:32-50), trimmed to ``num_sug``

Deliberate deviation: Lucene runs an edits=1 pass first and tops up with a
maxEdits pass capped at ``num_sug * maxInspections`` candidates — a
sequential-enumeration optimization whose caps can silently drop matches.
The read verifies EVERY banded candidate, which equals the uncapped limit
of Lucene's two-pass union, so no ``max_inspections`` knob exists here.

docFreq is summed over segment term_dict rows and counts tombstoned docs
until physical compaction — exactly IndexReader.docFreq's contract
(deleted docs affect docFreq until merges reclaim them).

The prefix suggester is the Lookup/LuceneDictionary analog
(suggest/.../suggest/Lookup.java, spell/LuceneDictionary.java:28 — terms
weighted by docFreq): top-k terms under a prefix ordered by
(weight DESC, term ASC), i.e. exactly the TopTermsRewrite heap the reader's
``expand_terms_df`` already implements.
"""

from __future__ import annotations

import math
import re as _re
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..index.builder import FIELD_SEP
from .fuzzy import osa_many

__all__ = [
    "SuggestWord",
    "DirectSpellChecker",
    "prefix_suggest",
    "infix_suggest",
    "fuzzy_suggest",
    "regex_completion_suggest",
    "context_suggest",
]

MODES = ("when_not_in_index", "more_popular", "always")  # SuggestMode.java


@dataclass(frozen=True)
class SuggestWord:
    """spell/SuggestWord.java: string + score + docFreq."""

    word: str
    score: float
    freq: int


class DirectSpellChecker:
    """DirectSpellChecker over a ``Searcher``'s term dict."""

    def __init__(
        self,
        searcher,
        *,
        max_edits: int = 2,
        min_prefix: int = 1,
        accuracy: float = 0.5,
        min_query_length: int = 4,
        max_query_length: int = 2**31 - 1,
        max_query_frequency: float = 0.01,
        threshold_frequency: float = 0.0,
        transpositions: bool = True,
        field: str | None = None,
    ):
        if not 1 <= max_edits <= 2:  # LevenshteinAutomata.MAXIMUM_SUPPORTED_DISTANCE
            raise ValueError("max_edits must be 1 or 2")
        if min_query_length > max_query_length:
            raise ValueError("min_query_length must not exceed max_query_length")
        self.searcher = searcher
        self.max_edits = max_edits
        self.min_prefix = min_prefix
        self.accuracy = accuracy
        self.min_query_length = min_query_length
        self.max_query_length = max_query_length
        self.max_query_frequency = max_query_frequency
        self.threshold_frequency = threshold_frequency
        self.transpositions = transpositions
        self.field = field

    # --- internals -------------------------------------------------------
    def _candidates(self, term: str, min_df: int) -> list[SuggestWord]:
        """Every verified candidate of ``term`` — suggestSimilar before the
        rank/trim."""
        ns = _namespace(self.searcher, self.field)
        # the weak prefix gates every candidate (in the read); the strong
        # one re-gates distance>1 candidates after verification
        pl_weak = min(self.min_prefix, len(term))
        pl_strong = min(max(self.min_prefix, self.max_edits - 1), len(term))
        out = []
        for key, edits, freq in self.searcher.reader.fuzzy_terms(
            term, self.max_edits, pl_weak, ns, self.transpositions
        ):
            word = key[len(ns):]
            if edits == 0 or freq <= min_df:  # never suggest the query itself
                continue
            if edits > 1 and not word.startswith(term[:pl_strong]):
                continue
            shorter = min(len(word), len(term))
            score = 1.0 - edits / shorter if shorter else -math.inf
            if score >= self.accuracy:
                out.append(SuggestWord(word, score, freq))
        return out

    # --- public API -------------------------------------------------------
    def suggestions_df(
        self, term: str, num_sug: int = 5, mode: str = "when_not_in_index"
    ) -> DataFrame:
        """Top suggestions as a DataFrame (word, score, freq) in SuggestWord
        ranking order, built from ``suggest_similar``'s local rows."""
        return _suggestions_frame(self.searcher, self.suggest_similar(term, num_sug, mode))

    def suggest_similar(
        self, term: str, num_sug: int = 5, mode: str = "when_not_in_index"
    ) -> list[SuggestWord]:
        if mode not in MODES:
            raise ValueError(f"mode must be one of {MODES}")
        s = self.searcher
        if not (self.min_query_length <= len(term) <= self.max_query_length):
            return []
        ns = _namespace(self.searcher, self.field)
        docfreq = s._term_stats([ns + term])[ns + term][0]
        if mode == "when_not_in_index" and docfreq > 0:
            return []
        max_doc = int(s.reader.global_stats[0])
        mqf = self.max_query_frequency
        if mqf >= 1.0:
            if docfreq > mqf:
                return []
        elif docfreq > int(math.ceil(mqf * float(max_doc))):
            return []
        min_df = docfreq if mode == "more_popular" else 0
        tf = self.threshold_frequency
        if tf >= 1.0:
            min_df = max(min_df, int(tf))
        elif tf > 0.0:
            min_df = max(min_df, int(tf * float(max_doc)) - 1)
        return _ranked(self._candidates(term, min_df), num_sug)


def _namespace(searcher, field: str | None) -> str:
    """The term-key namespace a checker reads: ``field``'s, else the
    searcher's default field's, else the classic keys' (``""``)."""
    field = field or (searcher.default_field if searcher.fields else None)
    return field + FIELD_SEP if field else ""


def _ranked(words: list[SuggestWord], n: int) -> list[SuggestWord]:
    """The first ``n`` by score DESC, freq DESC, word ASC
    (SuggestWordScoreComparator.java:32-50)."""
    return sorted(words, key=lambda w: (-w.score, -w.freq, w.word))[:n]


def _suggestions_frame(searcher, words: list[SuggestWord]) -> DataFrame:
    return searcher.spark.createDataFrame(
        [(w.word, w.score, w.freq) for w in words],
        "word string, score double, freq long",
    )


def _spell_gram_sizes(l: int) -> tuple[int, int]:
    """Classic SpellChecker n-gram size window by word length
    (spell/SpellChecker.java:554-572 getMin/getMax)."""
    if l > 5:
        return 3, 4
    if l == 5:
        return 2, 3
    return 1, min(l, 2)


def _spell_form_grams(word: str, ng: int) -> list[str]:
    """All positional n-grams, duplicates allowed
    (SpellChecker.java:433-443 formGrams)."""
    return [word[i : i + ng] for i in range(len(word) - ng + 1)]


class NGramSpellChecker:
    """The CLASSIC n-gram spell checker (suggest/src/java/org/apache/
    lucene/search/spell/SpellChecker.java) over a ``Searcher``'s term
    dictionary — the pre-DirectSpellChecker design that retrieves
    candidates by shared character n-grams instead of an edit-distance
    automaton, then ranks by true edit distance.

    Mirrored semantics (suggestSimilar, SpellChecker.java:306-409):

    - gram sizes from the QUERY length: getMin/getMax (:554-572) — >5
      chars → 3..4-grams, ==5 → 2..3, shorter → 1..min(len,2)
    - candidate clauses: every gram of every size SHOULD-matches; the
      FIRST gram of each size hits the ``start<n>`` field (boost
      ``b_start``=2.0, :79) and the LAST the ``end<n>`` field (boost
      ``b_end``=1.0, :81) — here startswith/endswith/contains predicates
      on the term string, which define the same match sets the gram
      fields would
    - candidate cut: the reference keeps the top ``10·num_sug`` hits of
      that boolean query (:362). Our cut score is the SUM OF MATCHED
      CLAUSE BOOSTS (constant-score clauses; ties broken term ASC) rather
      than gram-idf BM25 — same clause structure, different tie order
      inside the cut. ``max_hits=None`` disables the cut (exhaustive
      verify — strictly higher recall, still one scan + one short verify)
    - score = 1 − lev/MAX(len(query), len(word))
      (spell/LevenshteinDistance.java:100 — note max(), unlike
      DirectSpellChecker's LuceneLevenshteinDistance which divides by
      min()); plain Levenshtein, no transpositions
    - never suggests the query itself (:378); drops score < accuracy
      (:385); ``more_popular`` requires candidate df > query df (:391);
      ``when_not_in_index`` returns the query word itself when indexed
      (:332)
    - ranking: score DESC, freq DESC, word ASC
      (SuggestWordScoreComparator.java:32-50)

    Shape: the gram predicates filter the driver's pyarrow read of the
    term dictionary (``IndexReader._term_sums``), and the Levenshtein
    verify (``osa_many`` without transpositions) runs over the cut
    candidates only; no Spark job."""

    def __init__(
        self,
        searcher,
        *,
        accuracy: float = 0.5,
        b_start: float = 2.0,
        b_end: float = 1.0,
        field: str | None = None,
    ):
        self.searcher = searcher
        self.accuracy = accuracy
        self.b_start = b_start
        self.b_end = b_end
        self.field = field

    def suggestions_df(
        self,
        word: str,
        num_sug: int = 5,
        mode: str = "always",
        max_hits: int | None = None,
    ) -> DataFrame:
        """(word, score, freq) suggestions in SuggestWord ranking order,
        built from local rows."""
        return _suggestions_frame(self.searcher, self._suggest(word, num_sug, mode, max_hits))

    def suggest_similar(
        self, word: str, num_sug: int = 5, mode: str = "always"
    ) -> list[SuggestWord]:
        return self._suggest(word, num_sug, mode, None)

    def _suggest(self, word: str, num_sug: int, mode: str, max_hits: int | None):
        if mode not in MODES:
            raise ValueError(f"mode must be one of {MODES}")
        ns = _namespace(self.searcher, self.field)
        s = self.searcher
        docfreq = s._term_stats([ns + word])[ns + word][0]
        if mode == "when_not_in_index" and docfreq > 0:
            # the reference returns the word itself (:332-334)
            return [SuggestWord(word, 1.0, int(docfreq))]
        lo, hi = _spell_gram_sizes(len(word))
        clauses: list[tuple[object, str, float]] = []  # (predicate, gram, boost)
        for ng in range(lo, hi + 1):
            grams = _spell_form_grams(word, ng)
            if not grams:
                continue
            if self.b_start > 0:
                clauses.append((pc.starts_with, grams[0], self.b_start))
            if self.b_end > 0:
                clauses.append((pc.ends_with, grams[-1], self.b_end))
            clauses.extend((pc.match_substring, g, 1.0) for g in grams)

        def candidate(term):
            w = pc.utf8_slice_codeunits(term, len(ns))
            match_any = pa.scalar(False)
            for pred, g, _b in clauses:
                match_any = pc.or_(match_any, pred(w, g))
            return pc.and_(match_any, pc.not_equal(w, word))

        cand = s.reader._term_sums([candidate], ns)
        words = pc.utf8_slice_codeunits(cand["term"], len(ns))
        freqs = cand["df"].to_numpy()
        if max_hits is not None:
            cut = sum(
                pc.if_else(pred(words, g), b, 0.0).to_numpy() for pred, g, b in clauses
            )
            order = np.lexsort((words.to_numpy(zero_copy_only=False), -cut))
            keep = order[: int(max_hits)]
            words, freqs = words.take(keep), freqs[keep]
        words = words.to_numpy(zero_copy_only=False)
        lens = np.fromiter(map(len, words), np.int64, len(words))
        # plain Levenshtein (spell/LevenshteinDistance.java), never capped:
        # no distance exceeds the longer string
        bound = max(len(word), int(lens.max(initial=0)))
        dist = osa_many(word, words, bound, transpositions=False)
        score = 1.0 - dist / np.maximum(lens, len(word))
        out = [
            SuggestWord(w_, float(sc), int(fr))
            for w_, sc, fr in zip(words, score, freqs)
            if sc >= self.accuracy and (mode != "more_popular" or fr > docfreq)
        ]
        return _ranked(out, num_sug)


def prefix_suggest(searcher, prefix: str, k: int = 10) -> list[tuple[str, int]]:
    """Autocomplete lookup: top-k index terms under ``prefix`` ranked by
    docFreq weight (Lookup.java ordering: weight DESC, key ASC via
    LuceneDictionary's docFreq weights)."""
    ns = _namespace(searcher, None)
    pairs = searcher.reader.expand_terms_df(prefix=ns + prefix, max_terms=k)
    return [(t[len(ns):], df) for t, df in pairs]


def infix_suggest(
    suggestions,
    query: str,
    k: int = 10,
    text_col: str = "text",
    weight_col: str = "weight",
):
    """AnalyzingInfixSuggester analog (suggest/analyzing/
    AnalyzingInfixSuggester.java:95): suggestions are (text, weight) rows;
    the query is analyzed, every token but the last must occur as an
    EXACT token anywhere in the suggestion, the last token matches as a
    PREFIX of any token; ranking weight DESC then text ASC. Map-only
    filter over the suggestion table + TakeOrderedAndProject — at scale
    the suggestion table is dictionary-sized and the filter is pure
    codegen (no UDF, no shuffle)."""
    toks = [t for t in _re.split(r"[^a-z0-9]+", query.lower()) if t]
    if not toks:
        raise ValueError("empty suggest query")
    *full, last = toks
    arr = F.filter(
        F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"), lambda x: x != ""
    )
    cond = F.exists(arr, lambda x: x.startswith(last))
    for t in full:
        cond = cond & F.array_contains(arr, t)
    return (
        suggestions.filter(cond)
        .orderBy(F.desc(weight_col), F.asc(text_col))
        .limit(k)
        .select(text_col, weight_col)
    )


def analyzing_suggest(
    suggestions,
    query: str,
    k: int = 10,
    stopwords: frozenset[str] | None = None,
    text_col: str = "text",
    weight_col: str = "weight",
):
    """AnalyzingSuggester analog (suggest/analyzing/AnalyzingSuggester.java
    :129): completion matches on the ANALYZED form of the key but returns
    the SURFACE form — "the ghost chr" completes "The Ghost of Christmas
    Past" because analysis (lowercase + stop removal) runs on both sides
    before matching, unlike the raw-prefix Lookup. The analyzed query must
    be a PREFIX of the analyzed key token sequence: every query token but
    the last equals the key token at the SAME position from the start, and
    the last query token is a prefix of the next key token (Lucene
    intersects the analyzed-query automaton with the suggestion FST's
    prefix paths — position-anchored, where the infix suggester matches
    anywhere). Ranking weight DESC, text ASC (Lookup ordering).

    Spark shape: the token array, stop filter, and position-anchored
    comparisons are all codegen expressions over the suggestion table —
    map-only filter + TakeOrderedAndProject, no UDF, no shuffle."""
    toks = [t for t in _re.split(r"[^a-z0-9]+", query.lower()) if t]
    if stopwords:
        toks = [t for t in toks if t not in stopwords]
    if not toks:
        raise ValueError("suggest query analyzes to no tokens")
    arr = F.filter(
        F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"), lambda x: x != ""
    )
    if stopwords:
        stop_arr = F.array(*[F.lit(w) for w in sorted(stopwords)])
        arr = F.filter(arr, lambda x: ~F.array_contains(stop_arr, x))
    *full, last = toks
    cond = F.size(arr) >= len(toks)
    for i, t in enumerate(full):
        cond = cond & (F.element_at(arr, i + 1) == t)
    cond = cond & F.element_at(arr, len(toks)).startswith(last)
    return (
        suggestions.filter(cond)
        .orderBy(F.desc(weight_col), F.asc(text_col))
        .limit(k)
        .select(text_col, weight_col)
    )


def fuzzy_suggest(
    suggestions,
    query: str,
    k: int = 10,
    max_edits: int = 1,
    non_fuzzy_prefix: int = 1,
    min_fuzzy_length: int = 3,
    transpositions: bool = True,
    text_col: str = "text",
    weight_col: str = "weight",
):
    """FuzzySuggester analog (suggest/analyzing/FuzzySuggester.java:66):
    completion that tolerates typos in the typed prefix. Lucene intersects
    a Levenshtein automaton of the analyzed query against the suggestion
    FST's prefix paths; the equivalent set semantics here: a suggestion
    matches when SOME PREFIX of its lowercased text is within
    ``max_edits`` of the query (OSA when ``transpositions``, plain
    Levenshtein otherwise — LevenshteinAutomata's two flavors), with the
    first ``non_fuzzy_prefix`` characters matching exactly
    (FuzzySuggester.DEFAULT_NON_FUZZY_PREFIX=1) and queries shorter than
    ``min_fuzzy_length`` matching as plain prefixes
    (DEFAULT_MIN_FUZZY_LENGTH=3).

    Spark shape: the exact non-fuzzy prefix + a length floor push into the
    scan as codegen predicates; the edit-distance verify is an
    Arrow-batched pandas UDF over the pre-filtered candidates (the same
    two-phase plan as FuzzyQuery expansion). Ranking: weight DESC, text
    ASC (Lookup ordering)."""
    if not 1 <= max_edits <= 2:
        raise ValueError("max_edits must be 1 or 2")
    q = query.lower()
    if not q:
        raise ValueError("empty suggest query")
    lowered = F.lower(F.col(text_col))
    ranked = lambda df: (  # noqa: E731
        df.orderBy(F.desc(weight_col), F.asc(text_col))
        .limit(k)
        .select(text_col, weight_col)
    )
    if len(q) < min_fuzzy_length:
        return ranked(suggestions.filter(lowered.startswith(q)))
    nfp = min(non_fuzzy_prefix, len(q))
    cand = suggestions.filter(
        lowered.startswith(q[:nfp])
        & (F.length(text_col) >= len(q) - max_edits)
    )
    lq, me, transp = len(q), max_edits, transpositions

    @F.pandas_udf("boolean")
    def prefix_within(texts: pd.Series) -> pd.Series:
        from lucene_spark.search.fuzzy import osa_distance as _d

        def ok(t: str) -> bool:
            t = t.lower()
            for ln in range(max(0, lq - me), min(len(t), lq + me) + 1):
                if _d(q, t[:ln], me, transp) <= me:
                    return True
            return False

        return texts.map(ok)

    return ranked(cand.filter(prefix_within(F.col(text_col))))


def freetext_suggest(
    docs,
    query: str,
    k: int = 10,
    alpha: float = 0.4,
    text_col: str = "text",
):
    """FreeTextSuggester analog (suggest/analyzing/FreeTextSuggester.java:118):
    a 2-gram language model with stupid backoff (the same model the reference
    builds into an FST; ALPHA = 0.4, FreeTextSuggester.java:134). The query's
    last token is a PREFIX of the completion, the token before it is the
    bigram context:

        score(w) = count(context, w) / count(context)        if the bigram exists
                 = alpha * (count(w) / total_tokens)          otherwise

    Model building is two map-side-combinable aggregations over map-only
    token/bigram streams (bigrams come from zipping the token array with
    itself shifted — no self-join, no window); candidate ranking is a
    broadcast-sized join. At 100 TB the model tables are vocabulary-sized
    (≪ corpus) and both aggregations combine map-side."""
    from ..pipeline.dedup import _token_array

    toks = [t for t in _re.split(r"[^a-z0-9]+", query.lower()) if t]
    if len(toks) < 2:
        raise ValueError("freetext_suggest needs a context token + a prefix")
    context, prefix = toks[-2], toks[-1]

    arr = _token_array(text_col)
    uni = (
        docs.select(F.explode(arr).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("cnt"))
    )
    big = (
        docs.select(
            F.explode(
                F.arrays_zip(
                    F.slice(arr, 1, F.greatest(F.size(arr) - 1, F.lit(0))).alias("w1"),
                    F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))).alias("w2"),
                )
            ).alias("bg")
        )
        .select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("cnt2"))
    )

    total = uni.agg(F.sum("cnt")).collect()[0][0] or 1
    ctx_cnt_row = uni.filter(F.col("term") == context).collect()
    ctx_cnt = int(ctx_cnt_row[0]["cnt"]) if ctx_cnt_row else 0

    cands = uni.filter(F.col("term").startswith(prefix))
    big_ctx = big.filter(F.col("w1") == context).select(
        F.col("w2").alias("term"), "cnt2"
    )
    scored = cands.join(F.broadcast(big_ctx), "term", "left").select(
        "term",
        F.when(
            F.col("cnt2").isNotNull() & F.lit(ctx_cnt > 0),
            F.col("cnt2").cast("double") / F.lit(float(ctx_cnt)),
        )
        .otherwise(
            F.lit(float(alpha)) * (F.col("cnt").cast("double") / F.lit(float(total)))
        )
        .alias("score"),
    )
    return (
        scored.orderBy(F.desc("score"), F.asc("term"))
        .limit(k)
        .select("term", F.round("score", 6).alias("score"))
    )


def blended_infix_suggest(
    suggestions,
    query: str,
    k: int = 10,
    blender: str = "reciprocal",
    exponent: float = 2.0,
    text_col: str = "text",
    weight_col: str = "weight",
):
    """BlendedInfixSuggester (suggest/analyzing/BlendedInfixSuggester.java
    :213-379): infix matching like AnalyzingInfixSuggester, but the weight
    blends with the FIRST position at which any matched token (exact
    tokens, or the prefix token) occurs in the suggestion —
    ``linear`` = 1 - 0.10·pos, ``reciprocal`` = 1/(1+pos),
    ``exponential_reciprocal`` = 1/(1+pos)^exponent; a suggestion whose
    raw text starts with the raw key keeps coefficient 1 (:259-261).
    Zero weights become 1 and |weight| < 10 scales by 10 before blending
    (:265-270); the final score truncates to a long (:271). Ranking:
    score DESC, text ASC. Same map-only codegen shape as infix_suggest."""
    if blender not in ("linear", "reciprocal", "exponential_reciprocal"):
        raise ValueError(f"unknown blender {blender!r}")
    toks = [t for t in _re.split(r"[^a-z0-9]+", query.lower()) if t]
    if not toks:
        raise ValueError("empty suggest query")
    *full, last = toks
    arr = F.filter(
        F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"), lambda x: x != ""
    )
    cond = F.exists(arr, lambda x: x.startswith(last))
    for t in full:
        cond = cond & F.array_contains(arr, t)

    def is_match(x):
        m = x.startswith(last)
        for t in full:
            m = m | (x == t)
        return m

    big = F.lit(2**31 - 1)
    minpos = F.array_min(
        F.zip_with(
            arr,
            F.sequence(F.lit(0), F.size(arr) - 1),
            lambda x, i: F.when(is_match(x), i).otherwise(big),
        )
    )
    if blender == "linear":
        coef = 1.0 - 0.10 * minpos
    elif blender == "reciprocal":
        coef = F.lit(1.0) / (minpos + F.lit(1.0))
    else:
        coef = F.lit(1.0) / F.pow(minpos + F.lit(1.0), F.lit(float(exponent)))
    coef = F.when(F.col(text_col).startswith(query), F.lit(1.0)).otherwise(coef)
    w = F.col(weight_col).cast("long")
    w = F.when(w == 0, F.lit(1)).otherwise(w)
    w = F.when((w < 10) & (w > -10), w * 10).otherwise(w)
    score = (w.cast("double") * coef).cast("long")
    return (
        suggestions.filter(cond)
        .withColumn("score", score)
        .orderBy(F.desc("score"), F.asc(text_col))
        .limit(k)
        .select(text_col, "score")
    )


def regex_completion_suggest(
    suggestions,
    pattern: str,
    k: int = 10,
    text_col: str = "text",
    weight_col: str = "weight",
):
    """RegexCompletionQuery (suggest/document/RegexCompletionQuery.java:40):
    Lucene compiles the regex to an automaton and intersects it with the
    suggestion FST's PREFIX paths — a suggestion matches when the regex
    consumes some prefix of its (lowercased, like the default
    CompletionAnalyzer) surface form. Spark shape: a start-anchored rlike,
    map-only codegen over the dictionary-sized suggestion table; ranking is
    the Lookup order (weight DESC, text ASC)."""
    anchored = "^(?:" + pattern + ")"
    return (
        suggestions.filter(F.lower(F.col(text_col)).rlike(anchored))
        .orderBy(F.desc(weight_col), F.asc(text_col))
        .limit(k)
        .select(text_col, weight_col)
    )


def _analyzed_prefix_cond(
    query: str,
    text_col: str,
    stopwords: frozenset[str] | None = None,
):
    """Position-anchored analyzed-prefix condition shared by
    analyzing_suggest and context_suggest (PrefixCompletionQuery's match
    rule): every analyzed query token but the last equals the suggestion
    token at the same position, the last is a prefix of the next."""
    toks = [t for t in _re.split(r"[^a-z0-9]+", query.lower()) if t]
    if stopwords:
        toks = [t for t in toks if t not in stopwords]
    if not toks:
        raise ValueError("suggest query analyzes to no tokens")
    arr = F.filter(
        F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"), lambda x: x != ""
    )
    if stopwords:
        stop_arr = F.array(*[F.lit(w) for w in sorted(stopwords)])
        arr = F.filter(arr, lambda x: ~F.array_contains(stop_arr, x))
    *full, last = toks
    cond = F.size(arr) >= len(toks)
    for i, t in enumerate(full):
        cond = cond & (F.element_at(arr, i + 1) == t)
    return cond & F.element_at(arr, len(toks)).startswith(last)


def context_suggest(
    suggestions,
    query: str,
    contexts: dict[str, float] | None = None,
    k: int = 10,
    text_col: str = "text",
    weight_col: str = "weight",
    contexts_col: str = "contexts",
    stopwords: frozenset[str] | None = None,
):
    """ContextQuery (suggest/document/ContextQuery.java:63) wrapping a
    PrefixCompletionQuery: suggestions carry an array of context values
    (ContextSuggestField); the query carries (context -> boost). A
    suggestion matches when the inner completion matches AND it has at
    least one queried context; its score is weight * max(matching boosts)
    (addContext javadoc: "the boost is multiplied with the suggestion
    weight", several matching contexts keep the best). A query with no
    contexts matches every context with boost 1 (ContextQuery's
    allContexts path). Map-only: the context map is a literal, the boost
    lookup is a codegen transform — no UDF, no shuffle."""
    cond = _analyzed_prefix_cond(query, text_col, stopwords)
    out = suggestions.filter(cond)
    w = F.col(weight_col).cast("double")
    if contexts:
        pairs: list = []
        for c, b in sorted(contexts.items()):
            pairs.extend([F.lit(c), F.lit(float(b))])
        cmap = F.create_map(*pairs)
        boosts = F.filter(
            F.transform(F.col(contexts_col), lambda c: F.element_at(cmap, c)),
            lambda x: x.isNotNull(),
        )
        out = (
            out.withColumn("_boosts", boosts)
            .filter(F.size("_boosts") > 0)
            .withColumn("score", w * F.array_max("_boosts"))
            .drop("_boosts")
        )
    else:
        out = out.withColumn("score", w)
    return (
        out.orderBy(F.desc("score"), F.asc(text_col))
        .limit(k)
        .select(text_col, F.round("score", 4).alias("score"))
    )
