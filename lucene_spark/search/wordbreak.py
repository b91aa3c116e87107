"""Word-break spell checking: split run-together terms and combine
adjacent terms (suggest/src/java/org/apache/lucene/search/spell/
WordBreakSpellChecker.java).

``suggest_word_breaks`` (:74-146, recursion :301-372): break a term into
2..max_changes+1 parts, each an index term with docFreq >=
min_suggestion_frequency (raised to the query term's own frequency in
``more_popular`` mode) and length >= min_break_word_length; the reference
recurses on the right side of every valid left split, so valid sequences
are exactly those whose every prefix-split has an in-vocabulary left part.
Ranking = fewer breaks first, then max- or sum-frequency descending
(LengthThenMaxFreq/LengthThenSumFreqComparator :461-489), then the word
sequence ascending (the reference's heap leaves exact ties unordered).

``suggest_word_combinations`` (:148-238): concatenate up to max_changes+1
adjacent query terms; a combination qualifies when the combined term's
docFreq >= min_suggestion_frequency, in ``when_not_in_index`` mode at
least one input term is absent from the index (minFreq == 0 check :207),
and in ``more_popular`` mode the combined frequency beats every input
term's (:206). Ranking = fewer combined terms, then frequency descending
(CombinationsThenFreqComparator), then word ascending.

Spark-first deviation: Lucene probes docFreq per candidate sequentially
under a ``maxEvaluations`` budget (default 1000) that silently truncates
the search. Here every candidate substring (O(len²), planning-sized) is
resolved in ONE batched term_dict lookup — a single pushdown parquet scan
— and the split recursion runs uncapped on the driver over that in-memory
frequency map, which equals the reference's maxEvaluations→∞ limit; no
``max_evaluations`` knob exists.
"""

from __future__ import annotations

from dataclasses import dataclass

from ..index.builder import FIELD_SEP
from .spell import MODES, SuggestWord

__all__ = ["CombineSuggestion", "WordBreakSpellChecker"]

SORT_METHODS = (
    "num_changes_then_max_frequency",  # default, BreakSuggestionSortMethod
    "num_changes_then_summed_frequency",
)


@dataclass(frozen=True)
class CombineSuggestion:
    """spell/CombineSuggestion.java: the combined word + the indexes of the
    input terms it replaces. ``suggestion.score`` = #terms combined - 1,
    as the reference sets it (:221)."""

    suggestion: SuggestWord
    orig_indexes: tuple


class WordBreakSpellChecker:
    def __init__(
        self,
        searcher,
        *,
        min_suggestion_frequency: int = 1,
        min_break_word_length: int = 1,
        max_combine_word_length: int = 20,
        max_changes: int = 1,
        field: str | None = None,
    ):
        self.searcher = searcher
        self.min_suggestion_frequency = min_suggestion_frequency
        self.min_break_word_length = min_break_word_length
        self.max_combine_word_length = max_combine_word_length
        self.max_changes = max_changes
        self.field = field

    def _namespace(self) -> str:
        s = self.searcher
        if self.field:
            return self.field + FIELD_SEP
        if s.fields:
            return s.default_field + FIELD_SEP
        return ""

    def _freqs(self, words: list[str]) -> dict[str, int]:
        """docFreq of many words in ONE batched term_dict lookup."""
        ns = self._namespace()
        stats = self.searcher._term_stats([ns + w for w in words])
        return {w: stats[ns + w][0] for w in words}

    # --- breaks ----------------------------------------------------------
    def suggest_word_breaks(
        self,
        term: str,
        max_suggestions: int = 5,
        mode: str = "when_not_in_index",
        sort_method: str = "num_changes_then_max_frequency",
    ) -> list[list[SuggestWord]]:
        if mode not in MODES:
            raise ValueError(f"mode must be one of {MODES}")
        if sort_method not in SORT_METHODS:
            raise ValueError(f"sort_method must be one of {SORT_METHODS}")
        if max_suggestions < 1:
            return []
        min_len = max(self.min_break_word_length, 1)
        if len(term) < 2 * min_len:
            return []
        # one lookup for the query term + every viable substring
        subs = {
            term[i:j]
            for i in range(len(term))
            for j in range(i + min_len, len(term) + 1)
            if (i, j) != (0, len(term))
        }
        freqs = self._freqs(sorted(subs) + [term])
        orig = freqs[term]
        if orig > 0 and mode == "when_not_in_index":
            return []
        use_min = self.min_suggestion_frequency
        if mode == "more_popular":
            use_min = orig if orig > 0 else 1

        out: list[list[SuggestWord]] = []

        def split(text: str, offset_parts: list[SuggestWord], breaks: int):
            if len(text) < 2 * min_len:
                return
            for i in range(min_len, len(text) - min_len + 1):
                left, right = text[:i], text[i:]
                fl = freqs.get(left, 0)
                if fl < use_min:
                    continue
                lw = SuggestWord(left, float(fl), fl)
                fr = freqs.get(right, 0)
                if fr >= use_min:
                    out.append([*offset_parts, lw, SuggestWord(right, float(fr), fr)])
                if breaks + 1 <= self.max_changes:
                    split(right, [*offset_parts, lw], breaks + 1)

        split(term, [], 1)
        key_freq = (
            (lambda ws: max(w.freq for w in ws))
            if sort_method == "num_changes_then_max_frequency"
            else (lambda ws: sum(w.freq for w in ws))
        )
        out.sort(key=lambda ws: (len(ws), -key_freq(ws), tuple(w.word for w in ws)))
        return out[:max_suggestions]

    # --- combinations ----------------------------------------------------
    def suggest_word_combinations(
        self,
        terms: list[str],
        max_suggestions: int = 5,
        mode: str = "when_not_in_index",
    ) -> list[CombineSuggestion]:
        if mode not in MODES:
            raise ValueError(f"mode must be one of {MODES}")
        if max_suggestions < 1:
            return []
        cands: list[tuple[str, tuple]] = []
        for i in range(len(terms) - 1):
            if len(terms[i]) > self.max_combine_word_length:
                continue
            combined = terms[i]
            for j in range(i + 1, min(len(terms), i + self.max_changes + 1)):
                combined = combined + terms[j]
                if len(combined) > self.max_combine_word_length:
                    break
                cands.append((combined, tuple(range(i, j + 1))))
        words = sorted({c for c, _ix in cands} | set(terms))
        freqs = self._freqs(words) if words else {}
        out: list[CombineSuggestion] = []
        for combined, idxs in cands:
            fs = [freqs.get(terms[x], 0) for x in idxs]
            cf = freqs.get(combined, 0)
            if mode == "more_popular" and cf < max(fs):
                continue
            if mode == "when_not_in_index" and min(fs) != 0:
                continue
            if cf < self.min_suggestion_frequency:
                continue
            out.append(
                CombineSuggestion(
                    SuggestWord(combined, float(len(idxs) - 1), cf), idxs
                )
            )
        out.sort(
            key=lambda c: (
                len(c.orig_indexes),
                -c.suggestion.freq,
                c.suggestion.word,
                c.orig_indexes,
            )
        )
        return out[:max_suggestions]
