"""Fuzzy-term expansion support.

Lucene enumerates fuzzy candidates with a Levenshtein automaton over the
term dictionary (search/FuzzyTermsEnum.java, util/automaton/
LevenshteinAutomata.java, transpositions=true by default —
FuzzyQuery.java:52). ``IndexReader.fuzzy_terms`` filters the driver's
pyarrow read of the term dictionary with a cheap superset predicate (shared
prefix + length band — both automaton invariants), then verifies the
survivors with ``osa_many``, the banded DP of ``osa_distance`` run over
every candidate at once. ``osa_distance`` is the scalar reference.

Distance = optimal string alignment (Damerau-Levenshtein with adjacent
transposition counted as one edit, no substring re-edit) — matches the
automaton's transpositions=true behavior for max_edits ≤ 2, the only
values FuzzyQuery accepts (LevenshteinAutomata.MAXIMUM_SUPPORTED_DISTANCE).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np

__all__ = ["osa_distance", "osa_many", "fuzzy_similarity"]


def osa_distance(a: str, b: str, max_edits: int, transpositions: bool = True) -> int:
    """Banded OSA edit distance; returns max_edits+1 when the distance
    exceeds max_edits (early bail on the band). ``transpositions=False``
    degrades to plain Levenshtein (FuzzyQuery's transpositions=false mode,
    spell/LevenshteinDistance.java metric)."""
    la, lb = len(a), len(b)
    bail = max_edits + 1
    if abs(la - lb) > max_edits:
        return bail
    if a == b:
        return 0
    prev2: list[int] | None = None
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        lo = max(1, i - max_edits)
        hi = min(lb, i + max_edits)
        if lo > 1:
            cur[lo - 1] = bail
        best = min(cur[lo - 1], bail)  # column 0 is in the band while i <= max_edits
        for j in range(lo, hi + 1):
            cost = 0 if a[i - 1] == b[j - 1] else 1
            v = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
            if (
                transpositions
                and prev2 is not None
                and i > 1
                and j > 1
                and a[i - 1] == b[j - 2]
                and a[i - 2] == b[j - 1]
            ):
                v = min(v, prev2[j - 2] + 1)
            cur[j] = v
            best = min(best, v)
        if hi < lb:
            cur[hi + 1 :] = [bail] * (lb - hi)
        if best > max_edits:
            return bail
        prev2, prev = prev, cur
    return min(prev[lb], bail)


def osa_many(
    target: str, terms: Sequence[str], max_edits: int, transpositions: bool = True
) -> np.ndarray:
    """``osa_distance(target, t, max_edits, transpositions)`` of every ``t``
    in ``terms`` as an int32 array: DP row i for all terms at once over the
    band of columns within max_edits of i, cells capped at max_edits+1;
    terms whose band row passes max_edits leave (the scalar early bail)."""
    bail = max_edits + 1
    words = np.asarray(terms, dtype=object)
    lens = np.fromiter(map(len, words), np.int64, len(words))
    out = np.full(len(words), bail, np.int32)
    live = np.flatnonzero(np.abs(lens - len(target)) <= max_edits)
    if not len(live):
        return out
    width = max(1, int(lens[live].max()))
    # (column, term) code points; padding past a term's end is never read
    # by the cells its distance depends on
    codes = np.ascontiguousarray(
        words[live].astype(f"<U{width}").view(np.uint32).reshape(len(live), width).T
    )
    tgt = [ord(c) for c in target]
    row0 = np.minimum(np.arange(width + 1, dtype=np.int32), bail)
    prev = np.repeat(row0[:, None], len(live), axis=1)
    prev2 = prev
    for i in range(1, len(tgt) + 1):
        lo, hi = max(1, i - max_edits), min(width, i + max_edits)
        cur = np.full_like(prev, bail)
        cur[0] = min(i, bail)
        ti = tgt[i - 1]
        for j in range(lo, hi + 1):
            v = np.minimum(prev[j], cur[j - 1]) + 1
            np.minimum(v, prev[j - 1] + (codes[j - 1] != ti), out=v)
            if transpositions and i > 1 and j > 1:
                swap = (codes[j - 2] == ti) & (codes[j - 1] == tgt[i - 2])
                np.minimum(v, np.where(swap, prev2[j - 2] + 1, bail), out=v)
            np.minimum(v, bail, out=cur[j])
        keep = cur[lo - 1 : hi + 1].min(axis=0) <= max_edits
        if not keep.all():
            live, codes, cur, prev = live[keep], codes[:, keep], cur[:, keep], prev[:, keep]
            if not len(live):
                return out
        prev2, prev = prev, cur
    out[live] = prev[lens[live], np.arange(len(live))]
    return out


def fuzzy_similarity(edits: int, term: str, target: str) -> float:
    """Per-candidate boost = 1 - edits/min(len(term), len(target))
    (FuzzyTermsEnum boost attribute semantics); exact match boosts 1.0."""
    if edits == 0:
        return 1.0
    m = min(len(term), len(target))
    return 1.0 - edits / m if m else 0.0
