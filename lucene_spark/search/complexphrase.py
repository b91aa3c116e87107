"""ComplexPhraseQueryParser — wildcards, fuzzies, and alternation groups
INSIDE quoted phrases.

Reference behavior: queryparser/complexPhrase/ComplexPhraseQueryParser.java
("QueryParser which permits complex phrase query syntax eg
\"(john jon jonathan~) peters*\"", class javadoc; rewrite at :266-354):
each phrase slot becomes a span clause — a plain word a SpanTermQuery, a
multi-term pattern its expansion wrapped as a SpanOr, a parenthesized
group a SpanOr of its alternatives, a prohibited group member the exclude
side of a SpanNotQuery — and the whole phrase a SpanNearQuery with the
phrase's slop and the parser's inOrder flag (default true,
ComplexPhraseQueryParser.java:66).

The Spark-first shape: expansion happens ONCE at plan time against the
term dictionary (prefix/pattern pushdown on the dict scan — the
distributed automaton-intersects-terms), the resulting span tree runs on
this engine's span evaluator (search/spans.py, per-leaf position algebra),
so query cost scales with matched postings, never with the pattern.
"""

from __future__ import annotations

from .query import MatchNoDocsQuery
from .spans import SpanNear, SpanNot, SpanOr, SpanTerm

__all__ = ["complex_phrase_query"]


def _split_slots(s: str) -> list[str]:
    """Top-level whitespace split, keeping (...) groups intact."""
    out, buf, depth = [], [], 0
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth = max(0, depth - 1)
        if ch.isspace() and depth == 0:
            if buf:
                out.append("".join(buf))
                buf = []
        else:
            buf.append(ch)
    if buf:
        out.append("".join(buf))
    return out


def _analyzed_word(searcher, word: str) -> str:
    toks = searcher._analyzer(word)
    if len(toks) != 1:
        raise ValueError(
            f"complex phrase slot {word!r} analyzes to {len(toks)} tokens; "
            "each slot must analyze to exactly one term"
        )
    return toks[0].term


def _word_span(searcher, word: str, max_terms: int):
    """One positive slot member -> span clause (expanding multi-terms)."""
    if word.endswith("~") or ("~" in word and word.rsplit("~", 1)[1].isdigit()):
        base, _, edits = word.rpartition("~")
        target = _analyzed_word(searcher, base)
        matched = searcher._fuzzy_matches(
            target, int(edits) if edits else 2, 0, searcher._default_ns()
        )
        if not matched:
            return None
        return SpanOr(tuple(SpanTerm(t) for t, _e, _df in sorted(matched)))
    if "*" in word or "?" in word:
        terms = searcher._expand_wildcard(word.lower(), max_terms)
        if not terms:
            return None
        return SpanOr(tuple(SpanTerm(t) for t in sorted(terms)))
    return SpanTerm(searcher._default_ns() + _analyzed_word(searcher, word))


def complex_phrase_query(
    searcher,
    phrase: str,
    slop: int = 0,
    in_order: bool = True,
    max_terms: int = 128,
):
    """Parse ONE phrase's contents (the text between the quotes) into the
    CPQP span tree. Slots: ``word``, ``wild*card``/``w?rd``, ``word~`` /
    ``word~N`` (fuzzy), ``(alt1 alt2 -negated)`` groups. A slot whose
    expansion is empty makes the phrase unmatchable (MatchNoDocsQuery),
    exactly like the reference's empty-rewrite."""
    slots = _split_slots(phrase.strip())
    if len(slots) < 2:
        raise ValueError("complex phrase needs >= 2 slots")
    clauses = []
    for slot in slots:
        if slot.startswith("(") and slot.endswith(")"):
            pos, neg = [], []
            for w in _split_slots(slot[1:-1]):
                (neg if w.startswith("-") else pos).append(w.lstrip("-"))
            pos_spans = [s for s in (_word_span(searcher, w, max_terms) for w in pos)
                         if s is not None]
            if not pos_spans:
                return MatchNoDocsQuery()
            node = pos_spans[0] if len(pos_spans) == 1 else SpanOr(tuple(pos_spans))
            neg_spans = [s for s in (_word_span(searcher, w, max_terms) for w in neg)
                         if s is not None]
            if neg_spans:
                excl = neg_spans[0] if len(neg_spans) == 1 else SpanOr(tuple(neg_spans))
                node = SpanNot(include=node, exclude=excl)
            clauses.append(node)
            continue
        node = _word_span(searcher, slot, max_terms)
        if node is None:
            return MatchNoDocsQuery()
        clauses.append(node)
    return SpanNear(tuple(clauses), slop=slop, in_order=in_order)
