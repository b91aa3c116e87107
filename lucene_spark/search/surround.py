"""Surround query language parser — proximity-first boolean syntax over
the span family.

Behavioral reference: queryparser/src/java/org/apache/lucene/queryparser/
surround/ — the JavaCC grammar (parser/QueryParser.jj) with operator
precedence OR < AND < NOT < N < W, both infix (``a 3W b``) and prefix
(``3W(a, b, c)``) forms, case-insensitive operators, ``^boost`` suffixes
on terms, and ``*``/``?`` truncation terms. Distance operators build
``SpanNearQuery(clauses, opDistance - 1, ordered)``
(query/DistanceQuery.java:73-97 — W ordered, N unordered, default
distance 1); their operands must be distance-compatible — terms, OR of
distance-compatible operands, or nested distance ops
(DistanceQuery.distanceSubQueryNotAllowed:50-64); AND/NOT inside a
distance operator is an error. Boolean operators compose BooleanQuery
(query/SrndBooleanQuery.java), infix NOT mapping to MUST + MUST_NOT
(query/NotQuery.java). Span operands score directly (this engine's span
leaves are scoring queries), so no rewrite step is needed.

Truncation terms expand against the term dictionary (df-descending,
capped — the BasicQueryFactory bounded-budget analog) into a SpanOr,
which is valid in both distance and boolean context."""

from __future__ import annotations

import re
from typing import Callable

from .query import BooleanQuery, MatchNoDocsQuery, TermQuery
from .spans import SpanNear, SpanOr, SpanTerm, is_span

__all__ = ["parse_surround", "SurroundSyntaxError"]


class SurroundSyntaxError(ValueError):
    pass


_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<lpar>\()
      | (?P<rpar>\))
      | (?P<comma>,)
      | (?P<boost>\^\d+(?:\.\d+)?)
      | (?P<word>[^\s(),^]+)
    )""",
    re.VERBOSE,
)

_DIST_RE = re.compile(r"^(\d*)([wn])$", re.IGNORECASE)


def _tokenize(q: str) -> list[tuple[str, str]]:
    out, i = [], 0
    while i < len(q):
        m = _TOKEN_RE.match(q, i)
        if m is None or m.end() == i:
            if q[i:].strip():
                raise SurroundSyntaxError(f"cannot tokenize at: {q[i:]!r}")
            break
        i = m.end()
        kind = m.lastgroup
        out.append((kind, m.group(kind)))
    return out


def _as_span(q, op: str):
    if is_span(q):
        return q
    raise SurroundSyntaxError(
        f"operator {op} does not allow this subquery — terms, OR and "
        "nested W/N only (DistanceQuery.distanceSubQueryNotAllowed)"
    )


def _span_near(args, dist: int, ordered: bool):
    if any(isinstance(a, MatchNoDocsQuery) for a in args):
        # a truncation with zero expansions: the distance op requires all
        # sub queries (DistanceQuery.getSpanNearQuery:82-90)
        return MatchNoDocsQuery()
    op = f"{dist}{'W' if ordered else 'N'}"
    return SpanNear(
        tuple(_as_span(a, op) for a in args), slop=dist - 1, in_order=ordered
    )


def _or2(a, b):
    if is_span(a) and is_span(b):
        return SpanOr((a, b))  # stays distance-compatible
    return BooleanQuery(should=(a, b))


class _Parser:
    def __init__(self, tokens, expand: Callable | None, key: Callable):
        self.toks = tokens
        self.i = 0
        self.expand = expand  # pattern -> list[str] (df-desc, capped)
        self.key = key  # word -> term key

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else (None, None)

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def expect(self, kind: str) -> str:
        k, v = self.next()
        if k != kind:
            raise SurroundSyntaxError(f"expected {kind}, got {v!r}")
        return v

    def _at_word(self, name: str) -> bool:
        k, v = self.peek()
        return k == "word" and v.lower() == name

    def _at_dist(self, which: str):
        """Infix distance operator of kind 'w'/'n' at the cursor → its
        distance, else None."""
        k, v = self.peek()
        if k != "word":
            return None
        m = _DIST_RE.match(v)
        if m is None or m.group(2).lower() != which:
            return None
        return int(m.group(1) or "1")

    # precedence: OR < AND < NOT < N < W < primary (QueryParser.jj)
    def parse_or(self):
        left = self.parse_and()
        while self._at_word("or"):
            self.next()
            left = _or2(left, self.parse_and())
        return left

    def parse_and(self):
        left = self.parse_not()
        while self._at_word("and"):
            self.next()
            left = BooleanQuery(must=(left, self.parse_not()))
        return left

    def parse_not(self):
        left = self.parse_n()
        while self._at_word("not"):
            self.next()
            left = BooleanQuery(must=(left,), must_not=(self.parse_n(),))
        return left

    def parse_n(self):
        left = self.parse_w()
        while (d := self._at_dist("n")) is not None:
            self.next()
            left = _span_near([left, self.parse_w()], d, ordered=False)
        return left

    def parse_w(self):
        left = self.parse_primary()
        while (d := self._at_dist("w")) is not None:
            self.next()
            left = _span_near([left, self.parse_primary()], d, ordered=True)
        return left

    def parse_primary(self):
        k, v = self.next()
        if k == "lpar":
            inner = self.parse_or()
            self.expect("rpar")
            return inner
        if k != "word":
            raise SurroundSyntaxError(f"unexpected token {v!r}")
        if self.peek()[0] == "lpar":
            return self._prefix_op(v)
        return self._maybe_boost(self._term(v))

    def _prefix_op(self, opname: str):
        self.next()  # consume '('
        args = [self.parse_or()]
        while self.peek()[0] == "comma":
            self.next()
            args.append(self.parse_or())
        self.expect("rpar")
        low = opname.lower()
        m = _DIST_RE.match(low)
        if m is not None:
            return _span_near(
                args, int(m.group(1) or "1"), ordered=m.group(2) == "w"
            )
        if low == "or":
            out = args[0]
            for a in args[1:]:
                out = _or2(out, a)
            return out
        if low == "and":
            return BooleanQuery(must=tuple(args))
        if low == "not":
            # NOT(a, b, ...) = a AND NOT b AND NOT c (NotQuery semantics)
            return BooleanQuery(must=(args[0],), must_not=tuple(args[1:]))
        raise SurroundSyntaxError(f"unknown prefix operator {opname!r}")

    def _maybe_boost(self, q):
        k, v = self.peek()
        if k != "boost":
            return q
        self.next()
        b = float(v[1:])
        if isinstance(q, SpanTerm):
            return TermQuery(q.term, boost=b)
        if isinstance(q, MatchNoDocsQuery):
            return q
        raise SurroundSyntaxError("boost is supported on terms only")

    def _term(self, word: str):
        word = word.lower()
        if "*" in word or "?" in word:
            if self.expand is None:
                raise SurroundSyntaxError(
                    "truncated terms need a term-dictionary expander"
                )
            terms = self.expand(word)
            if not terms:
                return MatchNoDocsQuery()
            if len(terms) == 1:
                return SpanTerm(terms[0])
            return SpanOr(tuple(SpanTerm(t) for t in terms))
        return SpanTerm(self.key(word))


def parse_surround(query: str, expand: Callable | None = None):
    """Parse a surround-language query into the engine's AST. ``expand``
    maps a truncation pattern (``*``/``?``) to its term expansion."""
    return _parse(query, expand, str)


def _parse(query: str, expand: Callable | None, key: Callable):
    """``parse_surround``, with ``key`` mapping a plain word to its term
    key (``Searcher.surround_query`` keys it into the default field)."""
    toks = _tokenize(query)
    if not toks:
        return MatchNoDocsQuery()
    p = _Parser(toks, expand, key)
    out = p.parse_or()
    if p.i != len(p.toks):
        raise SurroundSyntaxError(
            f"trailing input at token {p.i}: {p.toks[p.i]!r}"
        )
    return out
