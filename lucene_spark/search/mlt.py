"""MoreLikeThis: build an OR query from the most "interesting" terms of a
source text (queries/src/java/org/apache/lucene/queries/mlt/MoreLikeThis.java).

Term selection (createQueue, MoreLikeThis.java:625-678): analyze the like-
text, count source term frequencies, drop terms with tf < min_term_freq
(:642), docFreq < min_doc_freq (:648), docFreq > max_doc_freq (:652) or
docFreq == 0 (:656), and word-length outliers (:... addTermFrequencies);
interestingness = tf * idf with ClassicSimilarity idf =
ln((numDocs+1)/(docFreq+1)) + 1 (ClassicSimilarity.java:69-71); keep the
top ``max_query_terms`` (FreqQ score-ordered heap, :628-629). Lucene's heap
breaks score ties by HashMap iteration order — nondeterministic; here ties
break by term ASC so results are stable and oracle-checkable.

Query construction (createQuery, :594-612): one SHOULD TermQuery per kept
term; with ``boost=True`` each clause is boosted by
``boost_factor * score / best_score``.

Distribution shape: the only cluster work is one docFreq lookup for the
like-text's distinct terms (a term_dict pushdown scan, planning-sized —
the same stats path every query's scorer construction uses); selection math
runs driver-side on that handful of (term, df) pairs, and the resulting
BooleanQuery executes through the ordinary distributed scoring path.
"""

from __future__ import annotations

import math

from .query import BooleanQuery, MatchNoDocsQuery, TermQuery

__all__ = ["MoreLikeThis"]


class MoreLikeThis:
    def __init__(
        self,
        searcher,
        *,
        min_term_freq: int = 2,
        min_doc_freq: int = 5,
        max_doc_freq: int = 2**31 - 1,
        max_query_terms: int = 25,
        min_word_len: int = 0,
        max_word_len: int = 0,
        boost: bool = False,
        boost_factor: float = 1.0,
    ):
        self.searcher = searcher
        self.min_term_freq = min_term_freq
        self.min_doc_freq = min_doc_freq
        self.max_doc_freq = max_doc_freq
        self.max_query_terms = max_query_terms
        self.min_word_len = min_word_len
        self.max_word_len = max_word_len
        self.boost = boost
        self.boost_factor = boost_factor

    def interesting_terms(self, text: str) -> list[tuple[str, float, int, int]]:
        """(word, score, tf, docFreq) of the selected terms, score-ordered —
        the inspectable half (MoreLikeThis.retrieveInterestingTerms)."""
        s = self.searcher
        tf_map: dict[str, int] = {}
        for tok in s._analyzer(text):
            w = tok.term
            if self.min_word_len > 0 and len(w) < self.min_word_len:
                continue
            if self.max_word_len > 0 and len(w) > self.max_word_len:
                continue
            tf_map[w] = tf_map.get(w, 0) + 1
        cands = [
            w for w, tf in tf_map.items()
            if not (self.min_term_freq > 0 and tf < self.min_term_freq)
        ]
        if not cands:
            return []
        ns = ""
        if s.fields:
            from ..index.builder import field_term

            ns = field_term(s.default_field, "")
        stats = s._term_stats([ns + w for w in cands])
        n_docs = int(s.reader.global_stats[0])
        out = []
        for w in cands:
            df = stats[ns + w][0]
            if self.min_doc_freq > 0 and df < self.min_doc_freq:
                continue
            if df > self.max_doc_freq or df == 0:
                continue
            idf = math.log((n_docs + 1) / float(df + 1)) + 1.0
            out.append((w, tf_map[w] * idf, tf_map[w], df))
        out.sort(key=lambda x: (-x[1], x[0]))
        return out[: self.max_query_terms]

    def like_text(self, text: str):
        """The MLT query AST for ``text`` (MoreLikeThis.like analog)."""
        terms = self.interesting_terms(text)
        if not terms:
            return MatchNoDocsQuery()
        ns = ""
        s = self.searcher
        if s.fields:
            from ..index.builder import field_term

            ns = field_term(s.default_field, "")
        if self.boost:
            best = terms[0][1]
            clauses = tuple(
                TermQuery(ns + w, boost=self.boost_factor * sc / best)
                for w, sc, _tf, _df in terms
            )
        else:
            clauses = tuple(TermQuery(ns + w) for w, _sc, _tf, _df in terms)
        return BooleanQuery(should=clauses)

    def search(self, text: str, k: int = 10, **kw):
        """Top-k similar docs to ``text`` through the distributed engine."""
        return self.searcher.search(self.like_text(text), k=k, **kw)
