"""The CLASSIC token-stream highlighter — Highlighter + QueryTermScorer +
SimpleFragmenter + SimpleHTMLFormatter.

Behavioral reference: highlighter/src/java/org/apache/lucene/search/
highlight/Highlighter.java (getBestTextFragments main loop + FragmentQueue
+ mergeContiguousFragments), SimpleFragmenter.java:52-60 (isNewFragment:
endOffset >= fragmentSize · currentNumFrags), QueryTermScorer.java
(getTokenScore: fragment score = Σ weights of DISTINCT query terms seen in
the fragment), TextFragment.java (merge: concatenate, score = max;
follows: buffer adjacency), SimpleHTMLFormatter (<B>…</B>),
QueryTermExtractor.getIdfWeightedTerms (weight ·= ln(maxDoc/(df+1)) + 1,
the ClassicSimilarity idf).

This is the third highlighter family in the repo, complementing the
UnifiedHighlighter analog (highlight.py — passage/BM25 scored, sentence
breaks) and the FastVectorHighlighter (fvh.py — stored term vectors): the
classic one re-analyzes the text and cuts FIXED-SIZE fragments, which is
what users reach for when they want deterministic snippet widths.

Spark shape: highlighting is embarrassingly parallel — one Arrow-batched
``mapInPandas`` over (id, text) with the (small) term-weight dict in the
task closure; no shuffle, no driver state. The python fragment loop runs
per document over an already-k-limited hit set, never over the corpus.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "get_best_fragments",
    "highlight_docs_classic",
    "idf_weighted_terms",
]

_TOKEN_RE = re.compile(r"[a-z0-9]+")


def get_best_fragments(
    text: str,
    weights: dict[str, float],
    fragment_size: int = 100,
    max_fragments: int = 3,
    pre: str = "<B>",
    post: str = "</B>",
    merge_contiguous: bool = True,
) -> list[tuple[str, float, int]]:
    """(marked_up_fragment, score, frag_num) list, best first — the
    getBestFragments contract (Highlighter.java, which passes
    mergeContiguousFragments=true). Tokenization mirrors the 'simple'
    analyzer (lowercase alnum runs) with char offsets.

    Loop order mirrors getBestTextFragments: the fragment-boundary test
    uses the ARRIVING token's endOffset (the fragmenter reads the stream's
    current OffsetAttribute at group-flush time), the inter-token gap text
    travels with the arriving token into the NEW fragment, trailing text
    joins the last fragment, and a fragment's score counts each distinct
    query term once (QueryTermScorer.getTokenScore)."""
    frags: list[tuple[list[str], float, int]] = []
    parts: list[str] = []
    score = 0.0
    seen: set[str] = set()
    frag_counter = 1  # SimpleFragmenter.currentNumFrags
    frag_num = 0
    last_end = 0
    lowered = text.lower()
    for i, m in enumerate(_TOKEN_RE.finditer(lowered)):
        so, eo = m.start(), m.end()
        if i > 0 and eo >= fragment_size * frag_counter:
            frag_counter += 1
            frags.append((parts, score, frag_num))
            parts, score, seen = [], 0.0, set()
            frag_num += 1
        parts.append(text[last_end:so])
        term = m.group(0)
        w = weights.get(term, 0.0)
        tok = text[so:eo]
        if w > 0:
            parts.append(pre + tok + post)
            if term not in seen:
                score += w
                seen.add(term)
        else:
            parts.append(tok)
        last_end = eo
    parts.append(text[last_end:])
    frags.append((parts, score, frag_num))
    # FragmentQueue order: score DESC, then fragNum ASC; keep top-N
    top = sorted(frags, key=lambda f: (-f[1], f[2]))[:max_fragments]
    # [text, score, start_num, end_num] — merged spans keep both ends so
    # buffer adjacency (TextFragment.follows, position-based) still holds
    out: list[list | None] = [["".join(p), s, n, n] for p, s, n in top]
    if merge_contiguous and len(out) > 1:
        # TextFragment.merge: adjacent-in-buffer fragments concatenate,
        # score = max, the better-scoring slot keeps the result
        merged = True
        while merged:
            merged = False
            for a in range(len(out)):
                for b in range(len(out)):
                    fa, fb = out[a], out[b]
                    if a == b or fa is None or fb is None:
                        continue
                    if fb[2] == fa[3] + 1:  # fb follows fa
                        # ties keep frag2's slot (Highlighter.java:486-491)
                        keep, drop = (a, b) if fa[1] > fb[1] else (b, a)
                        out[keep] = [
                            fa[0] + fb[0], max(fa[1], fb[1]), fa[2], fb[3]
                        ]
                        out[drop] = None
                        merged = True
        out = [f for f in out if f is not None]
    return [(t, s, n) for t, s, n, _ in out if s > 0]


def idf_weighted_terms(searcher, terms: list[str]) -> dict[str, float]:
    """QueryTermExtractor.getIdfWeightedTerms: weight = ln(maxDoc/(df+1))
    + 1 per term (the ClassicSimilarity idf), over the searcher's global
    stats."""
    import numpy as np

    from ..index.builder import FIELD_SEP

    ns = searcher.default_field + FIELD_SEP if searcher.fields else ""
    stats = searcher._term_stats([ns + t for t in terms])
    max_doc = max(int(searcher.reader.global_stats[0]), 1)
    return {
        t: float(np.log(max_doc / (stats[ns + t][0] + 1.0)) + 1.0)
        for t in terms
    }


def highlight_docs_classic(
    docs: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    text_col: str = "text",
    fragment_size: int = 100,
    max_fragments: int = 3,
    merge_contiguous: bool = True,
) -> DataFrame:
    """Distributed getBestFragments: one row per surviving fragment
    (id, frag_num, score, snippet), docs with no scoring fragment emit
    nothing (the reference returns an empty array). Map-only."""
    w = dict(weights)
    fs, mf, mc = int(fragment_size), int(max_fragments), bool(merge_contiguous)
    out_schema = f"{id_col} long, frag_num int, score double, snippet string"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                for snip, sc, fn in get_best_fragments(
                    t or "", w, fragment_size=fs, max_fragments=mf,
                    merge_contiguous=mc,
                ):
                    rows.append((int(i), int(fn), float(sc), snip))
            yield pd.DataFrame(
                rows, columns=[id_col, "frag_num", "score", "snippet"]
            )

    return docs.select(id_col, text_col).mapInPandas(run, out_schema)
