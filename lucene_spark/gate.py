"""Correctness-gate queries: engine results vs an external ANSI-SQL oracle.

Every entry returns a (spark_fn, oracle_sql) pair over the driver's testdata
tables. The BM25 family runs through the full engine (index build → term
dict → postings blocks → distributed scoring) in ``double`` scoring mode —
float64 BM25 over the same SmallFloat-quantized lengths, with expression
trees written to be bit-identical between numpy and DuckDB (both IEEE-754
round-to-nearest; see scorers.QuantizedDoubleBm25). Float32 Lucene-parity is
gated separately by the pure-python oracle in tests/.

The simple analyzer is used so the token stream is reproducible in SQL:
``regexp_split_to_array(lower(text), '[^a-z0-9]+')`` (analysis/simple.py).

Ordering discipline: every top-k cuts on the UNROUNDED double score with
tie-break (score DESC, doc_id ASC) on both sides, then rounds for output —
so the selected set is identical; the order-insensitive value-hash does the
rest.
"""

from __future__ import annotations

import os

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.smallfloat import BYTE4_DECODE_TABLE
from .index import build_index
from .search import Searcher

__all__ = ["gate_queries", "gate_oracle_sql", "entry_query"]

K1, B = "1.2", "0.75"
_FORMAT_V = "v5"  # bump when the index layout changes to invalidate caches
# v3: multi-field postings, feature fields, level-1 rollup rows (round 2)
# v5: level-1 rollup rows removed (older caches would read them as blocks)
_GATE_ROOT = os.environ.get("LUCENE_SPARK_GATE_DIR", "/tmp/lucene_spark_gate")

# ---------------------------------------------------------------------------
# shared SQL fragments
# ---------------------------------------------------------------------------

_NORM_VALS = ",".join(str(int(v)) for v in BYTE4_DECODE_TABLE)

_BASE_CTES = f"""
toks0 AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term,
         generate_subscripts(regexp_split_to_array(lower(text), '[^a-z0-9]+'), 1) AS ord
  FROM documents
),
toks AS (
  SELECT doc_id, term,
         row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1 AS pos
  FROM toks0 WHERE term <> ''
),
dl AS (
  SELECT d.doc_id, count(t.term)::BIGINT AS dl
  FROM documents d LEFT JOIN toks t USING (doc_id) GROUP BY d.doc_id
),
norm_tbl AS (SELECT unnest([{_NORM_VALS}]) AS v),
qdl AS (
  SELECT doc_id, dl,
         (SELECT max(v) FROM norm_tbl WHERE v <= dl.dl) AS qdl
  FROM dl
),
stats AS (
  SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs,
         (SELECT coalesce(sum(dl), 0) FROM dl)::BIGINT AS sum_ttf,
         (SELECT coalesce(sum(dl), 0) FROM dl)::DOUBLE
           / (SELECT count(*) FROM documents) AS avgdl
),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS freq FROM toks GROUP BY doc_id, term),
dft AS (SELECT term, count(*)::BIGINT AS df, sum(freq)::BIGINT AS ttf FROM tf GROUP BY term)
"""


def _idf(df_expr: str) -> str:
    # ln(1 + (N - df + 0.5)/(df + 0.5)) — BM25Similarity.java:102, in double
    return (
        f"ln(1.0 + ((s.n_docs - {df_expr})::DOUBLE + 0.5) / ({df_expr}::DOUBLE + 0.5))"
    )


def _tf_part(freq_expr: str, qdl_expr: str) -> str:
    # 1 + freq * (1 / (k1 * ((1-b) + b*qdl/avgdl))) — mirrors
    # QuantizedDoubleBm25.cache expression order exactly
    return (
        f"(1.0 + {freq_expr}::DOUBLE * (1.0 / ({K1} * ((1.0 - {B}) + "
        f"({B} * {qdl_expr}::DOUBLE) / s.avgdl))))"
    )


def _term_scores_cte(name: str, term: str) -> str:
    """Per-doc score CTE for one term: w - w/tf_part."""
    idf = _idf("d.df")
    return f"""
{name} AS (
  SELECT tf.doc_id,
         ({idf} - {idf} / {_tf_part("tf.freq", "qdl.qdl")}) AS score
  FROM tf
  JOIN qdl USING (doc_id),
       stats s,
       (SELECT df FROM dft WHERE term = '{term}') d
  WHERE tf.term = '{term}'
)"""


def _topk_wrap(inner: str, k: int, raw: bool = False) -> str:
    """Cut on the unrounded score, then round for output (``raw=True``
    keeps the unrounded score — for composition into rescoring)."""
    sel = "doc_id, score" if raw else "doc_id, round(score, 4) AS score"
    return f"""
SELECT {sel} FROM (
  SELECT * FROM ({inner}) ORDER BY score DESC, doc_id ASC LIMIT {k}
)"""


def _sum_chain(aliases: list[str]) -> str:
    """Deterministic left-assoc sum in clause order: ((0+a)+b)+..., exactly
    the engine's np.add.at accumulation order."""
    expr = "0.0"
    for a in aliases:
        expr = f"({expr} + coalesce({a}.score, 0.0))"
    return expr


# ---------------------------------------------------------------------------
# index cache (engine side)
# ---------------------------------------------------------------------------

def _ensure_index(spark: SparkSession, sf_dir: str) -> str:
    name = sf_dir.strip("/").replace("/", "_")
    idx = f"{_GATE_ROOT}/{_FORMAT_V}/{name}"
    probe = os.path.join(idx, "segment_manifest")
    if not os.path.exists(probe):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            F.format_string("doc://%012d", F.col("doc_id")).alias("url"), "text"
        )
        # one segment: global docid order == doc_id order, so the engine's
        # docid tie-break coincides with the oracle's doc_id tie-break
        build_index(
            spark, docs, idx, num_segments=1, analyzer="simple",
            stopwords=None, index_positions=True,
        )
    return idx


def _searcher(spark: SparkSession, sf_dir: str) -> Searcher:
    return Searcher(
        spark, _ensure_index(spark, sf_dir), analyzer="simple", mode="double"
    )


def _hits(spark, sf_dir, qs: str, k: int) -> DataFrame:
    h = _searcher(spark, sf_dir).search(qs, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.col("score"),
    )


def _docs(spark, sf_dir) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _toks(spark, sf_dir) -> DataFrame:
    """(doc_id, term, pos): the simple-analyzer token stream as a DataFrame
    (used by the text-pipeline queries; JVM-side split, no UDF, map-only —
    see pipeline.dedup.tokens)."""
    from .pipeline.dedup import tokens

    return tokens(_docs(spark, sf_dir), id_col="doc_id")


# ---------------------------------------------------------------------------
# BM25 family
# ---------------------------------------------------------------------------

def _mk_topk(qs: str, k: int = 10):
    def run(spark, sf_dir):
        return _hits(spark, sf_dir, qs, k).select(
            "doc_id", F.round("score", 4).alias("score")
        )
    return run


def _sql_single(term: str, k: int = 10) -> str:
    return f"WITH {_BASE_CTES}, {_term_scores_cte('s_a', term)} " + _topk_wrap(
        "SELECT doc_id, score FROM s_a", k
    )


def _sql_and(terms: list[str], k: int = 10) -> str:
    aliases = [f"s_{i}" for i in range(len(terms))]
    ctes = ", ".join(_term_scores_cte(a, t) for a, t in zip(aliases, terms))
    joins = aliases[0]
    for a in aliases[1:]:
        joins += f" JOIN {a} USING (doc_id)"
    inner = f"SELECT doc_id, {_sum_chain(aliases)} AS score FROM {joins}"
    return f"WITH {_BASE_CTES}, {ctes} " + _topk_wrap(inner, k)


def _sql_or(terms: list[str], k: int = 10, raw: bool = False) -> str:
    aliases = [f"s_{i}" for i in range(len(terms))]
    ctes = ", ".join(_term_scores_cte(a, t) for a, t in zip(aliases, terms))
    joins = aliases[0]
    for a in aliases[1:]:
        joins += f" FULL JOIN {a} USING (doc_id)"
    inner = f"SELECT doc_id, {_sum_chain(aliases)} AS score FROM {joins}"
    return f"WITH {_BASE_CTES}, {ctes} " + _topk_wrap(inner, k, raw=raw)


def _sql_and_not(term: str, not_term: str, k: int = 10) -> str:
    inner = f"""SELECT doc_id, score FROM s_a
  WHERE NOT EXISTS (SELECT 1 FROM tf x WHERE x.term = '{not_term}' AND x.doc_id = s_a.doc_id)"""
    return f"WITH {_BASE_CTES}, {_term_scores_cte('s_a', term)} " + _topk_wrap(inner, k)


def _sql_req_opt(must_term: str, opt_term: str, k: int = 10) -> str:
    ctes = ", ".join(
        [_term_scores_cte("s_a", must_term), _term_scores_cte("s_b", opt_term)]
    )
    # engine order: ((0 + must) + should)
    inner = f"""SELECT doc_id, ((0.0 + (0.0 + s_a.score)) + coalesce(s_b.score, 0.0)) AS score
  FROM s_a LEFT JOIN s_b USING (doc_id)"""
    return f"WITH {_BASE_CTES}, {ctes} " + _topk_wrap(inner, k)


def _sql_phrase(t0: str, t1: str, k: int = 10, raw: bool = False) -> str:
    idf_a = _idf(f"(SELECT df FROM dft WHERE term = '{t0}')")
    idf_b = _idf(f"(SELECT df FROM dft WHERE term = '{t1}')")
    return f"""WITH {_BASE_CTES},
pf AS (
  SELECT a.doc_id, count(*)::BIGINT AS freq
  FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1 AND b.term = '{t1}'
  WHERE a.term = '{t0}'
  GROUP BY a.doc_id
),
ps AS (
  SELECT pf.doc_id,
         (w.w - w.w / {_tf_part("pf.freq", "qdl.qdl")}) AS score
  FROM pf JOIN qdl USING (doc_id),
       stats s,
       (SELECT ({idf_a} + {idf_b}) AS w FROM stats s) w
)
""" + _topk_wrap("SELECT doc_id, score FROM ps", k, raw=raw)


def _sql_sloppy_phrase(t0: str, t1: str, slop: int, k: int = 10) -> str:
    """Exact 2-term sloppy-phrase oracle. The engine's advance-min sweep
    (segment._sloppy_phrase_match) visits pair-state (a, b) — a = pos(t0),
    b = pos(t1)-1 — iff prev_a ≤ b AND prev_b < a (prev = previous adjusted
    position of the same term in the doc; the asymmetry encodes the
    tie-break "advance slot 0 first" and list-exhaustion break), weighting
    each match 1/(1+|a-b|). Freq accumulates per match length, ascending,
    left-assoc double — bit-identical to the numpy side."""
    idf_a = _idf(f"(SELECT df FROM dft WHERE term = '{t0}')")
    idf_b = _idf(f"(SELECT df FROM dft WHERE term = '{t1}')")
    freq_expr = "0.0"
    for length in range(slop + 1):
        freq_expr = (
            f"({freq_expr} + count(*) FILTER (WHERE len = {length})"
            f" * (1.0/{length + 1}))"
        )
    return f"""WITH {_BASE_CTES},
pa AS (
  SELECT doc_id, pos AS a,
         lag(pos, 1, -1073741824) OVER (PARTITION BY doc_id ORDER BY pos) AS prev_a
  FROM toks WHERE term = '{t0}'
),
pb AS (
  SELECT doc_id, pos - 1 AS b,
         lag(pos - 1, 1, -1073741824) OVER (PARTITION BY doc_id ORDER BY pos) AS prev_b
  FROM toks WHERE term = '{t1}'
),
states AS (
  SELECT pa.doc_id, abs(pa.a - pb.b) AS len
  FROM pa JOIN pb USING (doc_id)
  WHERE pa.prev_a <= pb.b AND pb.prev_b < pa.a AND abs(pa.a - pb.b) <= {slop}
),
pf AS (SELECT doc_id, {freq_expr} AS freq FROM states GROUP BY doc_id),
ps AS (
  SELECT pf.doc_id, (w.w - w.w / {_tf_part("pf.freq", "qdl.qdl")}) AS score
  FROM pf JOIN qdl USING (doc_id),
       stats s,
       (SELECT ({idf_a} + {idf_b}) AS w FROM stats s) w
  WHERE pf.freq > 0
)
""" + _topk_wrap("SELECT doc_id, score FROM ps", k)


# ---------------------------------------------------------------------------
# span family (queries/spans): SpanScorer freq = Σ 1/(1+width) accumulated
# per distinct width ascending; weight = idf summed over sorted DISTINCT
# terms (SpanWeight.buildSimWeight's one-TermStates-per-term Map)
# ---------------------------------------------------------------------------


def _span_freq_expr(widths) -> str:
    expr = "0.0"
    for w in widths:
        expr = (
            f"({expr} + count(*) FILTER (WHERE w = {w}) * (1.0/{w + 1}))"
        )
    return expr


def _sql_span_weight(terms_sorted: list[str]) -> str:
    """Summed idf, left-assoc in sorted term order (the engine's
    make_phrase_scorer list order for span leaves)."""
    expr = None
    for t in terms_sorted:
        idf = _idf(f"(SELECT df FROM dft WHERE term = '{t}')")
        expr = idf if expr is None else f"({expr} + {idf})"
    return expr


def _sql_span_score(iv_cte: str, widths, terms: list[str], k: int = 10) -> str:
    """Top-k BM25 over span matches: ``iv_cte`` must define iv(doc_id, w)
    — one row per enumerated span with its width."""
    return f"""WITH {_BASE_CTES},
{iv_cte},
pf AS (SELECT doc_id, {_span_freq_expr(widths)} AS freq FROM iv GROUP BY doc_id),
ps AS (
  SELECT pf.doc_id, (w.w - w.w / {_tf_part("pf.freq", "qdl.qdl")}) AS score
  FROM pf JOIN qdl USING (doc_id),
       stats s,
       (SELECT {_sql_span_weight(sorted(terms))} AS w FROM stats s) w
  WHERE pf.freq > 0
)
""" + _topk_wrap("SELECT doc_id, score FROM ps", k)


def _sql_span_ordered_cte(t0: str, t1: str, slop: int, name: str = "iv") -> str:
    """Spans of NearSpansOrdered over two term clauses: one candidate per
    t0 occurrence, partner = first t1 position strictly after it, width =
    the gap, kept when width <= slop. Emits ``name(doc_id, spn_s, spn_e,
    w)``."""
    return f"""
pa AS (SELECT doc_id, pos FROM toks WHERE term = '{t0}'),
pb AS (SELECT doc_id, pos FROM toks WHERE term = '{t1}'),
sp AS (
  SELECT pa.doc_id, pa.pos AS spos, min(pb.pos) AS y
  FROM pa JOIN pb ON pb.doc_id = pa.doc_id AND pb.pos > pa.pos
  GROUP BY pa.doc_id, pa.pos
),
{name} AS (
  SELECT doc_id, spos AS spn_s, y + 1 AS spn_e, y - spos - 1 AS w
  FROM sp WHERE y - spos - 1 <= {slop}
)"""


def _ast_span_near_ordered():
    from .search.spans import SpanNear, SpanTerm

    return SpanNear((SpanTerm("data"), SpanTerm("stream")), slop=3)


def _sql_span_near_ordered(k: int = 10) -> str:
    return _sql_span_score(
        _sql_span_ordered_cte("data", "stream", 3),
        range(0, 4),
        ["data", "stream"],
        k,
    )


def _ast_span_near_unordered():
    from .search.spans import SpanNear, SpanTerm

    return SpanNear(
        (SpanTerm("data"), SpanTerm("stream")), slop=3, in_order=False
    )


def _sql_span_near_unordered(slop: int = 3, k: int = 10) -> str:
    """NearSpansUnordered's advance-min sweep for two term clauses: the
    sweep consumes occurrences in position order, so every occurrence x
    with a next OTHER-clause occurrence y > x is checked exactly once as
    the window minimum; maxEnd = y+1, totalSpanLength = 2, so width =
    y + 1 - x and a state matches iff width - 2 <= slop."""
    cte = f"""
pa AS (SELECT doc_id, pos FROM toks WHERE term = 'data'),
pb AS (SELECT doc_id, pos FROM toks WHERE term = 'stream'),
iv AS (
  SELECT doc_id, w FROM (
    SELECT pa.doc_id, min(pb.pos) + 1 - pa.pos AS w
    FROM pa JOIN pb ON pb.doc_id = pa.doc_id AND pb.pos > pa.pos
    GROUP BY pa.doc_id, pa.pos
    UNION ALL
    SELECT pb.doc_id, min(pa.pos) + 1 - pb.pos AS w
    FROM pb JOIN pa ON pa.doc_id = pb.doc_id AND pa.pos > pb.pos
    GROUP BY pb.doc_id, pb.pos
  ) WHERE w - 2 <= {slop}
)"""
    return _sql_span_score(cte, range(2, slop + 3), ["data", "stream"], k)


def _ast_span_or_near():
    from .search.spans import SpanNear, SpanOr, SpanTerm

    return SpanNear(
        (SpanOr((SpanTerm("slow"), SpanTerm("fast"))), SpanTerm("merge")),
        slop=2,
    )


def _sql_span_or_near(k: int = 10) -> str:
    cte = """
pa AS (SELECT doc_id, pos FROM toks WHERE term IN ('slow', 'fast')),
pb AS (SELECT doc_id, pos FROM toks WHERE term = 'merge'),
sp AS (
  SELECT pa.doc_id, pa.pos AS spos, min(pb.pos) AS y
  FROM pa JOIN pb ON pb.doc_id = pa.doc_id AND pb.pos > pa.pos
  GROUP BY pa.doc_id, pa.pos
),
iv AS (SELECT doc_id, y - spos - 1 AS w FROM sp WHERE y - spos - 1 <= 2)"""
    return _sql_span_score(cte, range(0, 3), ["slow", "fast", "merge"], k)


def _ast_span_not():
    from .search.spans import SpanNear, SpanNot, SpanTerm

    return SpanNot(
        SpanNear((SpanTerm("data"), SpanTerm("stream")), slop=4),
        SpanTerm("window"),
        pre=1,
        post=1,
    )


def _sql_span_not(k: int = 10) -> str:
    """SpanNot over a term exclude (ends monotone, so the accept loop
    equals "no exclude span overlaps [start-pre, end+post)"): drop spans
    with a 'window' position p satisfying p >= s - 1 and p < e + 1."""
    cte = (
        _sql_span_ordered_cte("data", "stream", 4, name="ivb")
        + """,
pc AS (SELECT doc_id, pos FROM toks WHERE term = 'window'),
iv AS (
  SELECT doc_id, w FROM ivb
  WHERE NOT EXISTS (
    SELECT 1 FROM pc
    WHERE pc.doc_id = ivb.doc_id
      AND pc.pos >= ivb.spn_s - 1 AND pc.pos < ivb.spn_e + 1
  )
)"""
    )
    return _sql_span_score(cte, range(0, 5), ["data", "stream"], k)


def _ast_span_first():
    from .search.spans import SpanFirst, SpanNear, SpanTerm

    return SpanFirst(
        SpanNear((SpanTerm("data"), SpanTerm("stream")), slop=5), 12
    )


def _sql_span_first(k: int = 10) -> str:
    cte = (
        _sql_span_ordered_cte("data", "stream", 5, name="ivb")
        + """,
iv AS (SELECT doc_id, w FROM ivb WHERE spn_e <= 12)"""
    )
    return _sql_span_score(cte, range(0, 6), ["data", "stream"], k)


def _ast_span_containing():
    from .search.spans import SpanContaining, SpanNear, SpanTerm

    return SpanContaining(
        SpanNear((SpanTerm("data"), SpanTerm("stream")), slop=6),
        SpanTerm("window"),
    )


def _sql_span_contain(within: bool, k: int = 10) -> str:
    """Containing: big (data,stream) ordered spans holding a 'window'
    position (term little: the first little with start >= big.start fits
    iff ANY position lies in [s, e-1]); emits the big span. Within: emits
    each 'window' position inside some big span (width 0)."""
    base = _sql_span_ordered_cte("data", "stream", 6, name="ivb")
    if not within:
        cte = (
            base
            + """,
pc AS (SELECT doc_id, pos FROM toks WHERE term = 'window'),
iv AS (
  SELECT doc_id, w FROM ivb
  WHERE EXISTS (
    SELECT 1 FROM pc
    WHERE pc.doc_id = ivb.doc_id
      AND pc.pos >= ivb.spn_s AND pc.pos < ivb.spn_e
  )
)"""
        )
        return _sql_span_score(
            cte, range(0, 7), ["data", "stream", "window"], k
        )
    cte = (
        base
        + """,
pc AS (SELECT doc_id, pos FROM toks WHERE term = 'window'),
iv AS (
  SELECT pc.doc_id, 0 AS w FROM pc
  WHERE EXISTS (
    SELECT 1 FROM ivb
    WHERE ivb.doc_id = pc.doc_id
      AND ivb.spn_s <= pc.pos AND ivb.spn_e >= pc.pos + 1
  )
)"""
    )
    return _sql_span_score(cte, [0], ["data", "stream", "window"], k)


def _ast_span_within():
    from .search.spans import SpanNear, SpanTerm, SpanWithin

    return SpanWithin(
        SpanNear((SpanTerm("data"), SpanTerm("stream")), slop=6),
        SpanTerm("window"),
    )


_XML_QUERY = """
<SpanNear slop="3" inOrder="true">
  <SpanTerm>data</SpanTerm>
  <SpanTerm>stream</SpanTerm>
</SpanNear>"""


def _q_xml_parser(spark, sf_dir, k: int = 10):
    """CoreParser XML query surface: the parsed tree must evaluate
    identically to the equivalent hand-built span AST (same oracle as
    span_near_ordered)."""
    from .search.xmlparser import parse_xml_query

    return _hits_ast(spark, sf_dir, parse_xml_query(_XML_QUERY), k).select(
        "doc_id", F.round("score", 4).alias("score")
    )


def _mk_q_surround(text: str, k: int = 10):
    """Surround-language queries (search/surround.py): parse, then run
    through the span/boolean engine path."""

    def run(spark, sf_dir):
        s = _searcher(spark, sf_dir)
        return _hits_ast(spark, sf_dir, s.surround_query(text), k).select(
            "doc_id", F.round("score", 4).alias("score")
        )

    return run


def _sql_surround_bool_or_span(k: int = 10) -> str:
    """Oracle for ``data AND (stream OR window)``: the OR of two terms in
    surround stays distance-compatible (a SpanOr leaf), so its score is
    span scoring — idf(stream)+idf(window) over the SUMMED occurrence
    freq (every term-span has width 0) — summed with the plain 'data'
    term score over docs matching both sides."""
    idf_d = _idf("(SELECT df FROM dft WHERE term = 'data')")
    return f"""WITH {_BASE_CTES},
so AS (
  SELECT tf.doc_id, sum(tf.freq) AS freq
  FROM tf WHERE tf.term IN ('stream', 'window') GROUP BY tf.doc_id
),
sos AS (
  SELECT so.doc_id,
         (w.w - w.w / {_tf_part("so.freq", "qdl.qdl")}) AS score
  FROM so JOIN qdl USING (doc_id), stats s,
       (SELECT {_sql_span_weight(["stream", "window"])} AS w FROM stats s) w
),
sd AS (
  SELECT tf.doc_id,
         ({idf_d} - {idf_d} / {_tf_part("tf.freq", "qdl.qdl")}) AS score
  FROM tf JOIN qdl USING (doc_id), stats s
  WHERE tf.term = 'data'
),
u AS (
  SELECT sd.doc_id, (sd.score + sos.score) AS score
  FROM sd JOIN sos USING (doc_id)
)
""" + _topk_wrap("SELECT doc_id, score FROM u", k)


def _ast_term_automaton():
    """Automaton accepting 'data stream' OR 'stream data' (adjacent, either
    order) — two accepted paths through shared states, the TermAutomatonQuery
    shape MultiPhraseQuery can't express."""
    from .search.query import TermAutomatonBuilder

    b = TermAutomatonBuilder()
    mid_a, mid_b, end = b.create_state(), b.create_state(), b.create_state()
    b.add_transition(0, mid_a, "data")
    b.add_transition(mid_a, end, "stream")
    b.add_transition(0, mid_b, "stream")
    b.add_transition(mid_b, end, "data")
    b.set_accept(end)
    return b.finish()


def _q_term_automaton(spark, sf_dir, k: int = 10):
    s = _searcher(spark, sf_dir)
    h = s.search(_ast_term_automaton(), k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _sql_term_automaton(t0: str = "data", t1: str = "stream", k: int = 10) -> str:
    """Spans = UNION (dedup) of both adjacency orders; freq = distinct
    (start, len) spans per doc; weight = idf(t0)+idf(t1) (distinct terms,
    path order)."""
    idf_a = _idf(f"(SELECT df FROM dft WHERE term = '{t0}')")
    idf_b = _idf(f"(SELECT df FROM dft WHERE term = '{t1}')")
    return f"""WITH {_BASE_CTES},
spans AS (
  SELECT a.doc_id, a.pos AS start, 2 AS len
  FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1 AND b.term = '{t1}'
  WHERE a.term = '{t0}'
  UNION
  SELECT a.doc_id, a.pos AS start, 2 AS len
  FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1 AND b.term = '{t0}'
  WHERE a.term = '{t1}'
),
pf AS (SELECT doc_id, count(*)::BIGINT AS freq FROM spans GROUP BY doc_id),
ps AS (
  SELECT pf.doc_id,
         (w.w - w.w / {_tf_part("pf.freq", "qdl.qdl")}) AS score
  FROM pf JOIN qdl USING (doc_id),
       stats s,
       (SELECT ({idf_a} + {idf_b}) AS w FROM stats s) w
)
""" + _topk_wrap("SELECT doc_id, score FROM ps", k)


def _q_synonym_graph(spark, sf_dir, k: int = 10):
    """Query-time multi-word synonym: "hash join" ≡ "merge" — the rule's
    two sides consume DIFFERENT position counts, so the match runs through
    TermAutomatonQuery's path automaton (SynonymGraphFilter.java:41 →
    QueryBuilder graph path). Oracle: spans = 2-adjacency (hash→join)
    UNION single-term merge positions; freq = distinct (start, len) spans;
    weight = idf(hash)+idf(join)+idf(merge) in path order."""
    s = _searcher(spark, sf_dir)
    q = s.synonym_graph_query("hash join", {"hash join": "merge"})
    h = s.search(q, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _sql_synonym_graph(k: int = 10) -> str:
    idf_h = _idf("(SELECT df FROM dft WHERE term = 'hash')")
    idf_j = _idf("(SELECT df FROM dft WHERE term = 'join')")
    idf_m = _idf("(SELECT df FROM dft WHERE term = 'merge')")
    return f"""WITH {_BASE_CTES},
spans AS (
  SELECT a.doc_id, a.pos AS start, 2 AS len
  FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1 AND b.term = 'join'
  WHERE a.term = 'hash'
  UNION
  SELECT doc_id, pos AS start, 1 AS len FROM toks WHERE term = 'merge'
),
pf AS (SELECT doc_id, count(*)::BIGINT AS freq FROM spans GROUP BY doc_id),
ps AS (
  SELECT pf.doc_id,
         (w.w - w.w / {_tf_part("pf.freq", "qdl.qdl")}) AS score
  FROM pf JOIN qdl USING (doc_id),
       stats s,
       (SELECT (({idf_h} + {idf_j}) + {idf_m}) AS w FROM stats s) w
)
""" + _topk_wrap("SELECT doc_id, score FROM ps", k)


def _ast_interval_ordered():
    from .search.query import IntervalNear

    return IntervalNear(("data", "stream"), ordered=True, max_gaps=3)


def _ast_interval_unordered():
    from .search.query import IntervalNear

    return IntervalNear(("stream", "window"), ordered=False, max_gaps=4)


def _ast_interval_at_least():
    from .search.query import ConstantScoreQuery, IntervalAtLeast

    # Intervals.atLeast(2, data, stream, window) in a constant-score
    # (filter) context: a doc matches iff the reference's two-queue
    # iterator emits >= 1 interval, which (with no width cap) happens iff
    # >= min_match sources have occurrences — the first nextInterval()
    # after reset() always emits once the proximity queue fills
    # (MinimumShouldMatchIntervalsSource.java:273-292). That equivalence
    # makes the match set exactly SQL-expressible; the SCORED emission
    # stream (non-minimal intervals included) is gated bit-exactly against
    # the reference's own TestIntervals expectations in
    # tests/test_interval_atleast.py instead.
    return ConstantScoreQuery(
        query=IntervalAtLeast(("data", "stream", "window"), min_match=2),
        boost=1.5,
    )


def _sql_interval_at_least(terms: list[str], m: int, boost: float, k: int) -> str:
    tlist = ", ".join(f"'{t}'" for t in terms)
    inner = (
        f"SELECT doc_id, {boost}::DOUBLE AS score FROM documents d "
        f"WHERE (SELECT count(DISTINCT term) FROM tf "
        f"WHERE tf.doc_id = d.doc_id AND term IN ({tlist})) >= {m}"
    )
    return f"WITH {_BASE_CTES} " + _topk_wrap(inner, k)


def _ast_interval_no_overlaps():
    from .search.query import IntervalPhrase, unordered_no_overlaps

    # Intervals.unorderedNoOverlaps(phrase(data stream), data) ==
    # or(ordered(phrase, data), ordered(data, phrase)) (Intervals.java:
    # 446-448): the phrase arm makes the no-overlap contract non-trivial
    # (the bare term can sit INSIDE a phrase occurrence; strict ordering
    # excludes exactly those). max_gaps=4 bounds each arm like the other
    # interval rows.
    from .search.query import IntervalNear, IntervalOr

    ph = IntervalPhrase(("data", "stream"))
    return IntervalOr(
        (
            IntervalNear((ph, "data"), max_gaps=4),
            IntervalNear(("data", ph), max_gaps=4),
        )
    )


def _sql_interval_no_overlaps(max_gaps: int = 4, k: int = 10) -> str:
    """Union of the two strict-ordered arms' minimal enumerations (their
    ends live at different term positions, so the shared max-start-per-
    (doc,end) pass is per-arm minimality), then an explicit cross-arm
    containment antichain; minExtent = min(3, 3) = 3, per-interval weight
    1/(w-2), freq per ascending width left-assoc — the engine's
    IntervalOr convention."""
    freq_expr = "0.0"
    for w in range(3, max_gaps + 4):
        freq_expr = (
            f"({freq_expr} + count(*) FILTER (WHERE w = {w})"
            f" * (1.0/{w - 2}))"
        )
    return f"""WITH {_BASE_CTES},
ph AS (
  SELECT t1.doc_id, t1.pos AS s, t1.pos + 1 AS e
  FROM toks t1 JOIN toks t2
    ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
  WHERE t1.term = 'data' AND t2.term = 'stream'
),
da AS (SELECT doc_id, pos FROM toks WHERE term = 'data'),
arm1 AS (
  SELECT ph.doc_id, ph.s, min(da.pos) AS e
  FROM ph JOIN da ON ph.doc_id = da.doc_id AND da.pos > ph.e
  GROUP BY ph.doc_id, ph.s
),
arm2 AS (
  SELECT da.doc_id, da.pos AS s, min(ph.s) + 1 AS e
  FROM da JOIN ph ON da.doc_id = ph.doc_id AND ph.s > da.pos
  GROUP BY da.doc_id, da.pos
),
cand AS (SELECT * FROM arm1 UNION SELECT * FROM arm2),
mini AS (SELECT doc_id, max(s) AS s, e FROM cand GROUP BY doc_id, e),
antich AS (
  SELECT m.doc_id, m.s, m.e FROM mini m
  WHERE NOT EXISTS (
    SELECT 1 FROM mini m2
    WHERE m2.doc_id = m.doc_id AND m2.s >= m.s AND m2.e <= m.e
      AND (m2.s <> m.s OR m2.e <> m.e)
  )
),
iv AS (
  SELECT doc_id, e - s + 1 AS w FROM antich WHERE e - s + 1 - 3 <= {max_gaps}
),
pf AS (SELECT doc_id, {freq_expr} AS freq FROM iv GROUP BY doc_id),
ps AS (
  SELECT doc_id, (1.0 - 1.0 / (1.0 + freq)) AS score FROM pf WHERE freq > 0
)
""" + _topk_wrap("SELECT doc_id, score FROM ps", k)


def _ast_interval_defined_gaps():
    from .search.query import IntervalExtend, IntervalNear, IntervalPhrase

    # Intervals.phrase(data, extend(stream, 1, 0)) — the reference's
    # defined-gap phrase (Intervals.java:412 + TestIntervals
    # testDefinedGaps shape): Block chaining over the EXTENDED boundary
    # puts stream exactly TWO positions after data; every interval has
    # width 3 = minExtent, so each contributes sloppy weight 1.
    return IntervalNear(
        (IntervalPhrase(("data", IntervalExtend("stream", 1, 0))),)
    )


def _sql_interval_defined_gaps(k: int = 10) -> str:
    return f"""WITH {_BASE_CTES},
iv AS (
  SELECT a.doc_id, count(*)::BIGINT AS freq
  FROM toks a JOIN toks b
    ON a.doc_id = b.doc_id AND b.pos = a.pos + 2
  WHERE a.term = 'data' AND b.term = 'stream'
  GROUP BY a.doc_id
),
ps AS (
  SELECT doc_id, (1.0 - 1.0 / (1.0 + freq)) AS score FROM iv
)
""" + _topk_wrap("SELECT doc_id, score FROM ps", k)


def _ast_interval_or():
    from .search.query import IntervalNear

    # slot 2 is Intervals.or(stream, window)
    return IntervalNear(("data", ("stream", "window")), ordered=True, max_gaps=3)


def _ast_interval_phrase():
    from .search.query import IntervalNear, IntervalPhrase

    # slot 1 is Intervals.phrase(data, stream) — extent 2
    return IntervalNear(
        (IntervalPhrase(("data", "stream")), "window"), ordered=True, max_gaps=6
    )


def _sql_interval_phrase(max_gaps: int = 6, k: int = 10) -> str:
    """Ordered [phrase(data stream), window]: phrase occurrences are
    adjacent (t.pos, t.pos+1) spans; the second leaf must START strictly
    after the phrase END; minExtent = 3, weight 1/max(w-3+1, 1)."""
    freq_expr = "0.0"
    for w in range(3, max_gaps + 4):
        freq_expr = (
            f"({freq_expr} + count(*) FILTER (WHERE w = {w})"
            f" * (1.0/{w - 2}))"
        )
    return f"""WITH {_BASE_CTES},
pa AS (
  SELECT t1.doc_id, t1.pos AS s, t1.pos + 1 AS e
  FROM toks t1 JOIN toks t2
    ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
  WHERE t1.term = 'data' AND t2.term = 'stream'
),
pb AS (SELECT doc_id, pos FROM toks WHERE term = 'window'),
cand AS (
  SELECT pa.doc_id, pa.s, min(pb.pos) AS e
  FROM pa JOIN pb ON pa.doc_id = pb.doc_id AND pb.pos > pa.e
  GROUP BY pa.doc_id, pa.s
),
mini AS (SELECT doc_id, max(s) AS s, e FROM cand GROUP BY doc_id, e),
iv AS (
  SELECT doc_id, e - s + 1 AS w FROM mini WHERE e - s + 1 - 3 <= {max_gaps}
),
pf AS (SELECT doc_id, {freq_expr} AS freq FROM iv GROUP BY doc_id),
ps AS (
  SELECT doc_id, (1.0 - 1.0 / (1.0 + freq)) AS score FROM pf WHERE freq > 0
)
""" + _topk_wrap("SELECT doc_id, score FROM ps", k)


def _ast_interval_containing():
    from .search.query import IntervalFilter, IntervalNear

    return IntervalFilter(
        IntervalNear(("data", "stream"), ordered=False, max_gaps=6),
        IntervalNear(("window",)),
        "containing",
    )


def _sql_interval_containing(max_gaps: int = 6, k: int = 10) -> str:
    """Intervals.containing: minimal unordered (data,stream) intervals that
    hold a 'window' position inside; weight keeps the source's minExtent=2."""
    freq_expr = "0.0"
    for w in range(2, max_gaps + 3):
        freq_expr = (
            f"({freq_expr} + count(*) FILTER (WHERE w = {w})"
            f" * (1.0/{w - 1}))"
        )
    return f"""WITH {_BASE_CTES},
pa AS (SELECT doc_id, pos FROM toks WHERE term = 'data'),
pb AS (SELECT doc_id, pos FROM toks WHERE term = 'stream'),
pc AS (SELECT doc_id, pos FROM toks WHERE term = 'window'),
cand AS (
  SELECT pa.doc_id, pa.pos AS s, min(pb.pos) AS e
  FROM pa JOIN pb ON pa.doc_id = pb.doc_id AND pb.pos > pa.pos
  GROUP BY pa.doc_id, pa.pos
  UNION ALL
  SELECT pb.doc_id, pb.pos AS s, min(pa.pos) AS e
  FROM pb JOIN pa ON pa.doc_id = pb.doc_id AND pa.pos > pb.pos
  GROUP BY pb.doc_id, pb.pos
),
mini AS (SELECT doc_id, max(s) AS s, e FROM cand GROUP BY doc_id, e),
kept AS (
  SELECT m.doc_id, m.e - m.s + 1 AS w
  FROM mini m
  WHERE m.e - m.s - 1 <= {max_gaps}
    AND EXISTS (
      SELECT 1 FROM pc
      WHERE pc.doc_id = m.doc_id AND pc.pos BETWEEN m.s AND m.e
    )
),
pf AS (SELECT doc_id, {freq_expr} AS freq FROM kept GROUP BY doc_id),
ps AS (
  SELECT doc_id, (1.0 - 1.0 / (1.0 + freq)) AS score FROM pf WHERE freq > 0
)
""" + _topk_wrap("SELECT doc_id, score FROM ps", k)


def _ast_interval_not_containing():
    from .search.query import IntervalFilter, IntervalNear

    return IntervalFilter(
        IntervalNear(("data", "stream"), ordered=False, max_gaps=6),
        IntervalNear(("window",)),
        "not_containing",
    )


def _sql_interval_not_containing(max_gaps: int = 6, k: int = 10) -> str:
    """Intervals.notContaining: the complement filter — minimal unordered
    (data,stream) intervals with NO 'window' position inside (same
    candidate/minimality algebra as the containing oracle, negated
    EXISTS)."""
    freq_expr = "0.0"
    for w in range(2, max_gaps + 3):
        freq_expr = (
            f"({freq_expr} + count(*) FILTER (WHERE w = {w})"
            f" * (1.0/{w - 1}))"
        )
    return f"""WITH {_BASE_CTES},
pa AS (SELECT doc_id, pos FROM toks WHERE term = 'data'),
pb AS (SELECT doc_id, pos FROM toks WHERE term = 'stream'),
pc AS (SELECT doc_id, pos FROM toks WHERE term = 'window'),
cand AS (
  SELECT pa.doc_id, pa.pos AS s, min(pb.pos) AS e
  FROM pa JOIN pb ON pa.doc_id = pb.doc_id AND pb.pos > pa.pos
  GROUP BY pa.doc_id, pa.pos
  UNION ALL
  SELECT pb.doc_id, pb.pos AS s, min(pa.pos) AS e
  FROM pb JOIN pa ON pa.doc_id = pb.doc_id AND pa.pos > pb.pos
  GROUP BY pb.doc_id, pb.pos
),
mini AS (SELECT doc_id, max(s) AS s, e FROM cand GROUP BY doc_id, e),
kept AS (
  SELECT m.doc_id, m.e - m.s + 1 AS w
  FROM mini m
  WHERE m.e - m.s - 1 <= {max_gaps}
    AND NOT EXISTS (
      SELECT 1 FROM pc
      WHERE pc.doc_id = m.doc_id AND pc.pos BETWEEN m.s AND m.e
    )
),
pf AS (SELECT doc_id, {freq_expr} AS freq FROM kept GROUP BY doc_id),
ps AS (
  SELECT doc_id, (1.0 - 1.0 / (1.0 + freq)) AS score FROM pf WHERE freq > 0
)
""" + _topk_wrap("SELECT doc_id, score FROM ps", k)


def _ast_interval_repeat_ordered():
    from .search.query import IntervalNear

    # repeated slot -> RepeatingIntervalsSource analog (consecutive pairs)
    return IntervalNear(("data", "data"), ordered=True, max_gaps=5)


def _sql_interval_repeat_ordered(term: str = "data", max_gaps: int = 5, k: int = 10) -> str:
    """Ordered repeat (data data): consecutive occurrence pairs
    (RepeatingIntervalsSource windows). Scoring minExtent is the CHILD's
    extent counted once (Rep.minExtent) => weight 1/max(w-1+1,1) = 1/w;
    the gaps filter keeps full copy widths (w - 2 <= max_gaps)."""
    freq_expr = "0.0"
    for w in range(2, max_gaps + 3):
        freq_expr = (
            f"({freq_expr} + count(*) FILTER (WHERE w = {w}) * (1.0/{w}))"
        )
    return f"""WITH {_BASE_CTES},
pa AS (SELECT doc_id, pos FROM toks WHERE term = '{term}'),
cand AS (
  SELECT a1.doc_id, a1.pos AS s, min(a2.pos) AS e
  FROM pa a1 JOIN pa a2 ON a1.doc_id = a2.doc_id AND a2.pos > a1.pos
  GROUP BY a1.doc_id, a1.pos
),
mini AS (SELECT doc_id, max(s) AS s, e FROM cand GROUP BY doc_id, e),
iv AS (SELECT doc_id, e - s + 1 AS w FROM mini WHERE e - s - 1 <= {max_gaps}),
pf AS (SELECT doc_id, {freq_expr} AS freq FROM iv GROUP BY doc_id),
ps AS (
  SELECT doc_id, (1.0 - 1.0 / (1.0 + freq)) AS score FROM pf WHERE freq > 0
)
""" + _topk_wrap("SELECT doc_id, score FROM ps", k)


def _ast_interval_repeat_unordered():
    from .search.query import IntervalNear

    return IntervalNear(
        ("stream", "window", "stream"), ordered=False, max_gaps=6
    )


def _sql_interval_repeat_unordered(
    ta: str = "stream", tb: str = "window", max_gaps: int = 6, k: int = 10
) -> str:
    """Unordered (stream, window, stream): the repeated slot's copies take
    CONSECUTIVE own occurrences (RepeatingIntervalsSource), so for each
    candidate start s the span end = greatest(second {ta} pos >= s, first
    {tb} pos >= s). Scoring minExtent = 1 (Rep counted once) + 1 = 2 =>
    weight 1/(w-1); gaps keep full widths (w - 3 <= max_gaps)."""
    freq_expr = "0.0"
    for w in range(2, max_gaps + 4):
        freq_expr = (
            f"({freq_expr} + count(*) FILTER (WHERE w = {w}) * (1.0/{w - 1}))"
        )
    return f"""WITH {_BASE_CTES},
pa AS (SELECT doc_id, pos FROM toks WHERE term = '{ta}'),
pb AS (SELECT doc_id, pos FROM toks WHERE term = '{tb}'),
nx AS (
  SELECT x.doc_id, x.pos, min(y.pos) AS nxt
  FROM pa x JOIN pa y ON x.doc_id = y.doc_id AND y.pos > x.pos
  GROUP BY x.doc_id, x.pos
),
st AS (SELECT doc_id, pos AS s FROM pa UNION SELECT doc_id, pos FROM pb),
cexp AS (
  SELECT st.doc_id, st.s,
    (SELECT min(nx.nxt) FROM nx
     WHERE nx.doc_id = st.doc_id AND nx.pos >= st.s) AS ea,
    (SELECT min(pb.pos) FROM pb
     WHERE pb.doc_id = st.doc_id AND pb.pos >= st.s) AS eb
  FROM st
),
cand AS (
  SELECT doc_id, s, greatest(ea, eb) AS e FROM cexp
  WHERE ea IS NOT NULL AND eb IS NOT NULL
),
mini AS (SELECT doc_id, max(s) AS s, e FROM cand GROUP BY doc_id, e),
iv AS (SELECT doc_id, e - s + 1 AS w FROM mini WHERE e - s + 1 - 3 <= {max_gaps}),
pf AS (SELECT doc_id, {freq_expr} AS freq FROM iv GROUP BY doc_id),
ps AS (
  SELECT doc_id, (1.0 - 1.0 / (1.0 + freq)) AS score FROM pf WHERE freq > 0
)
""" + _topk_wrap("SELECT doc_id, score FROM ps", k)


def _sql_interval(
    t0, t1, ordered: bool, max_gaps: int,
    pivot: float = 1.0, boost: float = 1.0, k: int = 10,
) -> str:
    """Exact 2-term interval oracle (queries/intervals semantics).

    Candidates are greedy per start — ordered: for each pos of t0, the next
    t1 strictly after (OrderedIntervalsSource); unordered: for each pos of
    either term, the other's next at/after it (UnorderedIntervalsSource PQ
    states). Ends are monotone in starts, so the minimal-interval antichain
    is exactly max(start) per (doc, end). Gap filter w-2 <= max_gaps
    (gaps() = width - minExtent), per-interval weight 1/(w-1) =
    1/max(w - minExtent + 1, 1) (IntervalScorer.java:60-68), freq chained
    per ascending width left-assoc double — bit-identical to
    segment._interval_match — then the saturation score
    boost * (1 - pivot/(pivot + freq)) (IntervalScoreFunction.java:66-74)."""
    freq_expr = "0.0"
    for w in range(2, max_gaps + 3):
        freq_expr = (
            f"({freq_expr} + count(*) FILTER (WHERE w = {w})"
            f" * (1.0/{w - 1}))"
        )
    fwd = """
  SELECT pa.doc_id, pa.pos AS s, min(pb.pos) AS e
  FROM pa JOIN pb ON pa.doc_id = pb.doc_id AND pb.pos > pa.pos
  GROUP BY pa.doc_id, pa.pos"""
    if ordered:
        cand = fwd
    else:
        cand = fwd + """
  UNION ALL
  SELECT pb.doc_id, pb.pos AS s, min(pa.pos) AS e
  FROM pb JOIN pa ON pa.doc_id = pb.doc_id AND pa.pos > pb.pos
  GROUP BY pb.doc_id, pb.pos"""
    def _slot_pred(t) -> str:
        # a tuple slot is Intervals.or of its terms: positions = union
        if isinstance(t, (tuple, list)):
            return "term IN (" + ", ".join(f"'{x}'" for x in t) + ")"
        return f"term = '{t}'"

    return f"""WITH {_BASE_CTES},
pa AS (SELECT doc_id, pos FROM toks WHERE {_slot_pred(t0)}),
pb AS (SELECT doc_id, pos FROM toks WHERE {_slot_pred(t1)}),
cand AS ({cand}),
mini AS (SELECT doc_id, max(s) AS s, e FROM cand GROUP BY doc_id, e),
iv AS (SELECT doc_id, e - s + 1 AS w FROM mini WHERE e - s - 1 <= {max_gaps}),
pf AS (SELECT doc_id, {freq_expr} AS freq FROM iv GROUP BY doc_id),
ps AS (
  SELECT doc_id, ({float(boost)!r} * (1.0 - {float(pivot)!r} /
         ({float(pivot)!r} + freq))) AS score
  FROM pf WHERE freq > 0
)
""" + _topk_wrap("SELECT doc_id, score FROM ps", k)


def _ast_interval_relation(kind: str):
    from .search.query import IntervalFilter, IntervalNear

    ref = (
        IntervalNear(("window",))
        if kind in ("before", "after")
        else IntervalNear(("window", "key"), ordered=True, max_gaps=4)
    )
    return IntervalFilter(
        IntervalNear(("data", "stream"), ordered=False, max_gaps=6), ref, kind
    )


def _sql_interval_relation(kind: str, max_gaps: int = 6, k: int = 10) -> str:
    """Intervals.before / after / overlapping / nonOverlapping
    (Intervals.java:582,588,479,468): source = minimal unordered
    (data,stream) intervals (gap-filtered), reference = 'window' positions
    (before/after) or minimal ordered (window,key) intervals
    (overlapping forms); weight keeps the source's minExtent = 2."""
    freq_expr = "0.0"
    for w in range(2, max_gaps + 3):
        freq_expr = (
            f"({freq_expr} + count(*) FILTER (WHERE w = {w})"
            f" * (1.0/{w - 1}))"
        )
    if kind in ("before", "after"):
        ref = "refiv AS (SELECT doc_id, pos AS s, pos AS e FROM toks WHERE term = 'window')"
    else:
        ref = """rc AS (
  SELECT pw.doc_id, pw.pos AS s, min(pk.pos) AS e
  FROM (SELECT doc_id, pos FROM toks WHERE term = 'window') pw
  JOIN (SELECT doc_id, pos FROM toks WHERE term = 'key') pk
    ON pk.doc_id = pw.doc_id AND pk.pos > pw.pos
  GROUP BY pw.doc_id, pw.pos
),
rmini AS (SELECT doc_id, max(s) AS s, e FROM rc GROUP BY doc_id, e),
refiv AS (SELECT doc_id, s, e FROM rmini WHERE e - s - 1 <= 4)"""
    rels = {
        "before": "EXISTS (SELECT 1 FROM refiv r WHERE r.doc_id = m.doc_id AND r.s > m.e)",
        "after": "EXISTS (SELECT 1 FROM refiv r WHERE r.doc_id = m.doc_id AND r.e < m.s)",
        "overlapping": (
            "EXISTS (SELECT 1 FROM refiv r WHERE r.doc_id = m.doc_id"
            " AND r.s <= m.e AND r.e >= m.s)"
        ),
        "non_overlapping": (
            "NOT EXISTS (SELECT 1 FROM refiv r WHERE r.doc_id = m.doc_id"
            " AND r.s <= m.e AND r.e >= m.s)"
        ),
    }
    return f"""WITH {_BASE_CTES},
pa AS (SELECT doc_id, pos FROM toks WHERE term = 'data'),
pb AS (SELECT doc_id, pos FROM toks WHERE term = 'stream'),
cand AS (
  SELECT pa.doc_id, pa.pos AS s, min(pb.pos) AS e
  FROM pa JOIN pb ON pa.doc_id = pb.doc_id AND pb.pos > pa.pos
  GROUP BY pa.doc_id, pa.pos
  UNION ALL
  SELECT pb.doc_id, pb.pos AS s, min(pa.pos) AS e
  FROM pb JOIN pa ON pa.doc_id = pb.doc_id AND pa.pos > pb.pos
  GROUP BY pb.doc_id, pb.pos
),
mini0 AS (SELECT doc_id, max(s) AS s, e FROM cand GROUP BY doc_id, e),
srciv AS (SELECT doc_id, s, e FROM mini0 WHERE e - s - 1 <= {max_gaps}),
{ref},
kept AS (
  SELECT m.doc_id, m.e - m.s + 1 AS w FROM srciv m WHERE {rels[kind]}
),
pf AS (SELECT doc_id, {freq_expr} AS freq FROM kept GROUP BY doc_id),
ps AS (
  SELECT doc_id, (1.0 - 1.0 / (1.0 + freq)) AS score FROM pf WHERE freq > 0
)
""" + _topk_wrap("SELECT doc_id, score FROM ps", k)


def _ast_interval_prefix_leaf():
    from .search.query import IntervalNear, IntervalPrefix

    return IntervalNear(
        ("data", IntervalPrefix("s")), ordered=True, max_gaps=3
    )


def _ast_interval_wildcard_leaf():
    from .search.query import IntervalNear, IntervalWildcard

    return IntervalNear(
        (IntervalWildcard("s?a*"), "key"), ordered=True, max_gaps=4
    )


def _sql_interval_multiterm(pred0: str, pred1: str, max_gaps: int, k: int = 10) -> str:
    """Intervals.prefix / Intervals.wildcard leaf oracle: the expanded
    Intervals.or slot's occurrence list is the union of the matching
    terms' positions, which IS the SQL predicate over the token table —
    independent of the expansion list order."""
    freq_expr = "0.0"
    for w in range(2, max_gaps + 3):
        freq_expr = (
            f"({freq_expr} + count(*) FILTER (WHERE w = {w})"
            f" * (1.0/{w - 1}))"
        )
    return f"""WITH {_BASE_CTES},
pa AS (SELECT doc_id, pos FROM toks WHERE {pred0}),
pb AS (SELECT doc_id, pos FROM toks WHERE {pred1}),
cand AS (
  SELECT pa.doc_id, pa.pos AS s, min(pb.pos) AS e
  FROM pa JOIN pb ON pa.doc_id = pb.doc_id AND pb.pos > pa.pos
  GROUP BY pa.doc_id, pa.pos
),
mini AS (SELECT doc_id, max(s) AS s, e FROM cand GROUP BY doc_id, e),
iv AS (SELECT doc_id, e - s + 1 AS w FROM mini WHERE e - s - 1 <= {max_gaps}),
pf AS (SELECT doc_id, {freq_expr} AS freq FROM iv GROUP BY doc_id),
ps AS (
  SELECT doc_id, (1.0 - 1.0 / (1.0 + freq)) AS score FROM pf WHERE freq > 0
)
""" + _topk_wrap("SELECT doc_id, score FROM ps", k)


def _sql_prefix(prefix: str, k: int = 10, max_terms: int = 128) -> str:
    idf = _idf("e.df")
    return f"""WITH {_BASE_CTES},
exp AS (
  SELECT term, df FROM dft WHERE term LIKE '{prefix}%'
  ORDER BY df DESC, term ASC LIMIT {max_terms}
),
es AS (
  SELECT tf.doc_id, tf.term,
         ({idf} - {idf} / {_tf_part("tf.freq", "qdl.qdl")}) AS score
  FROM tf JOIN exp e USING (term) JOIN qdl USING (doc_id), stats s
),
u AS (
  SELECT doc_id, list_sum(list(score ORDER BY term ASC)) AS score
  FROM es GROUP BY doc_id
)
""" + _topk_wrap("SELECT doc_id, score FROM u", k)


# ---------------------------------------------------------------------------
# multi-term / compound query family (wildcard, fuzzy, range, synonym,
# dismax, boosts, minShouldMatch, constant-score, set, searchAfter)
# ---------------------------------------------------------------------------

def _hits_ast(spark, sf_dir, ast, k: int, after=None) -> DataFrame:
    h = _searcher(spark, sf_dir).search(ast, k=k, after=after, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.col("score"),
    )


def _mk_topk_ast(make_ast, k: int = 10):
    def run(spark, sf_dir):
        return _hits_ast(spark, sf_dir, make_ast(), k).select(
            "doc_id", F.round("score", 4).alias("score")
        )
    return run


def _sql_expansion_sum(exp_cte: str, k: int = 10) -> str:
    """SHOULD-of-expanded-terms scoring (ScoringRewrite): ``exp_cte`` must
    define exp(term, df) — scores summed per doc, top-k cut."""
    idf = _idf("e.df")
    return f"""WITH {_BASE_CTES},
exp AS ({exp_cte}),
es AS (
  SELECT tf.doc_id, tf.term,
         ({idf} - {idf} / {_tf_part("tf.freq", "qdl.qdl")}) AS score
  FROM tf JOIN exp e USING (term) JOIN qdl USING (doc_id), stats s
),
u AS (
  SELECT doc_id, list_sum(list(score ORDER BY term ASC)) AS score
  FROM es GROUP BY doc_id
)
""" + _topk_wrap("SELECT doc_id, score FROM u", k)


def _sql_wildcard(like_pat: str, k: int = 10, max_terms: int = 128) -> str:
    return _sql_expansion_sum(
        f"SELECT term, df FROM dft WHERE term LIKE '{like_pat}' "
        f"ORDER BY df DESC, term ASC LIMIT {max_terms}",
        k,
    )


def _sql_regexp(pat: str, k: int = 10, max_terms: int = 128) -> str:
    return _sql_expansion_sum(
        f"SELECT term, df FROM dft WHERE regexp_matches(term, '^{pat}$') "
        f"ORDER BY df DESC, term ASC LIMIT {max_terms}",
        k,
    )


def _sql_range(lo: str, hi: str, incl: bool, k: int = 10, max_terms: int = 128) -> str:
    op_lo, op_hi = (">=", "<=") if incl else (">", "<")
    return _sql_expansion_sum(
        f"SELECT term, df FROM dft WHERE term {op_lo} '{lo}' AND term {op_hi} '{hi}' "
        f"ORDER BY df DESC, term ASC LIMIT {max_terms}",
        k,
    )


def _sql_fuzzy(target: str, max_edits: int, k: int = 10, max_terms: int = 128) -> str:
    """TopTermsBlendedFreqScoringRewrite mirror: per-term boost =
    1 - OSA/min(len), docFreq blended to the max over the expansion, weight
    = boost*idf(blended) computed BEFORE the tf division (scorer create
    order). DuckDB's damerau_levenshtein is the same OSA distance."""
    n = len(target)
    sim = (
        f"CASE WHEN damerau_levenshtein(term, '{target}') = 0 THEN 1.0 "
        f"ELSE 1.0 - damerau_levenshtein(term, '{target}')::DOUBLE / "
        f"least(length(term), {n}) END"
    )
    idf_bl = _idf("(SELECT max(df) FROM exp)")
    return f"""WITH {_BASE_CTES},
exp AS (
  SELECT term, df, {sim} AS boost
  FROM dft
  WHERE abs(length(term) - {n}) <= {max_edits}
    AND damerau_levenshtein(term, '{target}') <= {max_edits}
  ORDER BY {sim} DESC, df DESC, term ASC LIMIT {max_terms}
),
ws AS (SELECT e.term, (e.boost * {idf_bl}) AS w FROM exp e, stats s),
es AS (
  SELECT tf.doc_id, tf.term,
         (ws.w - ws.w / {_tf_part("tf.freq", "qdl.qdl")}) AS score
  FROM tf JOIN ws USING (term) JOIN qdl USING (doc_id), stats s
),
u AS (
  SELECT doc_id, list_sum(list(score ORDER BY term ASC)) AS score
  FROM es GROUP BY doc_id
)
""" + _topk_wrap("SELECT doc_id, score FROM u", k)


def _q_spellcheck(spark, sf_dir):
    """DirectSpellChecker over the gate index: 'scal' -> scan (d=1) +
    small (d=2). transpositions=False so DuckDB's levenshtein() is the
    exact same metric (its damerau_levenshtein is full DL, not OSA)."""
    from .search.spell import DirectSpellChecker

    checker = DirectSpellChecker(
        _searcher(spark, sf_dir), max_edits=2, transpositions=False
    )
    return checker.suggestions_df("scal", num_sug=10).select(
        "word", F.round("score", 4).alias("score"), "freq"
    )


def _q_spellcheck_ngram(spark, sf_dir):
    """Classic n-gram SpellChecker (spell/SpellChecker.java): candidates
    share a 3/4-gram with 'strean' (6 letters -> getMin=3, getMax=4),
    ranked by 1 - lev/max(len) (spell/LevenshteinDistance.java:100),
    exhaustive verify (max_hits=None) so the oracle needs no cut order."""
    from .search.spell import NGramSpellChecker

    checker = NGramSpellChecker(_searcher(spark, sf_dir))
    return checker.suggestions_df(
        "strean", num_sug=10, mode="always"
    ).select("word", F.round("score", 4).alias("score"), "freq")


def _sql_spellcheck_ngram(target: str = "strean", k: int = 10) -> str:
    """suggestSimilar mirror for the classic checker. The 4-gram clauses
    are subsumed by the 3-gram contains predicates (each query 4-gram
    contains a query 3-gram), and start/end clauses are subsumed by
    contains, so candidate membership reduces to the distinct 3-grams."""
    n = len(target)
    g3 = sorted({target[i : i + 3] for i in range(n - 2)})
    anygram = " OR ".join(f"term LIKE '%{g}%'" for g in g3)
    lev = f"levenshtein(term, '{target}')"
    score = f"(1.0 - {lev}::DOUBLE / greatest(length(term), {n})::DOUBLE)"
    return f"""WITH {_BASE_CTES}
SELECT word, score, freq FROM (
  SELECT term AS word, round({score}, 4) AS score, df AS freq
  FROM dft
  WHERE term <> '{target}'
    AND ({anygram})
    AND {score} >= 0.5
  ORDER BY {score} DESC, df DESC, term ASC LIMIT {k}
)"""


def _sql_spellcheck(target: str, k: int = 10) -> str:
    """suggestSimilar mirror: score = 1 - lev/min(len), rank
    (score DESC, freq DESC, word ASC), trim k. The query term is absent
    from the corpus, so the mode/maxQueryFrequency gates are all open."""
    n = len(target)
    lev = f"levenshtein(term, '{target}')"
    score = f"(1.0 - {lev}::DOUBLE / least(length(term), {n})::DOUBLE)"
    return f"""WITH {_BASE_CTES}
SELECT word, score, freq FROM (
  SELECT term AS word, round({score}, 4) AS score, df AS freq
  FROM dft
  WHERE term <> '{target}'
    AND substr(term, 1, 1) = '{target[:1]}'
    AND abs(length(term) - {n}) <= 2
    AND {lev} BETWEEN 1 AND 2
    AND {score} >= 0.5
  ORDER BY {score} DESC, df DESC, term ASC LIMIT {k}
)"""


def _q_mlt(spark, sf_dir):
    """MoreLikeThis seeded with doc 0's text: select interesting terms
    (tf>=2, df>=5, top-25 by tf*idf), search the OR query, drop the seed
    doc itself (the conventional MLT usage; Lucene users add the exclusion
    clause themselves)."""
    from .search.mlt import MoreLikeThis

    s = _searcher(spark, sf_dir)
    text = (
        _docs(spark, sf_dir).filter(F.col("doc_id") == 0).select("text").head()[0]
    )
    mlt = MoreLikeThis(s)
    h = s.search(mlt.like_text(text), k=11, with_url=True)
    return (
        h.select(
            F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
            F.col("score"),
        )
        .filter(F.col("doc_id") != 0)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
        .select("doc_id", F.round("score", 4).alias("score"))
    )


def _sql_mlt(src_doc: int, k: int = 10) -> str:
    """Oracle: MLT term selection in SQL (tf*idf with ClassicSimilarity
    idf = ln((N+1)/(df+1))+1, ties by term ASC, LIMIT 25), then the
    standard expansion-sum BM25 scoring; seed doc excluded, cut k+1→k."""
    idf_mlt = "(ln((s.n_docs + 1)::DOUBLE / (d.df + 1)::DOUBLE) + 1.0)"
    exp = f"""
  SELECT term, df FROM (
    SELECT tf.term AS term, d.df AS df,
           (tf.freq::DOUBLE * {idf_mlt}) AS mlt
    FROM tf JOIN dft d USING (term), stats s
    WHERE tf.doc_id = {src_doc} AND tf.freq >= 2 AND d.df >= 5
  ) ORDER BY mlt DESC, term ASC LIMIT 25"""
    idf = _idf("e.df")
    return f"""WITH {_BASE_CTES},
exp AS ({exp}),
es AS (
  SELECT tf.doc_id, tf.term,
         ({idf} - {idf} / {_tf_part("tf.freq", "qdl.qdl")}) AS score
  FROM tf JOIN exp e USING (term) JOIN qdl USING (doc_id), stats s
),
u AS (
  SELECT doc_id, list_sum(list(score ORDER BY term ASC)) AS score
  FROM es WHERE doc_id <> {src_doc} GROUP BY doc_id
)
""" + _topk_wrap("SELECT doc_id, score FROM u", k)


def _q_mlt_terms(spark, sf_dir):
    """The selection half alone: (word, mlt_score, tf, df) of doc 0."""
    from .search.mlt import MoreLikeThis

    s = _searcher(spark, sf_dir)
    text = (
        _docs(spark, sf_dir).filter(F.col("doc_id") == 0).select("text").head()[0]
    )
    rows = [
        (w, round(sc, 4), tf, df)
        for w, sc, tf, df in MoreLikeThis(s).interesting_terms(text)
    ]
    return spark.createDataFrame(
        rows, "word string, mlt_score double, tf long, df long"
    )


def _sql_mlt_terms(src_doc: int) -> str:
    idf_mlt = "(ln((s.n_docs + 1)::DOUBLE / (d.df + 1)::DOUBLE) + 1.0)"
    return f"""WITH {_BASE_CTES}
SELECT word, mlt_score, tf, df FROM (
  SELECT tf.term AS word,
         round(tf.freq::DOUBLE * {idf_mlt}, 4) AS mlt_score,
         tf.freq AS tf, d.df AS df,
         (tf.freq::DOUBLE * {idf_mlt}) AS raw
  FROM tf JOIN dft d USING (term), stats s
  WHERE tf.doc_id = {src_doc} AND tf.freq >= 2 AND d.df >= 5
) ORDER BY raw DESC, word ASC LIMIT 25"""


_WB_TARGETS = ("rowkey", "hashjoin", "thebigdata")


def _q_word_breaks(spark, sf_dir):
    """WordBreakSpellChecker.suggestWordBreaks over three run-together
    targets (max_changes=2 → 2- and 3-part splits), ranked per target by
    (parts ASC, max-frequency DESC, words ASC)."""
    from .search.wordbreak import WordBreakSpellChecker

    wb = WordBreakSpellChecker(_searcher(spark, sf_dir), max_changes=2)
    rows = []
    for t in _WB_TARGETS:
        for ws in wb.suggest_word_breaks(t, max_suggestions=5):
            rows.append(
                (
                    t,
                    " ".join(w.word for w in ws),
                    len(ws),
                    max(w.freq for w in ws),
                    sum(w.freq for w in ws),
                )
            )
    return spark.createDataFrame(
        rows,
        "target string, words string, n_parts int, freq_max long, freq_sum long",
    )


def _sql_word_breaks(k: int = 5) -> str:
    vals = ", ".join(f"('{t}')" for t in _WB_TARGETS)
    return f"""WITH {_BASE_CTES},
t(s) AS (VALUES {vals}),
n(i) AS (SELECT unnest(range(1, 64))),
two AS (
  SELECT t.s AS target,
         substr(s, 1, i::INT) AS w1, substr(s, i::INT + 1) AS w2,
         d1.df AS f1, d2.df AS f2
  FROM t JOIN n ON i < length(s)
  JOIN dft d1 ON d1.term = substr(s, 1, i::INT)
  JOIN dft d2 ON d2.term = substr(s, i::INT + 1)
),
three AS (
  SELECT t.s AS target,
         substr(s, 1, a.i::INT) AS w1,
         substr(s, a.i::INT + 1, (b.i - a.i)::INT) AS w2,
         substr(s, b.i::INT + 1) AS w3,
         d1.df AS f1, d2.df AS f2, d3.df AS f3
  FROM t
  JOIN n a ON a.i < length(s)
  JOIN n b ON b.i > a.i AND b.i < length(s)
  JOIN dft d1 ON d1.term = substr(s, 1, a.i::INT)
  JOIN dft d2 ON d2.term = substr(s, a.i::INT + 1, (b.i - a.i)::INT)
  JOIN dft d3 ON d3.term = substr(s, b.i::INT + 1)
),
u AS (
  SELECT target, w1 || ' ' || w2 AS words, 2 AS n_parts,
         greatest(f1, f2)::BIGINT AS freq_max, (f1 + f2)::BIGINT AS freq_sum
  FROM two
  UNION ALL
  SELECT target, w1 || ' ' || w2 || ' ' || w3, 3,
         greatest(f1, f2, f3)::BIGINT, (f1 + f2 + f3)::BIGINT
  FROM three
)
SELECT target, words, n_parts, freq_max, freq_sum FROM u
QUALIFY row_number() OVER (
  PARTITION BY target ORDER BY n_parts, freq_max DESC, words
) <= {k}"""


def _q_suggest_prefix(spark, sf_dir):
    """Lookup analog: top index terms under a prefix by docFreq weight."""
    from .search.spell import prefix_suggest

    pairs = prefix_suggest(_searcher(spark, sf_dir), "s", k=10)
    return spark.createDataFrame(pairs, "word string, freq long")


def _sql_suggest_prefix(prefix: str, k: int = 10) -> str:
    return f"""WITH {_BASE_CTES}
SELECT term AS word, df AS freq FROM dft
WHERE term LIKE '{prefix}%'
ORDER BY df DESC, term ASC LIMIT {k}"""


def _sql_synonym(terms: list[str], k: int = 10) -> str:
    """SynonymQuery: blended df = max over terms, per-doc freq = Σ freqs,
    ONE scorer call."""
    tlist = ", ".join(f"'{t}'" for t in terms)
    idf = _idf(f"(SELECT max(df) FROM dft WHERE term IN ({tlist}))")
    return f"""WITH {_BASE_CTES},
sf AS (
  SELECT doc_id, sum(freq)::BIGINT AS freq FROM tf
  WHERE term IN ({tlist}) GROUP BY doc_id
),
ss AS (
  SELECT sf.doc_id, ({idf} - {idf} / {_tf_part("sf.freq", "qdl.qdl")}) AS score
  FROM sf JOIN qdl USING (doc_id), stats s
)
""" + _topk_wrap("SELECT doc_id, score FROM ss", k)


def _sql_dismax(terms: list[str], tie: float, k: int = 10) -> str:
    aliases = [f"s_{i}" for i in range(len(terms))]
    ctes = ", ".join(_term_scores_cte(a, t) for a, t in zip(aliases, terms))
    joins = aliases[0]
    for a in aliases[1:]:
        joins += f" FULL JOIN {a} USING (doc_id)"
    mx = "greatest(" + ", ".join(f"coalesce({a}.score, '-infinity'::DOUBLE)" for a in aliases) + ")"
    sm = " + ".join(f"coalesce({a}.score, 0.0)" for a in aliases)
    inner = f"SELECT doc_id, ({mx} + {tie} * (({sm}) - {mx})) AS score FROM {joins}"
    return f"WITH {_BASE_CTES}, {ctes} " + _topk_wrap(inner, k)


def _q_fuzzy_like_this(spark, sf_dir, k: int = 10):
    s = _searcher(spark, sf_dir)
    q = s.fuzzy_like_this("strean windoq", max_num_terms=8, max_edits=1)
    return _hits_ast(spark, sf_dir, q, k).select(
        "doc_id", F.round("score", 4).alias("score")
    )


def _sql_fuzzy_like_this(
    qterms: list[str], max_num_terms: int = 8, k: int = 10
) -> str:
    """FuzzyLikeThisQuery oracle: per source term, OSA-variants within 1
    edit keep their similarity boost (top 10 per source); source df falls
    back to the integer-mean variant df; variant weight =
    boost²·(ln((N+1)/(df+1))+1); global top max_num_terms variants score
    as df=1 TermQueries summed per doc in term order."""
    vals = ", ".join(f"('{t}', {len(t)})" for t in qterms)
    idf1 = _idf("1")
    return f"""WITH {_BASE_CTES},
src(qterm, qlen) AS (VALUES {vals}),
cand AS (
  SELECT s.qterm, s.qlen, d.term, d.df,
         damerau_levenshtein(d.term, s.qterm) AS e
  FROM dft d, src s
  WHERE length(d.term) BETWEEN s.qlen - 1 AND s.qlen + 1
    AND damerau_levenshtein(d.term, s.qterm) <= 1
),
boosted AS (
  SELECT qterm, term, df,
         CASE WHEN e = 0 THEN 1.0
              ELSE 1.0 - e::DOUBLE / least(length(term), qlen) END AS boost
  FROM cand
),
keepv AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY qterm ORDER BY boost DESC, term ASC) AS rn
    FROM boosted
  ) WHERE rn <= 10
),
dfsrc AS (
  SELECT q.qterm,
         coalesce(
           nullif((SELECT coalesce(max(df), 0) FROM dft WHERE term = q.qterm), 0),
           (SELECT sum(df) // count(*) FROM cand c WHERE c.qterm = q.qterm)
         ) AS df0
  FROM (SELECT DISTINCT qterm FROM cand) q
),
scoredv AS (
  SELECT k.term,
         (k.boost * k.boost) * (ln((s.n_docs + 1.0) / (d.df0 + 1.0)) + 1.0) AS w
  FROM keepv k JOIN dfsrc d USING (qterm), stats s
),
sel AS (SELECT term, w FROM scoredv ORDER BY w DESC, term ASC LIMIT {max_num_terms}),
es AS (
  SELECT tf.doc_id, tf.term,
         ((sel.w * {idf1}) - (sel.w * {idf1}) / {_tf_part("tf.freq", "qdl.qdl")}) AS score
  FROM tf JOIN sel USING (term) JOIN qdl USING (doc_id), stats s
),
u AS (
  SELECT doc_id, list_sum(list(score ORDER BY term ASC)) AS score
  FROM es GROUP BY doc_id
)
""" + _topk_wrap("SELECT doc_id, score FROM u", k)


def _q_blended_term(spark, sf_dir, k: int = 10):
    s = _searcher(spark, sf_dir)
    q = s.blended_term_query(["data", "stream"], rewrite_method="dismax")
    h = s.search(q, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _sql_blended_term(terms: list[str], tie: float = 0.01, k: int = 10) -> str:
    """BlendedTermQuery oracle: every term scores with the blended
    docFreq = max over the set (BlendedTermQuery.adjustFrequencies), then
    DISJUNCTION_MAX_REWRITE combines (tie 0.01)."""
    in_list = ", ".join(f"'{t}'" for t in terms)
    idf = _idf("d.df")
    aliases = []
    ctes = []
    for i, t in enumerate(terms):
        a = f"s_{i}"
        aliases.append(a)
        ctes.append(f"""
{a} AS (
  SELECT tf.doc_id,
         ({idf} - {idf} / {_tf_part("tf.freq", "qdl.qdl")}) AS score
  FROM tf JOIN qdl USING (doc_id), stats s,
       (SELECT max(df) AS df FROM dft WHERE term IN ({in_list})) d
  WHERE tf.term = '{t}'
)""")
    joins = aliases[0]
    for a in aliases[1:]:
        joins += f" FULL JOIN {a} USING (doc_id)"
    mx = "greatest(" + ", ".join(
        f"coalesce({a}.score, '-infinity'::DOUBLE)" for a in aliases
    ) + ")"
    sm = " + ".join(f"coalesce({a}.score, 0.0)" for a in aliases)
    inner = f"SELECT doc_id, ({mx} + {tie} * (({sm}) - {mx})) AS score FROM {joins}"
    return f"WITH {_BASE_CTES}, {', '.join(ctes)} " + _topk_wrap(inner, k)


def _sql_boost_or(term_boosts: list[tuple[str, float]], k: int = 10) -> str:
    """OR of boosted terms: weight = boost*idf built at scorer-create, then
    w - w/tf (QuantizedDoubleBm25.create order)."""
    ctes, aliases = [], []
    for i, (t, b) in enumerate(term_boosts):
        a = f"s_{i}"
        aliases.append(a)
        idf = _idf("d.df")
        ctes.append(f"""
{a} AS (
  SELECT tf.doc_id,
         (({b} * {idf}) - ({b} * {idf}) / {_tf_part("tf.freq", "qdl.qdl")}) AS score
  FROM tf JOIN qdl USING (doc_id), stats s,
       (SELECT df FROM dft WHERE term = '{t}') d
  WHERE tf.term = '{t}'
)""")
        # note: boost folded into the weight before the division, like the scorer
    joins = aliases[0]
    for a in aliases[1:]:
        joins += f" FULL JOIN {a} USING (doc_id)"
    inner = f"SELECT doc_id, {_sum_chain(aliases)} AS score FROM {joins}"
    return f"WITH {_BASE_CTES}, {', '.join(ctes)} " + _topk_wrap(inner, k)


def _sql_min_should(terms: list[str], msm: int, k: int = 10) -> str:
    aliases = [f"s_{i}" for i in range(len(terms))]
    ctes = ", ".join(_term_scores_cte(a, t) for a, t in zip(aliases, terms))
    joins = aliases[0]
    for a in aliases[1:]:
        joins += f" FULL JOIN {a} USING (doc_id)"
    nmatched = " + ".join(
        f"(CASE WHEN {a}.score IS NOT NULL THEN 1 ELSE 0 END)" for a in aliases
    )
    inner = (
        f"SELECT doc_id, {_sum_chain(aliases)} AS score FROM {joins} "
        f"WHERE ({nmatched}) >= {msm}"
    )
    return f"WITH {_BASE_CTES}, {ctes} " + _topk_wrap(inner, k)


def _sql_constant_and(terms: list[str], boost: float, k: int) -> str:
    conds = " AND ".join(
        f"EXISTS (SELECT 1 FROM tf WHERE term = '{t}' AND tf.doc_id = d.doc_id)"
        for t in terms
    )
    inner = f"SELECT doc_id, {boost}::DOUBLE AS score FROM documents d WHERE {conds}"
    return f"WITH {_BASE_CTES} " + _topk_wrap(inner, k)


def _sql_term_in_set(terms: list[str], k: int) -> str:
    tlist = ", ".join(f"'{t}'" for t in terms)
    inner = (
        f"SELECT doc_id, 1.0::DOUBLE AS score FROM documents d "
        f"WHERE EXISTS (SELECT 1 FROM tf WHERE term IN ({tlist}) AND tf.doc_id = d.doc_id)"
    )
    return f"WITH {_BASE_CTES} " + _topk_wrap(inner, k)


def _sql_search_after(terms_or: list[str], k: int = 10) -> str:
    """Page 2 ≡ rows k+1..2k of the same global order (searchAfter anchor)."""
    aliases = [f"s_{i}" for i in range(len(terms_or))]
    ctes = ", ".join(_term_scores_cte(a, t) for a, t in zip(aliases, terms_or))
    joins = aliases[0]
    for a in aliases[1:]:
        joins += f" FULL JOIN {a} USING (doc_id)"
    inner = f"SELECT doc_id, {_sum_chain(aliases)} AS score FROM {joins}"
    return f"""WITH {_BASE_CTES}, {ctes}
SELECT doc_id, round(score, 4) AS score FROM (
  SELECT * FROM ({inner}) ORDER BY score DESC, doc_id ASC LIMIT {k} OFFSET {k}
)"""


def _q_search_after(spark, sf_dir, k: int = 10):
    s = _searcher(spark, sf_dir)
    from .search.query import BooleanQuery, TermQuery

    ast = BooleanQuery(
        should=(TermQuery("stream"), TermQuery("window"), TermQuery("batch"))
    )
    page1 = _hits_ast(spark, sf_dir, ast, k).collect()
    if not page1:
        # empty first page (tiny/filtered corpus): page 2 is empty too
        return spark.createDataFrame([], "doc_id long, score double")
    last = page1[-1]
    anchor = (float(last["score"]), int(last["doc_id"]))
    return _hits_ast(spark, sf_dir, ast, k, after=anchor).select(
        "doc_id", F.round("score", 4).alias("score")
    )


def _ast_synonym():
    from .search.query import SynonymQuery

    return SynonymQuery(terms=("stream", "window"))


def _ast_dismax():
    from .search.query import DisjunctionMaxQuery, TermQuery

    return DisjunctionMaxQuery(
        disjuncts=(TermQuery("stream"), TermQuery("window"), TermQuery("batch")),
        tie_breaker=0.3,
    )


def _ast_min_should():
    from .search.query import BooleanQuery, TermQuery

    return BooleanQuery(
        should=(TermQuery("batch"), TermQuery("filter"), TermQuery("window")),
        min_should_match=2,
    )


def _ast_constant():
    from .search.query import BooleanQuery, ConstantScoreQuery, TermQuery

    return ConstantScoreQuery(
        query=BooleanQuery(must=(TermQuery("stream"), TermQuery("window"))),
        boost=2.5,
    )


def _ast_term_in_set():
    from .search.query import TermInSetQuery

    return TermInSetQuery(terms=("scan", "merge", "nosuchterm"))


def _ast_multi_phrase():
    from .search.query import MultiPhraseQuery

    return MultiPhraseQuery(slots=(("data",), ("stream", "window")))


def _sql_multi_phrase(k: int = 10) -> str:
    """slot0='data', slot1∈{'stream','window'}; weight = Σ idf over all
    three terms (MultiPhraseQuery scoring)."""
    idfs = " + ".join(
        _idf(f"(SELECT df FROM dft WHERE term = '{t}')")
        for t in ("data", "stream", "window")
    )
    return f"""WITH {_BASE_CTES},
mp AS (
  SELECT a.doc_id, count(DISTINCT a.pos)::BIGINT AS freq
  FROM toks a
  JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
             AND b.term IN ('stream', 'window')
  WHERE a.term = 'data'
  GROUP BY a.doc_id
),
ms AS (
  SELECT mp.doc_id,
         (w.w - w.w / {_tf_part("mp.freq", "qdl.qdl")}) AS score
  FROM mp JOIN qdl USING (doc_id),
       stats s,
       (SELECT ({idfs}) AS w FROM stats s) w
)
""" + _topk_wrap("SELECT doc_id, score FROM ms", k)


def _sql_phrase_prefix(t0: str, prefix: str, k: int = 10) -> str:
    """match_phrase_prefix ``"t0 prefix*"``: last slot = every dict term with
    the prefix (the gate prefix expands to far fewer than the 128-term cap, so
    cap ranking can't bite); weight = Σ idf over t0 + expansion in slot-major
    order (MultiPhraseQuery idfExplain-over-all-terms scoring, engine order
    [t0, expansion ASC] — the ordered aggregate mirrors the accumulation)."""
    return f"""WITH {_BASE_CTES},
exp AS (SELECT term, df FROM dft WHERE term LIKE '{prefix}%'),
wsum AS (
  SELECT ({_idf(f"(SELECT df FROM dft WHERE term = '{t0}')")}
          + (SELECT sum({_idf("e.df")} ORDER BY e.term ASC)
             FROM exp e, stats s)) AS w
  FROM stats s
),
mp AS (
  SELECT a.doc_id, count(DISTINCT a.pos)::BIGINT AS freq
  FROM toks a
  JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  JOIN exp e ON b.term = e.term
  WHERE a.term = '{t0}'
  GROUP BY a.doc_id
),
ms AS (
  SELECT mp.doc_id,
         (w.w - w.w / {_tf_part("mp.freq", "qdl.qdl")}) AS score
  FROM mp JOIN qdl USING (doc_id), stats s, wsum w
)
""" + _topk_wrap("SELECT doc_id, score FROM ms", k)


def _sql_wildcard_phrase(pattern_like: str, t1: str, k: int = 10) -> str:
    """``"s* window"`` — wildcard in the FIRST slot (PhraseWildcardQuery):
    slot0 = every dict term matching the pattern (engine cap 128 can't bite
    at gate vocabulary size), slot1 literal; weight = Σ idf over [expansion
    ASC, t1] in the engine's slot-major accumulation order."""
    return f"""WITH {_BASE_CTES},
exp AS (SELECT term, df FROM dft WHERE term LIKE '{pattern_like}'),
wsum AS (
  SELECT ((SELECT sum({_idf("e.df")} ORDER BY e.term ASC)
           FROM exp e, stats s)
          + {_idf(f"(SELECT df FROM dft WHERE term = '{t1}')")}) AS w
  FROM stats s
),
mp AS (
  SELECT a.doc_id, count(DISTINCT a.pos)::BIGINT AS freq
  FROM toks a
  JOIN exp e ON a.term = e.term
  JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
             AND b.term = '{t1}'
  GROUP BY a.doc_id
),
ms AS (
  SELECT mp.doc_id,
         (w.w - w.w / {_tf_part("mp.freq", "qdl.qdl")}) AS score
  FROM mp JOIN qdl USING (doc_id), stats s, wsum w
)
""" + _topk_wrap("SELECT doc_id, score FROM ms", k)


def _q_lm_dirichlet(spark, sf_dir, k: int = 10):
    """LM Dirichlet similarity (similarities/LMDirichletSimilarity.java):
    the pluggable-Similarity gate row — same index, different SimScorer."""
    s = Searcher(
        spark, _ensure_index(spark, sf_dir), analyzer="simple",
        mode="lm_dirichlet",
    )
    h = s.search("stream OR window", k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _lm_term_cte(name: str, term: str, mu: str = "2000.0") -> str:
    """Per-doc LM Dirichlet score CTE for one term, expression-shape
    identical to LMDirichletScorer.score (clamped at 0)."""
    return f"""
{name} AS (
  SELECT tf.doc_id,
         greatest(0.0,
           1.0 * (ln(1.0 + tf.freq::DOUBLE
                     / ({mu} * ((d.ttf::DOUBLE + 1.0) / (s.sum_ttf::DOUBLE + 1.0))))
                  + ln({mu} / (qdl.qdl::DOUBLE + {mu})))) AS score
  FROM tf
  JOIN qdl USING (doc_id),
       stats s,
       (SELECT ttf FROM dft WHERE term = '{term}') d
  WHERE tf.term = '{term}'
)"""


def _sql_lm_dirichlet(terms: list[str], k: int = 10) -> str:
    aliases = [f"lm_{i}" for i in range(len(terms))]
    ctes = ", ".join(_lm_term_cte(a, t) for a, t in zip(aliases, terms))
    joins = aliases[0]
    for a in aliases[1:]:
        joins += f" FULL JOIN {a} USING (doc_id)"
    inner = f"SELECT doc_id, {_sum_chain(aliases)} AS score FROM {joins}"
    return f"WITH {_BASE_CTES}, {ctes} " + _topk_wrap(inner, k)


def _q_lm_jelinek(spark, sf_dir, k: int = 10):
    """LM Jelinek-Mercer similarity (similarities/
    LMJelinekMercerSimilarity.java, lambda=0.1): the second pluggable-
    Similarity gate row — same index, same query shape, different mixing
    model (linear interpolation instead of Dirichlet priors)."""
    s = Searcher(
        spark, _ensure_index(spark, sf_dir), analyzer="simple",
        mode="lm_jelinek_mercer",
    )
    h = s.search("stream OR window", k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _lmjm_term_cte(name: str, term: str, lam: str = "0.1") -> str:
    """Per-doc LM Jelinek-Mercer score CTE for one term, expression-shape
    identical to LMJelinekMercerScorer.score (freq times a per-doc factor
    ((1-λ)/dl)/(λ·p), clamped at 0)."""
    return f"""
{name} AS (
  SELECT tf.doc_id,
         greatest(0.0,
           1.0 * ln(1.0 + tf.freq::DOUBLE
             * (((1.0 - {lam}) / qdl.qdl::DOUBLE)
                / ({lam} * ((d.ttf::DOUBLE + 1.0) / (s.sum_ttf::DOUBLE + 1.0)))))) AS score
  FROM tf
  JOIN qdl USING (doc_id),
       stats s,
       (SELECT ttf FROM dft WHERE term = '{term}') d
  WHERE tf.term = '{term}'
)"""


def _sql_lm_jelinek(terms: list[str], k: int = 10) -> str:
    aliases = [f"jm_{i}" for i in range(len(terms))]
    ctes = ", ".join(_lmjm_term_cte(a, t) for a, t in zip(aliases, terms))
    joins = aliases[0]
    for a in aliases[1:]:
        joins += f" FULL JOIN {a} USING (doc_id)"
    inner = f"SELECT doc_id, {_sum_chain(aliases)} AS score FROM {joins}"
    return f"WITH {_BASE_CTES}, {ctes} " + _topk_wrap(inner, k)


def _q_boolean_sim(spark, sf_dir, k: int = 10):
    """BooleanSimilarity (similarities/BooleanSimilarity.java:31): every
    matching term scores exactly its boost (1.0) regardless of freq/norm,
    so an OR ranks purely by match count — the filter-context scoring
    model as a pluggable SimScorer."""
    s = Searcher(
        spark, _ensure_index(spark, sf_dir), analyzer="simple",
        mode="boolean",
    )
    h = s.search("stream OR window", k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _sql_boolean_sim(terms: list[str], k: int = 10) -> str:
    tlist = ", ".join(f"'{t}'" for t in terms)
    inner = f"""SELECT doc_id, count(DISTINCT term)::DOUBLE AS score
  FROM tf WHERE term IN ({tlist}) GROUP BY doc_id"""
    return f"WITH {_BASE_CTES} " + _topk_wrap(inner, k)


# --- pluggable-Similarity family: one gate row per reference similarity ----
#
# Same cached index, same "stream OR window" query shape as the LM rows —
# only the SimScorer changes. Each SQL oracle re-derives the scorer's
# float64 expression in the exact operand order of the corresponding class
# in search/scorers.py, so the 4-decimal hash comparison is exact.

_SIM_MODE_DOC = {
    "multi_bm25_classic": "MultiSimilarity summing BM25 + Classic "
    "(similarities/MultiSimilarity.java:56-70)",
    "classic": "ClassicSimilarity TF-IDF (similarities/ClassicSimilarity.java)",
    "dfr_gb2": "DFR GB2 (similarities/DFRSimilarity.java: BasicModelG, "
    "AfterEffectB, NormalizationH2 c=1)",
    "ib_ll": "Information-based LL-DF-H2 (similarities/IBSimilarity.java)",
    "dfi_chi2": "Divergence-from-independence, chi-squared "
    "(similarities/DFISimilarity.java)",
    "axiomatic_f2exp": "Axiomatic F2EXP s=0.25 k=0.35 "
    "(similarities/AxiomaticF2EXP.java)",
    "indri_dirichlet": "Indri Dirichlet mu=2000 "
    "(similarities/IndriDirichletSimilarity.java) — negative "
    "log-probability scores rank correctly (top-k θ starts at −inf)",
    "dfr_inl2": "DFR I(n)L2 (similarities/BasicModelIn.java, AfterEffectL, "
    "NormalizationH2 c=1)",
    "ib_spl": "Information-based SPL-TTF-H2 (similarities/"
    "DistributionSPL.java, LambdaTTF incl. its float32 cast)",
    "axiomatic_f1log": "Axiomatic F1LOG s=0.25 "
    "(similarities/AxiomaticF1LOG.java)",
    "sweet_spot": "SweetSpotSimilarity plateau 40..120/steep 0.5, baselineTf "
    "base 1.5/min 2 (misc/SweetSpotSimilarity.java:111-148)",
}


def _make_q_similarity(mode: str):
    def q(spark, sf_dir, k: int = 10):
        s = Searcher(
            spark, _ensure_index(spark, sf_dir), analyzer="simple", mode=mode
        )
        h = s.search("stream OR window", k=k, with_url=True)
        return h.select(
            F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
            F.round("score", 4).alias("score"),
        )

    q.__doc__ = f"Pluggable-Similarity gate row: {_SIM_MODE_DOC[mode]}."
    q.__name__ = f"_q_sim_{mode}"
    return q


# shared SQL fragments (qdl is the SmallFloat-quantized length; avgdl and
# collection stats come from the `stats` CTE; d = one term's dft row)
_TFN_H2 = "(tf.freq::DOUBLE * (ln(1.0 + s.avgdl / qdl.qdl::DOUBLE) / ln(2.0)))"


def _sim_term_cte(mode: str, name: str, term: str) -> str:
    if mode == "classic":
        score = (
            "((ln((s.n_docs::DOUBLE + 1.0) / (d.df::DOUBLE + 1.0)) + 1.0)"
            " * sqrt(tf.freq::DOUBLE) * (1.0 / sqrt(qdl.qdl::DOUBLE)))"
        )
    elif mode == "sweet_spot":
        tf = (
            "(CASE WHEN tf.freq::DOUBLE <= 2.0 THEN 1.5"
            " ELSE sqrt(tf.freq::DOUBLE + (1.5 * 1.5) - 2.0) END)"
        )
        norm = (
            "(1.0 / sqrt((0.5 * ((abs(qdl.qdl::DOUBLE - 40.0)"
            " + abs(qdl.qdl::DOUBLE - 120.0)) - 80.0)) + 1.0))"
        )
        score = (
            "((ln((s.n_docs::DOUBLE + 1.0) / (d.df::DOUBLE + 1.0)) + 1.0)"
            f" * {tf} * {norm})"
        )
    elif mode == "dfr_gb2":
        lam = "((d.ttf::DOUBLE + 1.0) / (s.n_docs::DOUBLE + (d.ttf::DOUBLE + 1.0)))"
        a = f"(ln({lam} + 1.0) / ln(2.0))"
        b = f"(ln((1.0 + {lam}) / {lam}) / ln(2.0))"
        ae1p = "((d.ttf::DOUBLE + 2.0) / (d.df::DOUBLE + 1.0))"
        score = f"(1.0 * (({b} - ({b} - {a}) / (1.0 + {_TFN_H2})) * {ae1p}))"
    elif mode == "ib_ll":
        lam = "(((d.df::DOUBLE + 1.0) / (s.n_docs::DOUBLE + 1.0))::REAL::DOUBLE)"
        score = f"(1.0 * -ln({lam} / ({_TFN_H2} + {lam})))"
    elif mode == "dfi_chi2":
        e = "(((d.ttf::DOUBLE + 1.0) * qdl.qdl::DOUBLE) / (s.sum_ttf::DOUBLE + 1.0))"
        m = f"(((tf.freq::DOUBLE - {e}) * (tf.freq::DOUBLE - {e})) / {e})"
        score = (
            f"(CASE WHEN tf.freq::DOUBLE <= {e} THEN 0.0"
            f" ELSE (1.0 * (ln({m} + 1.0) / ln(2.0))) END)"
        )
    elif mode == "axiomatic_f2exp":
        den = "(0.25 + (0.25 * qdl.qdl::DOUBLE) / s.avgdl)"
        idf = "pow((s.n_docs::DOUBLE + 1.0) / d.df::DOUBLE, 0.35)"
        score = (
            f"greatest(0.0, 1.0 * ((tf.freq::DOUBLE"
            f" / (tf.freq::DOUBLE + {den})) * {idf}))"
        )
    elif mode == "indri_dirichlet":
        cp = "(d.ttf::DOUBLE / s.sum_ttf::DOUBLE)"
        score = (
            f"(1.0 * ln((tf.freq::DOUBLE + (2000.0 * {cp}))"
            f" / (qdl.qdl::DOUBLE + 2000.0)))"
        )
    elif mode == "dfr_inl2":
        a = "(ln((s.n_docs::DOUBLE + 1.0) / (d.df::DOUBLE + 0.5)) / ln(2.0))"
        score = f"(1.0 * ({a} * (1.0 - 1.0 / (1.0 + {_TFN_H2}))))"
    elif mode == "ib_spl":
        lam = "(((d.ttf::DOUBLE + 1.0) / (s.n_docs::DOUBLE + 1.0))::REAL::DOUBLE)"
        q = f"(1.0 - 1.0 / ({_TFN_H2} + 1.0))"
        score = (
            f"(1.0 * -ln((pow({lam}, {q}) - {lam}) / (1.0 - {lam})))"
        )
    elif mode == "axiomatic_f1log":
        tfc = "(1.0 + ln(1.0 + ln(tf.freq::DOUBLE + 1.0)))"
        lnc = "((s.avgdl + 0.25) / (s.avgdl + (qdl.qdl::DOUBLE * 0.25)))"
        idf = "ln((s.n_docs::DOUBLE + 1.0) / d.df::DOUBLE)"
        score = f"greatest(0.0, 1.0 * ({tfc} * {lnc} * {idf}))"
    elif mode == "multi_bm25_classic":
        idf = _idf("d.df")
        bm25 = f"({idf} - {idf} / {_tf_part('tf.freq', 'qdl.qdl')})"
        classic = (
            "((ln((s.n_docs::DOUBLE + 1.0) / (d.df::DOUBLE + 1.0)) + 1.0)"
            " * sqrt(tf.freq::DOUBLE) * (1.0 / sqrt(qdl.qdl::DOUBLE)))"
        )
        score = f"({bm25} + {classic})"
    else:  # pragma: no cover
        raise ValueError(mode)
    return f"""
{name} AS (
  SELECT tf.doc_id, {score} AS score
  FROM tf
  JOIN qdl USING (doc_id),
       stats s,
       (SELECT df, ttf FROM dft WHERE term = '{term}') d
  WHERE tf.term = '{term}'
)"""


def _sql_similarity(mode: str, terms: list[str], k: int = 10) -> str:
    aliases = [f"sim_{i}" for i in range(len(terms))]
    ctes = ", ".join(_sim_term_cte(mode, a, t) for a, t in zip(aliases, terms))
    joins = aliases[0]
    for a in aliases[1:]:
        joins += f" FULL JOIN {a} USING (doc_id)"
    inner = f"SELECT doc_id, {_sum_chain(aliases)} AS score FROM {joins}"
    return f"WITH {_BASE_CTES}, {ctes} " + _topk_wrap(inner, k)


def _q_indri_and(spark, sf_dir, k: int = 10):
    """IndriAndQuery (core/search/IndriAndQuery.java, IndriAndScorer.java:
    45-73): boost-weighted mean of Indri Dirichlet log-probs over the
    union of 'stream'/'window' postings; absent terms contribute the
    smoothing score ln(mu·cp/(dl+mu)) at that doc's norm."""
    s = Searcher(
        spark, _ensure_index(spark, sf_dir), analyzer="simple",
        mode="indri_dirichlet",
    )
    out = s.indri_and(["stream", "window"], boosts=[1.5, 1.0], k=k)
    dm = s._docmap_global().select("docid", "url")
    return out.join(dm, "docid").select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _sql_indri_and(terms: list[str], boosts: list[float], k: int = 10) -> str:
    """One unified per-term expression ln((freq_or_0 + mu·cp)/(qdl+mu)) —
    matched and smoothing cases differ only in freq, exactly like
    TermScorer.score vs smoothingScore."""
    sel_terms = ", ".join(f"'{t}'" for t in terms)
    parts, joins = [], []
    for i, (t, b) in enumerate(zip(terms, boosts)):
        cp = f"(d{i}.ttf::DOUBLE / s.sum_ttf::DOUBLE)"
        parts.append(
            f"({b!r} * ln((coalesce(f{i}.freq, 0)::DOUBLE + (2000.0 * {cp}))"
            f" / (qdl.qdl::DOUBLE + 2000.0)))"
        )
        joins.append(
            f"CROSS JOIN (SELECT ttf FROM dft WHERE term = '{t}') d{i}\n"
            f"LEFT JOIN (SELECT doc_id, freq FROM tf WHERE term = '{t}') f{i}"
            f" ON u.doc_id = f{i}.doc_id"
        )
    bsum = sum(boosts)
    inner = f"""SELECT u.doc_id, (({" + ".join(parts)}) / {bsum!r}) AS score
FROM (SELECT DISTINCT doc_id FROM tf WHERE term IN ({sel_terms})) u
JOIN qdl ON u.doc_id = qdl.doc_id
CROSS JOIN stats s
{chr(10).join(joins)}"""
    return f"WITH {_BASE_CTES} " + _topk_wrap(inner, k)


def _q_covering(spark, sf_dir, k: int = 10):
    """CoveringQuery: ≥ (1 + doc_len % 3) of {stream, window, scan} must
    match — the per-doc threshold is a LongValuesSource over a stored field
    (queries/CoveringQuery.java:47)."""
    from .search.query import TermQuery

    s = _searcher(spark, sf_dir)
    out = s.covering(
        [TermQuery("stream"), TermQuery("window"), TermQuery("scan")],
        min_match_expr="1 + (doc_len % 3)",
        k=k,
    )
    dm = s._docmap_global().select("docid", "url")
    return out.join(dm, "docid").select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _sql_covering(terms: list[str], k: int = 10) -> str:
    aliases = [f"s_{i}" for i in range(len(terms))]
    ctes = ", ".join(_term_scores_cte(a, t) for a, t in zip(aliases, terms))
    joins = aliases[0]
    for a in aliases[1:]:
        joins += f" FULL JOIN {a} USING (doc_id)"
    matched = " + ".join(
        f"(CASE WHEN {a}.score IS NOT NULL THEN 1 ELSE 0 END)" for a in aliases
    )
    inner = f"""SELECT doc_id, score FROM (
  SELECT doc_id, {_sum_chain(aliases)} AS score, ({matched}) AS matched
  FROM {joins}
) m JOIN qdl USING (doc_id)
WHERE m.matched >= 1 + (qdl.dl % 3)"""
    return f"WITH {_BASE_CTES}, {ctes} " + _topk_wrap(inner, k)


# --- field sort / rescore / function score ----------------------------------

def _q_sort_by_field(spark, sf_dir, k: int = 20):
    s = _searcher(spark, sf_dir)
    out = s.search_sorted_by("stream", sort_col="doc_len", ascending=False, k=k)
    dm = s._docmap_global().select("docid", "url")
    return out.join(dm, "docid").select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.col("doc_len").cast("long").alias("dl"),
    )


_SQL_SORT_BY_FIELD = f"""WITH {_BASE_CTES}
SELECT doc_id, dl FROM (
  SELECT d.doc_id, dl.dl
  FROM documents d JOIN dl USING (doc_id)
  WHERE EXISTS (SELECT 1 FROM tf WHERE term = 'stream' AND tf.doc_id = d.doc_id)
  ORDER BY dl.dl DESC, d.doc_id ASC LIMIT 20
)"""


def _q_sort_page2(spark, sf_dir, k: int = 10):
    """Field-sort paging (IndexSearcher.searchAfter with a Sort): page 2 of
    the doc_len-descending sort, anchored on page 1's last FieldDoc."""
    s = _searcher(spark, sf_dir)
    p1 = s.search_sorted_by(
        "stream", sort_col="doc_len", ascending=False, k=10
    ).collect()
    if not p1:
        return spark.createDataFrame([], "doc_id long, dl long")
    anchor = (float(p1[-1]["doc_len"]), int(p1[-1]["docid"]))
    out = s.search_sorted_by(
        "stream", sort_col="doc_len", ascending=False, k=k, after=anchor
    )
    dm = s._docmap_global().select("docid", "url")
    return out.join(dm, "docid").select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.col("doc_len").cast("long").alias("dl"),
    )


_SQL_SORT_PAGE2 = f"""WITH {_BASE_CTES}
SELECT doc_id, dl FROM (
  SELECT d.doc_id, dl.dl
  FROM documents d JOIN dl USING (doc_id)
  WHERE EXISTS (SELECT 1 FROM tf WHERE term = 'stream' AND tf.doc_id = d.doc_id)
  ORDER BY dl.dl DESC, d.doc_id ASC LIMIT 10 OFFSET 10
)"""


def _q_rescore(spark, sf_dir, k: int = 10):
    s = _searcher(spark, sf_dir)
    out = s.rescore(
        "stream OR window", '"data stream"', k=k, window=50, weight=2.0
    )
    dm = s._docmap_global().select("docid", "url")
    return out.join(dm, "docid").select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _sql_rescore(k: int = 10) -> str:
    or_part = _sql_or(["stream", "window"], k=50, raw=True)
    phrase_part = _sql_phrase("data", "stream", k=1_000_000, raw=True)
    return f"""
WITH first AS (
  SELECT doc_id, score AS s1 FROM ({or_part})
),
second AS (
  SELECT doc_id, score AS s2 FROM ({phrase_part})
)
SELECT doc_id, round(s1 + 2.0 * coalesce(s2, 0.0), 4) AS score
FROM first LEFT JOIN second USING (doc_id)
ORDER BY (s1 + 2.0 * coalesce(s2, 0.0)) DESC, doc_id ASC LIMIT {k}"""


def _q_function_score(spark, sf_dir, k: int = 10):
    s = _searcher(spark, sf_dir)
    out = s.function_score("stream", "score * ln(2.0 + doc_len)", k=k)
    dm = s._docmap_global().select("docid", "url")
    return out.join(dm, "docid").select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _sql_function_score(k: int = 10) -> str:
    return f"""WITH {_BASE_CTES}, {_term_scores_cte('s_a', 'stream')}
SELECT doc_id, round(score, 4) AS score FROM (
  SELECT s_a.doc_id, (s_a.score * ln(2.0 + dl.dl)) AS score
  FROM s_a JOIN dl USING (doc_id)
  ORDER BY score DESC, doc_id ASC LIMIT {k}
)"""


# ---------------------------------------------------------------------------
# stats / structure queries
# ---------------------------------------------------------------------------

def _q_join_max(spark, sf_dir, k: int = 10):
    """Query-time join (JoinUtil.createJoinQuery, ScoreMode.Max): from =
    every doc matching "stream AND window" with its BM25 score, join value
    = the doc's ``source``, to = every doc sharing that source, scored by
    the per-source max from-score. Max is order-independent, so the float
    result is exactly reproducible in SQL."""
    from .search.join import join_search

    s = _searcher(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    n = docs.count()
    hits = s.search("stream AND window", k=n, with_url=True).select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.col("score"),
    )
    side = docs.select("doc_id", "source")
    out = join_search(hits, side, "source", side, "source", score_mode="max")
    return (
        out.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", F.round("score", 4).alias("score"))
    )


def _sql_join_max(terms: list[str], k: int = 10) -> str:
    aliases = [f"s_{i}" for i in range(len(terms))]
    ctes = ", ".join(_term_scores_cte(a, t) for a, t in zip(aliases, terms))
    joins = aliases[0]
    for a in aliases[1:]:
        joins += f" JOIN {a} USING (doc_id)"
    return f"""WITH {_BASE_CTES}, {ctes},
fh AS (SELECT doc_id, {_sum_chain(aliases)} AS score FROM {joins}),
vals AS (
  SELECT d.source AS src, max(f.score) AS score
  FROM fh f JOIN documents d USING (doc_id) GROUP BY d.source
),
th AS (
  SELECT d.doc_id, v.score FROM documents d JOIN vals v ON d.source = v.src
)
""" + _topk_wrap("SELECT doc_id, score FROM th", k)


def _q_term_stats(spark, sf_dir):
    s = _searcher(spark, sf_dir)
    return (
        s.reader.term_dict.groupBy("term")
        .agg(F.sum("df").alias("df"), F.sum("ttf").alias("ttf"))
    )


_SQL_TERM_STATS = f"WITH {_BASE_CTES} SELECT term, df, ttf FROM dft"


def _q_high_freq_terms(spark, sf_dir, k: int = 15):
    from .search.misc import high_freq_terms

    s = _searcher(spark, sf_dir)
    return high_freq_terms(s.reader, k=k, by="ttf")


_SQL_HIGH_FREQ_TERMS = (
    f"WITH {_BASE_CTES} "
    "SELECT term, df, ttf FROM dft ORDER BY ttf DESC, term ASC LIMIT 15"
)


def _q_collection_stats(spark, sf_dir):
    s = _searcher(spark, sf_dir)
    doc_count, sum_ttf = s.reader.global_stats
    n_terms = s.reader.term_dict.select("term").distinct().count()
    avgdl = sum_ttf / doc_count
    return spark.createDataFrame(
        [(doc_count, sum_ttf, n_terms, round(avgdl, 6))],
        "n_docs long, sum_ttf long, n_terms long, avgdl double",
    )


_SQL_COLLECTION_STATS = f"""WITH {_BASE_CTES}
SELECT s.n_docs AS n_docs, s.sum_ttf AS sum_ttf,
       (SELECT count(*) FROM dft)::BIGINT AS n_terms,
       round(s.avgdl, 6) AS avgdl
FROM stats s"""


def _q_doc_lengths(spark, sf_dir):
    s = _searcher(spark, sf_dir)
    decode = spark.createDataFrame(
        [(i, int(v)) for i, v in enumerate(BYTE4_DECODE_TABLE)],
        "norm int, qdl long",
    )
    return (
        s.reader.docmap.join(F.broadcast(decode), "norm")
        .select(
            F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
            F.col("doc_len").cast("long").alias("dl"),
            "qdl",
        )
    )


_SQL_DOC_LENGTHS = f"WITH {_BASE_CTES} SELECT doc_id, dl, qdl FROM qdl"


def _mk_count(qs: str):
    def run(spark, sf_dir):
        n = _searcher(spark, sf_dir).count(qs)
        return spark.createDataFrame([(n,)], "n long")
    return run


def _sql_count_and(terms: list[str]) -> str:
    conds = " AND ".join(
        f"EXISTS (SELECT 1 FROM tf WHERE term = '{t}' AND tf.doc_id = d.doc_id)"
        for t in terms
    )
    return f"WITH {_BASE_CTES} SELECT count(*)::BIGINT AS n FROM documents d WHERE {conds}"


def _sql_count_or(terms: list[str]) -> str:
    conds = " OR ".join(
        f"EXISTS (SELECT 1 FROM tf WHERE term = '{t}' AND tf.doc_id = d.doc_id)"
        for t in terms
    )
    return f"WITH {_BASE_CTES} SELECT count(*)::BIGINT AS n FROM documents d WHERE {conds}"


# --- facet / grouping over search results ----------------------------------

_ALL_K = 1_000_000  # "no limit" at gate scale (Spark limit() takes a JVM int)


def _q_facet_lang(spark, sf_dir):
    hits = _hits(spark, sf_dir, "stream OR window", k=_ALL_K).select("doc_id")
    docs = _docs(spark, sf_dir)
    return (
        docs.join(F.broadcast(hits), "doc_id")
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"))
    )


_SQL_FACET_LANG = f"""WITH {_BASE_CTES}
SELECT lang, count(*)::BIGINT AS n_docs FROM documents d
WHERE EXISTS (SELECT 1 FROM tf WHERE term = 'stream' AND tf.doc_id = d.doc_id)
   OR EXISTS (SELECT 1 FROM tf WHERE term = 'window' AND tf.doc_id = d.doc_id)
GROUP BY lang"""


def _q_facet_sampled(spark, sf_dir):
    """RandomSamplingFacetsCollector analog: lang facets over a
    deterministic 20% sample of the 'stream OR window' hit set, amortized
    ×5 back to population scale (facets.sampled_facets)."""
    from .search.facets import sampled_facets

    hits = _hits(spark, sf_dir, "stream OR window", k=_ALL_K).select("doc_id")
    docs = _docs(spark, sf_dir).join(F.broadcast(hits), "doc_id")
    return sampled_facets(docs, "lang", rate_pct=20)


_SQL_FACET_SAMPLED = f"""WITH {_BASE_CTES}
SELECT lang, (count(*) * 5.0)::DOUBLE AS n_docs FROM documents d
WHERE (EXISTS (SELECT 1 FROM tf WHERE term = 'stream' AND tf.doc_id = d.doc_id)
    OR EXISTS (SELECT 1 FROM tf WHERE term = 'window' AND tf.doc_id = d.doc_id))
  AND ((d.doc_id * 48271) % 100) < 20
GROUP BY lang"""


def _q_facet_assoc(spark, sf_dir):
    """Association facets over the hit set: per lang, Σ n_chars + count
    (TaxonomyFacetSumValueSource semantics)."""
    from .search.facets import association_facets

    hits = _hits(spark, sf_dir, "stream OR window", k=_ALL_K).select("doc_id")
    docs = _docs(spark, sf_dir).join(F.broadcast(hits), "doc_id")
    return association_facets(docs, "lang", "n_chars")


_SQL_FACET_ASSOC = f"""WITH {_BASE_CTES}
SELECT lang, sum(n_chars)::BIGINT AS sum_assoc, count(*)::BIGINT AS n_docs
FROM documents d
WHERE EXISTS (SELECT 1 FROM tf WHERE term = 'stream' AND tf.doc_id = d.doc_id)
   OR EXISTS (SELECT 1 FROM tf WHERE term = 'window' AND tf.doc_id = d.doc_id)
GROUP BY lang"""


def _q_suggest_infix(spark, sf_dir):
    """AnalyzingInfixSuggester: suggestion table = (doc text, n_chars as
    weight); query "data st" — 'data' must occur as a token, 'st' as a
    token prefix; weight DESC."""
    from .search.spell import infix_suggest

    sugg = _docs(spark, sf_dir).select(
        "text", F.col("n_chars").cast("long").alias("weight")
    )
    return infix_suggest(sugg, "data st", k=10)


def _sql_suggest_infix(k: int = 10) -> str:
    arr = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')"
    return f"""SELECT text, n_chars::BIGINT AS weight FROM documents
WHERE list_contains({arr}, 'data')
  AND len(list_filter({arr}, x -> x LIKE 'st%')) > 0
ORDER BY weight DESC, text ASC LIMIT {k}"""


def _q_suggest_blended(spark, sf_dir, k: int = 10):
    """BlendedInfixSuggester: weight blends with the first matched-token
    position (reciprocal), raw-prefix suggestions keep coefficient 1,
    zero/small weights adjust per the reference before blending."""
    from .search.spell import blended_infix_suggest

    sugg = _docs(spark, sf_dir).select(
        "text", (F.col("n_chars") % 97).cast("long").alias("weight")
    )
    return blended_infix_suggest(sugg, "data st", k=k, blender="reciprocal")


def _sql_suggest_blended(k: int = 10) -> str:
    arr = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')"
    minpos = f"""(
      SELECT min(u.i) - 1 FROM (
        SELECT unnest({arr}) AS tok, generate_subscripts({arr}, 1) AS i
      ) u WHERE u.tok = 'data' OR u.tok LIKE 'st%'
    )"""
    return f"""WITH m AS (
  SELECT text, (n_chars % 97)::BIGINT AS w0,
         CASE WHEN text LIKE 'data st%' THEN 1.0
              ELSE 1.0 / ({minpos} + 1.0) END AS coef
  FROM documents
  WHERE list_contains({arr}, 'data')
    AND len(list_filter({arr}, x -> x LIKE 'st%')) > 0
),
adj AS (
  SELECT text, coef,
         CASE WHEN w0 = 0 THEN 1 ELSE w0 END AS w1
  FROM m
),
sc AS (
  SELECT text,
         trunc((CASE WHEN w1 < 10 AND w1 > -10 THEN w1 * 10 ELSE w1 END)::DOUBLE
               * coef)::BIGINT AS score
  FROM adj
)
SELECT text, score FROM sc ORDER BY score DESC, text ASC LIMIT {k}"""


_AS_STOPS = ("the", "a", "of", "and", "in", "to")


def _q_suggest_analyzing(spark, sf_dir, k: int = 10):
    """AnalyzingSuggester: suggestion table = (doc text, n_chars weight);
    query "the table s" analyzes to ["table","s"] (stop removal), so a
    suggestion matches when its FIRST analyzed token is 'table' and its
    second starts with 's' — analyzed-prefix completion returning the
    surface text."""
    from .search.spell import analyzing_suggest

    sugg = _docs(spark, sf_dir).select(
        "text", F.col("n_chars").cast("long").alias("weight")
    )
    return analyzing_suggest(
        sugg, "the table s", k=k, stopwords=frozenset(_AS_STOPS)
    )


def _sql_suggest_analyzing(k: int = 10) -> str:
    stops = ", ".join(f"'{w}'" for w in _AS_STOPS)
    arr = (
        "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), "
        f"x -> x <> '' AND x NOT IN ({stops}))"
    )
    return f"""SELECT text, n_chars::BIGINT AS weight FROM documents
WHERE len({arr}) >= 2
  AND {arr}[1] = 'table'
  AND {arr}[2] LIKE 's%'
ORDER BY weight DESC, text ASC LIMIT {k}"""


def _q_suggest_fuzzy(spark, sf_dir, k: int = 10):
    """FuzzySuggester (suggest/analyzing/FuzzySuggester.java:66):
    suggestion table = term vocabulary weighted by docFreq
    (LuceneDictionary), query "strem" — a 1-edit typo whose automaton
    accepts any completion SOME PREFIX of which is within 1 edit (first
    char exact). transpositions=False so the oracle's plain levenshtein()
    is the identical metric."""
    from .pipeline.dedup import tokens as _tokens
    from .search.spell import fuzzy_suggest

    sugg = (
        _tokens(_docs(spark, sf_dir))
        .groupBy("term")
        .agg(F.count_distinct("doc_id").cast("long").alias("weight"))
        .select(F.col("term").alias("text"), "weight")
    )
    return fuzzy_suggest(
        sugg, "strem", k=k, max_edits=1, non_fuzzy_prefix=1,
        transpositions=False,
    )


def _sql_suggest_fuzzy(q: str = "strem", k: int = 10) -> str:
    lq = len(q)
    lev = lambda n: f"levenshtein('{q}', substr(term, 1, {n}))"  # noqa: E731
    return f"""WITH {_BASE_CTES},
vocab AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS weight FROM toks GROUP BY term
)
SELECT term AS text, weight FROM vocab
WHERE substr(term, 1, 1) = '{q[0]}'
  AND length(term) >= {lq - 1}
  AND least({lev(lq - 1)}, {lev(lq)}, {lev(lq + 1)}) <= 1
ORDER BY weight DESC, text ASC LIMIT {k}"""


def _q_suggest_freetext(spark, sf_dir):
    from .search.spell import freetext_suggest

    return freetext_suggest(_docs(spark, sf_dir), "data s", k=10)


_SQL_SUGGEST_FREETEXT = f"""WITH {_BASE_CTES},
big AS (
  SELECT a.term AS w1, b.term AS w2, count(*)::BIGINT AS cnt2
  FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  GROUP BY a.term, b.term
),
uni AS (SELECT term, count(*)::BIGINT AS cnt FROM toks GROUP BY term),
tot AS (SELECT sum(cnt)::BIGINT AS t FROM uni),
ctx AS (SELECT coalesce((SELECT cnt FROM uni WHERE term = 'data'), 0) AS c),
scored AS (
  SELECT u.term,
         CASE WHEN b.cnt2 IS NOT NULL AND ctx.c > 0
              THEN b.cnt2::DOUBLE / ctx.c::DOUBLE
              ELSE 0.4 * (u.cnt::DOUBLE / tot.t::DOUBLE) END AS score
  FROM uni u
  LEFT JOIN (SELECT w2 AS term, cnt2 FROM big WHERE w1 = 'data') b USING (term),
       tot, ctx
  WHERE u.term LIKE 's%'
)
SELECT term, round(score, 6) AS score FROM (
  SELECT * FROM scored ORDER BY score DESC, term ASC LIMIT 10
)"""


# --- FieldMaskingSpanQuery (queries/spans/FieldMaskingSpanQuery.java) --------
# Cross-field SpanNear on the mf2 index: the title field is the body's
# first 8 tokens re-analyzed (positions 0..7 — PARALLEL to body's 0..7,
# the denormalized-children precondition), so
#   SpanNear([title:data, mask(body:stream -> title)], slop=0, ordered)
# matches docs whose body has 'data stream' starting within the title
# window. Scoring follows the reference caveat exactly: real term stats
# (df of each term in its OWN field), collection stats from the first
# SORTED term's field (body␟stream < title␟data → body stats), norms from
# the first CLAUSE's field (title).


def _q_span_field_masking(spark, sf_dir, k: int = 10):
    from .index.builder import FIELD_SEP
    from .search.spans import FieldMaskedSpan, SpanNear, SpanTerm

    s = _mf_searcher(spark, sf_dir)
    q = SpanNear(
        (
            SpanTerm("title" + FIELD_SEP + "data"),
            FieldMaskedSpan(SpanTerm("body" + FIELD_SEP + "stream"), "title"),
        ),
        slop=0,
        in_order=True,
    )
    h = s.search(q, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _sql_span_field_masking(k: int = 10) -> str:
    idf_b = _idf("(SELECT df FROM b_dft WHERE term = 'stream')")
    idf_t = _idf("(SELECT df FROM t_dft WHERE term = 'data')")
    return f"""WITH {_BASE_CTES}, {_MF_CTES},
pa AS (SELECT doc_id, pos FROM t_toks WHERE term = 'data'),
pb AS (SELECT doc_id, pos FROM toks WHERE term = 'stream'),
sp AS (
  SELECT pa.doc_id, pa.pos AS spos, min(pb.pos) AS y
  FROM pa JOIN pb ON pb.doc_id = pa.doc_id AND pb.pos > pa.pos
  GROUP BY pa.doc_id, pa.pos
),
iv AS (
  SELECT doc_id, y - spos - 1 AS w FROM sp WHERE y - spos - 1 <= 0
),
pf AS (SELECT doc_id, {_span_freq_expr([0])} AS freq FROM iv GROUP BY doc_id),
ps AS (
  SELECT pf.doc_id, (w.w - w.w / {_tf_part("pf.freq", "qdl.qdl")}) AS score
  FROM pf JOIN t_qdl qdl USING (doc_id),
       (SELECT n_docs, avgdl FROM b_stats) s,
       (SELECT ({idf_b} + {idf_t})
        FROM (SELECT n_docs FROM b_stats) s) w(w)
  WHERE pf.freq > 0
)
""" + _topk_wrap("SELECT doc_id, score FROM ps", k)


# --- NGramPhraseQuery (search/NGramPhraseQuery.java) -------------------------
# Index: fixed 2-gram character tokenizer over documents.text (sequential
# positions — the NGramTokenizer field shape). Query: phrase "data s" grams
# to da/0 at/1 ta/2 'a '/3 ' s'/4; the rewrite keeps da/0 ta/2 ' s'/4 —
# 3 postings instead of 5 — and matching is provably identical because
# overlapping character grams imply the dropped ones. The oracle replays
# gram tokenization, the GAPPED phrase match, and BM25 over the KEPT
# terms' stats (the reference's rewritten-query scoring).

_NGRAM_PHRASE_TEXT = "data s"


def _ensure_ngram_index(spark, sf_dir: str) -> str:
    from .analysis.ngram import register_ngram_tokenizer

    register_ngram_tokenizer("gate_ngram2", 2)
    name = sf_dir.strip("/").replace("/", "_") + "_ngram2"
    idx = f"{_GATE_ROOT}/{_FORMAT_V}/{name}"
    probe = os.path.join(idx, "segment_manifest")
    if not os.path.exists(probe):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            F.format_string("doc://%012d", F.col("doc_id")).alias("url"),
            "text",
        )
        build_index(
            spark, docs, idx, num_segments=2, analyzer="gate_ngram2",
            stopwords=None, index_positions=True,
        )
    return idx


def _q_ngram_phrase(spark, sf_dir, k: int = 10):
    from .search.query import ngram_phrase

    q = ngram_phrase(_NGRAM_PHRASE_TEXT, 2)
    assert q.positions == (0, 2, 4), "rewrite must keep every 2nd + last gram"
    s = Searcher(spark, _ensure_ngram_index(spark, sf_dir), mode="double")
    h = s.search(q, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _sql_ngram_phrase(k: int = 10) -> str:
    t = _NGRAM_PHRASE_TEXT.lower()
    grams = [t[i : i + 2] for i in range(len(t) - 1)]
    keep = [(grams[i], i) for i in range(len(grams)) if i % 2 == 0 or i == len(grams) - 1]
    (g0, _p0), *rest = keep
    joins = "\n  ".join(
        f"JOIN gtoks j{n} ON j{n}.doc_id = a.doc_id AND j{n}.pos = a.pos + {p}"
        f" AND j{n}.term = '{g}'"
        for n, (g, p) in enumerate(rest)
    )
    idfs = " + ".join(
        _idf(f"(SELECT df FROM gdft WHERE term = '{g}')") for g, _p in keep
    )
    return f"""WITH gbase AS (SELECT doc_id, lower(text) AS txt FROM documents),
gtoks AS (
  SELECT doc_id, i - 1 AS pos, substr(txt, i, 2) AS term
  FROM gbase, LATERAL unnest(generate_series(1, length(txt) - 1)) AS u(i)
),
stats AS (
  SELECT (SELECT count(*) FROM gbase)::BIGINT AS n_docs,
         (SELECT sum(greatest(length(txt) - 1, 0))::DOUBLE / count(*)
          FROM gbase) AS avgdl
),
norm_tbl AS (SELECT unnest([{_NORM_VALS}]) AS v),
qdl AS (
  SELECT doc_id,
         (SELECT max(v) FROM norm_tbl
          WHERE v <= greatest(length(gbase.txt) - 1, 0)) AS qdl
  FROM gbase
),
gdft AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM gtoks GROUP BY term),
pf AS (
  SELECT a.doc_id, count(*)::BIGINT AS freq
  FROM gtoks a
  {joins}
  WHERE a.term = '{g0}'
  GROUP BY a.doc_id
),
ps AS (
  SELECT pf.doc_id,
         (w.w - w.w / {_tf_part("pf.freq", "qdl.qdl")}) AS score
  FROM pf JOIN qdl USING (doc_id),
       stats s,
       (SELECT ({idfs}) AS w FROM stats s) w
)
""" + _topk_wrap("SELECT doc_id, score FROM ps", k)


_REGEX_SUGG_PAT = "[a-z]+ (data|table)"


def _q_suggest_regex(spark, sf_dir, k: int = 10):
    """RegexCompletionQuery (suggest/document/RegexCompletionQuery.java:40):
    the regex consumes a PREFIX of the suggestion's lowercased surface
    form; ranking weight DESC, text ASC."""
    from .search.spell import regex_completion_suggest

    sugg = _docs(spark, sf_dir).select(
        "text", F.col("n_chars").cast("long").alias("weight")
    )
    return regex_completion_suggest(sugg, _REGEX_SUGG_PAT, k=k)


def _sql_suggest_regex(k: int = 10) -> str:
    return f"""SELECT text, n_chars::BIGINT AS weight FROM documents
WHERE regexp_matches(lower(text), '^(?:{_REGEX_SUGG_PAT})')
ORDER BY weight DESC, text ASC LIMIT {k}"""


_CTX_BOOSTS = {"en": 2.0, "de": 1.5, "fr": 1.0}


def _q_suggest_context(spark, sf_dir, k: int = 10):
    """ContextQuery over a PrefixCompletionQuery (suggest/document/
    ContextQuery.java:63 + ContextSuggestField): suggestions carry
    contexts [lang, source]; the query boosts en/de/fr — a doc outside
    those contexts is dropped, a match scores weight * boost."""
    from .search.spell import context_suggest

    sugg = _docs(spark, sf_dir).select(
        "text",
        F.col("n_chars").cast("long").alias("weight"),
        F.array("lang", "source").alias("contexts"),
    )
    return context_suggest(sugg, "dat", _CTX_BOOSTS, k=k)


def _sql_suggest_context(k: int = 10) -> str:
    arr = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')"
    boosts = " ".join(
        f"WHEN '{c}' THEN {b!r}" for c, b in sorted(_CTX_BOOSTS.items())
    )
    langs = ", ".join(f"'{c}'" for c in sorted(_CTX_BOOSTS))
    return f"""SELECT text,
       round(n_chars::DOUBLE * (CASE lang {boosts} END), 4) AS score
FROM documents
WHERE len({arr}) >= 1 AND {arr}[1] LIKE 'dat%' AND lang IN ({langs})
ORDER BY score DESC, text ASC LIMIT {k}"""


def _q_facet_taxonomy(spark, sf_dir):
    """Taxonomy facets with ancestor rollup over the hits of
    "stream OR window"; path = lang/source."""
    from .search.facets import taxonomy_facets

    hits = _hits(spark, sf_dir, "stream OR window", k=_ALL_K).select("doc_id")
    d = _docs(spark, sf_dir).join(F.broadcast(hits), "doc_id")
    return taxonomy_facets(
        d.select(F.concat_ws("/", "lang", "source").alias("path")), "path"
    )


def _sql_facet_taxonomy() -> str:
    return f"""WITH {_BASE_CTES},
base AS (
  SELECT lang, source FROM documents d
  WHERE EXISTS (SELECT 1 FROM tf WHERE term = 'stream' AND tf.doc_id = d.doc_id)
     OR EXISTS (SELECT 1 FROM tf WHERE term = 'window' AND tf.doc_id = d.doc_id)
)
SELECT lang AS path, count(*)::BIGINT AS n_docs FROM base GROUP BY lang
UNION ALL
SELECT lang || '/' || source, count(*)::BIGINT FROM base GROUP BY lang, source"""


_DRILL = {"lang": "en", "source": "src13"}


def _q_facet_drill_sideways(spark, sf_dir):
    """DrillSideways over the hits of "stream OR window" with drill-down
    lang=en AND source=src13: per-dim counts with the other dim's filter
    applied but not the dim's own, plus the all-constraints hit count."""
    from .search.facets import drill_sideways

    hits = _hits(spark, sf_dir, "stream OR window", k=_ALL_K).select("doc_id")
    docs = _docs(spark, sf_dir)
    return drill_sideways(docs.join(F.broadcast(hits), "doc_id"), _DRILL)


def _sql_drill_sideways() -> str:
    # deliberately per-dim re-scans (structurally different from the
    # engine's one-pass stacked aggregation)
    lang, src = _DRILL["lang"], _DRILL["source"]
    return f"""WITH {_BASE_CTES},
base AS (
  SELECT d.* FROM documents d
  WHERE EXISTS (SELECT 1 FROM tf WHERE term = 'stream' AND tf.doc_id = d.doc_id)
     OR EXISTS (SELECT 1 FROM tf WHERE term = 'window' AND tf.doc_id = d.doc_id)
)
SELECT 'lang' AS dim, lang AS value, count(*)::BIGINT AS n_docs
FROM base WHERE source = '{src}' GROUP BY lang
UNION ALL
SELECT 'source', source, count(*)::BIGINT
FROM base WHERE lang = '{lang}' GROUP BY source
UNION ALL
SELECT '__drilldown__', '', count(*)::BIGINT
FROM base WHERE lang = '{lang}' AND source = '{src}'"""


_NCHAR_RANGES = [
    ("short", 0, 600),       # [0, 600)
    ("medium", 400, 1200),   # [400, 1200) — overlaps "short" on purpose
    ("long", 1200, 1 << 40),
]


def _q_facet_ranges(spark, sf_dir):
    """LongRangeFacetCounts over the hits of "stream OR window": each range
    counted independently (overlaps allowed), zero-count ranges present."""
    from .search.facets import LongRange, range_facets

    hits = _hits(spark, sf_dir, "stream OR window", k=_ALL_K).select("doc_id")
    docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
    joined = docs.join(F.broadcast(hits), "doc_id")
    return range_facets(
        joined, "n_chars", [LongRange(lbl, lo, hi) for lbl, lo, hi in _NCHAR_RANGES]
    )


def _sql_facet_ranges() -> str:
    hit = """(SELECT d.doc_id, d.n_chars FROM documents d
  WHERE EXISTS (SELECT 1 FROM tf WHERE term = 'stream' AND tf.doc_id = d.doc_id)
     OR EXISTS (SELECT 1 FROM tf WHERE term = 'window' AND tf.doc_id = d.doc_id))"""
    selects = [
        f"SELECT '{lbl}' AS bucket, "
        f"coalesce(count(*) FILTER (WHERE n_chars >= {lo} AND n_chars < {hi}), 0)::BIGINT AS n_docs "
        f"FROM {hit}"
        for lbl, lo, hi in _NCHAR_RANGES
    ]
    return f"WITH {_BASE_CTES}\n" + "\nUNION ALL\n".join(selects)


def _q_group_topk_lang(spark, sf_dir):
    from pyspark.sql.window import Window

    hits = _hits(spark, sf_dir, "merge", k=_ALL_K)
    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        hits.join(docs, "doc_id")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("lang", "rk", "doc_id", F.round("score", 4).alias("score"))
    )


def _q_diversified(spark, sf_dir, k: int = 10, max_per_key: int = 2):
    from .search.grouping import diversified_topk

    hits = _hits(spark, sf_dir, "merge", k=_ALL_K)
    keys = _docs(spark, sf_dir).select("doc_id", "lang")
    out = diversified_topk(hits, keys, "lang", k=k, max_per_key=max_per_key)
    return out.select(
        "doc_id", "lang", "rank", F.round("score", 4).alias("score")
    )


_SQL_DIVERSIFIED = (
    f"WITH {_BASE_CTES}, {_term_scores_cte('s_a', 'merge')} "
    """
SELECT doc_id, lang, rank, round(score, 4) AS score FROM (
  SELECT doc_id, lang, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM (
    SELECT s_a.doc_id, d.lang, s_a.score,
           row_number() OVER (PARTITION BY d.lang
                              ORDER BY s_a.score DESC, s_a.doc_id ASC) AS rk
    FROM s_a JOIN documents d USING (doc_id)
  ) WHERE rk <= 2
) WHERE rank <= 10"""
)


def _q_group_heads(spark, sf_dir):
    from .search.grouping import all_group_heads

    hits = _hits(spark, sf_dir, "merge", k=_ALL_K)
    keys = _docs(spark, sf_dir).select("doc_id", "lang")
    out = all_group_heads(hits, keys, "lang")
    return out.select("lang", "doc_id", F.round("score", 4).alias("score"))


_SQL_GROUP_HEADS = (
    f"WITH {_BASE_CTES}, {_term_scores_cte('s_a', 'merge')} "
    """
SELECT lang, doc_id, round(score, 4) AS score FROM (
  SELECT d.lang, s_a.doc_id, s_a.score,
         row_number() OVER (PARTITION BY d.lang
                            ORDER BY s_a.score DESC, s_a.doc_id ASC) AS rk
  FROM s_a JOIN documents d USING (doc_id)
) WHERE rk = 1"""
)


def _q_all_groups(spark, sf_dir):
    from .search.grouping import all_groups_count

    hits = _hits(spark, sf_dir, "merge", k=_ALL_K)
    keys = _docs(spark, sf_dir).select("doc_id", "lang")
    return all_groups_count(hits, keys, "lang")


_SQL_ALL_GROUPS = (
    f"WITH {_BASE_CTES}, {_term_scores_cte('s_a', 'merge')} "
    """
SELECT d.lang, count(*)::BIGINT AS n_hits
FROM s_a JOIN documents d USING (doc_id) GROUP BY d.lang"""
)


def _q_distinct_values(spark, sf_dir):
    from .search.grouping import distinct_values_counts

    hits = _hits(spark, sf_dir, "merge", k=_ALL_K)
    docs = _docs(spark, sf_dir)
    return distinct_values_counts(
        hits,
        docs.select("doc_id", "lang"),
        "lang",
        docs.select("doc_id", "source"),
        "source",
        top_groups=3,
    )


_SQL_DISTINCT_VALUES = (
    f"WITH {_BASE_CTES}, {_term_scores_cte('s_a', 'merge')} "
    """
SELECT lang, n_distinct FROM (
  SELECT d.lang,
         count(DISTINCT d.source)::BIGINT AS n_distinct,
         max(s_a.score) AS head,
         row_number() OVER (ORDER BY max(s_a.score) DESC, d.lang ASC) AS rk
  FROM s_a JOIN documents d USING (doc_id) GROUP BY d.lang
) WHERE rk <= 3"""
)


_SQL_GROUP_TOPK_LANG = (
    f"WITH {_BASE_CTES}, {_term_scores_cte('s_a', 'merge')} "
    """
SELECT lang, rk, doc_id, round(score, 4) AS score FROM (
  SELECT d.lang, s_a.doc_id, s_a.score,
         row_number() OVER (PARTITION BY d.lang ORDER BY s_a.score DESC, s_a.doc_id ASC) AS rk
  FROM s_a JOIN documents d USING (doc_id)
) WHERE rk <= 3"""
)


# ---------------------------------------------------------------------------
# training-data pipeline ops (documents / embeddings / events)
# ---------------------------------------------------------------------------

from .pipeline import dedup as _dd
from .pipeline import eventops as _ev
from .pipeline import multimodal as _mm
from .pipeline import simsearch as _ss
from .pipeline import textstats as _ts


def _q_dedup_exact(spark, sf_dir):
    """Exact dedup over a corpus that provably CONTAINS duplicates: the
    synthetic documents table has no byte-identical texts, so the gate
    unions re-keyed copies of every 10th doc (doc_id+100000) — the
    duplicate groups are then exactly those pairs, and an engine that
    hashed or grouped wrongly fails on real rows instead of passing on an
    empty set."""
    base = _docs(spark, sf_dir)
    dups = base.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    return _dd.exact_dup_groups(base.unionByName(dups))


_SQL_DEDUP_EXACT = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
)
SELECT md5(text) AS text_md5, count(*)::BIGINT AS n_docs, min(doc_id) AS keep_id
FROM corpus GROUP BY 1 HAVING count(*) > 1"""

_SHINGLE_CTES = f"""
{_BASE_CTES},
sh0 AS (
  SELECT doc_id,
         term || ' ' || lead(term, 1) OVER w || ' ' || lead(term, 2) OVER w AS shingle
  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
sh AS (SELECT DISTINCT doc_id, shingle FROM sh0 WHERE shingle IS NOT NULL)
"""


def _q_jaccard(spark, sf_dir):
    # cap disabled: the oracle computes exact Jaccard over every shingle;
    # the (default-on) skew cap is a scale knob exercised by pytest
    return _dd.ngram_jaccard_pairs(
        _docs(spark, sf_dir), n=3, threshold=0.1, max_shingle_df=None
    )


_SQL_JACCARD = f"""WITH {_SHINGLE_CTES},
sz AS (SELECT doc_id, count(*)::BIGINT AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*)::BIGINT AS inter
  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id
)
SELECT a, b,
       round(inter::DOUBLE / (sa.sz + sb.sz - inter)::DOUBLE, 4) AS jaccard
FROM inter JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
WHERE inter::DOUBLE / (sa.sz + sb.sz - inter)::DOUBLE >= 0.1"""


def _q_dedup_components(spark, sf_dir):
    """Duplicate clusters: hash-min connected components over the exact
    Jaccard pair graph (threshold 0.1) → (node, component=min reachable
    doc id). The engine runs iterative label propagation; the oracle is a
    recursive transitive closure — structurally different algorithms that
    must agree exactly."""
    pairs = _dd.ngram_jaccard_pairs(
        _docs(spark, sf_dir), n=3, threshold=0.1, max_shingle_df=None
    )
    return _dd.connected_components(pairs)


_SQL_COMPONENTS = f"""WITH RECURSIVE {_SHINGLE_CTES},
sz AS (SELECT doc_id, count(*)::BIGINT AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*)::BIGINT AS inter
  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id
),
p AS (
  SELECT a, b FROM inter JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
  WHERE inter::DOUBLE / (sa.sz + sb.sz - inter)::DOUBLE >= 0.1
),
e AS (SELECT a AS s, b AS d FROM p UNION SELECT b, a FROM p),
r AS (
  SELECT s AS node, d AS reach FROM e
  UNION
  SELECT r.node, e.d FROM r JOIN e ON e.s = r.reach
)
SELECT node, least(node, min(reach))::BIGINT AS component FROM r GROUP BY node"""


_SAMPLE_FRACS = {"en": 0.5, "de": 0.25, "ja": 1.0}  # fr/es fall to default


def _q_stratified_sample(spark, sf_dir):
    """Deterministic per-language Bernoulli sample (curation rebalancing):
    keep iff u = md5('7:'||doc_id)[0:8]/2^32 < fraction(lang)."""
    from .pipeline.sampling import stratified_sample

    out = stratified_sample(
        _docs(spark, sf_dir), "lang", _SAMPLE_FRACS,
        default_fraction=0.1, seed=7,
    )
    return out.select("doc_id", "lang")


def _sql_stratified_sample() -> str:
    frac = "CASE " + " ".join(
        f"WHEN lang = '{s}' THEN {f!r}" for s, f in sorted(_SAMPLE_FRACS.items())
    ) + " ELSE 0.1 END"
    u = "(('0x' || substr(md5('7:' || doc_id::VARCHAR), 1, 8))::BIGINT::DOUBLE / 4294967296.0)"
    return f"SELECT doc_id, lang FROM documents WHERE {u} < ({frac})"


def _q_mixture_sample(spark, sf_dir):
    """Temperature-scaled mixture sampling (alpha-smoothed source shares):
    stratum keep rate = min(1, tf·N·(m^α/Σm^α)/m), deterministic hash
    admission."""
    from .pipeline.sampling import temperature_mixture_sample

    out = temperature_mixture_sample(
        _docs(spark, sf_dir), alpha=0.5, total_fraction=0.5,
        stratum_col="source", seed=7,
    )
    return out.select("doc_id", "source")


def _sql_mixture_sample() -> str:
    u = "(('0x' || substr(md5('7:' || doc_id::VARCHAR), 1, 8))::BIGINT::DOUBLE / 4294967296.0)"
    return f"""WITH m AS (
  SELECT source, count(*)::BIGINT AS m FROM documents GROUP BY source
),
t AS (
  SELECT sum(m)::BIGINT AS n, sum(pow(m::DOUBLE, 0.5)) AS z FROM m
),
r AS (
  SELECT m.source,
         least(1.0, ((0.5 * n::DOUBLE) * (pow(m::DOUBLE, 0.5) / z)) / m::DOUBLE)
           AS rate
  FROM m, t
)
SELECT d.doc_id, d.source FROM documents d JOIN r USING (source)
WHERE {u} < r.rate"""


_PACK_LEN = 128


def _q_pack_sequences(spark, sf_dir):
    """Concat-and-chunk packing: global token offsets in doc_id order via
    the two-level (sharded) prefix sum, chunk span per doc."""
    from .pipeline.sampling import pack_sequences

    return pack_sequences(
        _docs(spark, sf_dir), context_len=_PACK_LEN, rows_per_shard=64
    )


def _sql_pack_sequences() -> str:
    return f"""WITH {_BASE_CTES},
nt AS (
  SELECT d.doc_id,
         (SELECT count(*) FROM toks t WHERE t.doc_id = d.doc_id)::BIGINT AS n_toks
  FROM documents d
),
c AS (
  SELECT doc_id, n_toks,
         coalesce(sum(n_toks) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS start_off
  FROM nt
)
SELECT doc_id, n_toks, start_off,
       (start_off // {_PACK_LEN})::BIGINT AS chunk_first,
       ((start_off + greatest(n_toks, 1) - 1) // {_PACK_LEN})::BIGINT AS chunk_last
FROM c"""


_BUDGET_TOKENS = 5000


def _q_budget_sample(spark, sf_dir):
    """Token-budget mixture sampling: per source, admit docs in
    deterministic hash order until the cumulative token count reaches the
    budget (overshoot ≤ 1 doc)."""
    from .pipeline.sampling import budget_sample

    return budget_sample(
        _docs(spark, sf_dir), _BUDGET_TOKENS, stratum_col="source", seed=7
    )


def _sql_budget_sample() -> str:
    u = "(('0x' || substr(md5('7:' || doc_id::VARCHAR), 1, 8))::BIGINT::DOUBLE / 4294967296.0)"
    return f"""WITH {_BASE_CTES},
nt AS (
  SELECT d.doc_id, d.source,
         (SELECT count(*) FROM toks t WHERE t.doc_id = d.doc_id)::BIGINT AS n_toks,
         {u} AS u
  FROM documents d
),
cum AS (
  SELECT doc_id, source AS stratum, n_toks,
         coalesce(sum(n_toks) OVER (
           PARTITION BY source ORDER BY u ASC, doc_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0)::BIGINT AS cum_before
  FROM nt
)
SELECT doc_id, stratum, n_toks, cum_before FROM cum
WHERE cum_before < {_BUDGET_TOKENS}"""


_N_MINHASH = 8


def _q_minhash(spark, sf_dir):
    return _dd.minhash_signatures(_docs(spark, sf_dir), num_hashes=_N_MINHASH)


def _sql_minhash() -> str:
    sigs = ",\n  ".join(
        f"min(('0x' || substr(md5('{i}:' || term), 1, 8))::BIGINT) AS sig_{i}"
        for i in range(_N_MINHASH)
    )
    return f"""WITH {_BASE_CTES},
dt AS (SELECT DISTINCT doc_id, term FROM toks)
SELECT doc_id,
  {sigs}
FROM dt GROUP BY doc_id"""


def _q_lsh_pairs(spark, sf_dir):
    return _dd.lsh_candidate_pairs(_docs(spark, sf_dir), num_hashes=8, bands=4)


def _sql_lsh_pairs() -> str:
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, sig_{2*b}::VARCHAR || '_' || sig_{2*b+1}::VARCHAR AS band_key FROM sig"
        for b in range(4)
    )
    return f"""WITH sig AS ({_sql_minhash()}),
bands AS ({band_rows})
SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
FROM bands x JOIN bands y
  ON y.band = x.band AND y.band_key = x.band_key AND x.doc_id < y.doc_id"""


def _ensure_streaming_dedup_store(spark: SparkSession, sf_dir: str) -> str:
    """Run the incremental streaming deduper (streaming/dedup.py) over the
    documents table split into THREE ascending-doc_id micro-batches, once
    per sf_dir; later calls reuse the committed store. At threshold 1.0 the
    match relation (all 8 MinHash components equal) is an equivalence
    relation, so the streaming first-seen-canonical rule provably equals
    the batch min-id-per-signature-class rule the oracle computes."""
    from .streaming.dedup import StreamingDeduper

    name = sf_dir.strip("/").replace("/", "_") + "_sdedup"
    store = f"{_GATE_ROOT}/{_FORMAT_V}/{name}"
    deduper = StreamingDeduper(store, min_est_jaccard=1.0)
    if deduper._committed() >= {0, 1, 2}:
        return store
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    n = docs.agg(F.max("doc_id")).collect()[0][0]
    cuts = (0, n // 3, 2 * n // 3, n + 1)
    for i in range(3):
        deduper(
            docs.filter(
                (F.col("doc_id") >= cuts[i]) & (F.col("doc_id") < cuts[i + 1])
            ),
            i,
        )
    return store


def _q_streaming_dedup(spark, sf_dir):
    """Cross-batch near-dup verdicts from the incremental streaming store:
    (doc_id, dup_of=first-seen canonical with the identical signature)."""
    from .streaming.dedup import StreamingDeduper

    store = _ensure_streaming_dedup_store(spark, sf_dir)
    return (
        StreamingDeduper(store, min_est_jaccard=1.0)
        .duplicates(spark)
        .select("doc_id", "dup_of")
    )


def _sql_streaming_dedup() -> str:
    sig_cols = ", ".join(f"sig_{i}" for i in range(_N_MINHASH))
    return f"""WITH sig AS ({_sql_minhash()}),
g AS (
  SELECT doc_id,
         min(doc_id) OVER (PARTITION BY {sig_cols}) AS dup_of
  FROM sig
)
SELECT doc_id, dup_of FROM g WHERE doc_id <> dup_of"""


def _q_simhash(spark, sf_dir):
    return _dd.simhash(_docs(spark, sf_dir))


_SQL_SIMHASH = f"""WITH {_BASE_CTES},
th AS (
  SELECT doc_id, term, count(*)::BIGINT AS c,
         ('0x' || substr(md5(term), 1, 15))::BIGINT AS h
  FROM toks GROUP BY doc_id, term
),
bt AS (
  SELECT doc_id, bb.b AS b,
         sum(CASE WHEN (h >> bb.b) & 1 = 1 THEN c ELSE -c END) AS w
  FROM th, (SELECT unnest(generate_series(0, 59)) AS b) bb
  GROUP BY doc_id, bb.b
)
SELECT doc_id,
       sum(CASE WHEN w > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END)::BIGINT AS simhash
FROM bt GROUP BY doc_id"""


def _q_lang_id(spark, sf_dir):
    return _ts.lang_id_heuristic(_docs(spark, sf_dir))


_STOP_LIST_SQL = ", ".join(f"'{w}'" for w in _ts.STOPWORDS_SORTED)

_SQL_LANG_ID = f"""WITH {_BASE_CTES},
agg AS (
  SELECT doc_id, count(*)::BIGINT AS n_tokens,
         sum(CASE WHEN term IN ({_STOP_LIST_SQL}) THEN 1 ELSE 0 END)::BIGINT AS n_stop
  FROM toks GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_stop,
       round(n_stop::DOUBLE / n_tokens::DOUBLE, 4) AS stop_ratio,
       (n_stop::DOUBLE / n_tokens::DOUBLE) >= 0.02 AS is_en_guess
FROM agg"""


def _q_quality(spark, sf_dir):
    return _ts.quality_scores(_docs(spark, sf_dir))


_SQL_QUALITY = f"""WITH {_BASE_CTES}
SELECT doc_id, count(*)::BIGINT AS n_tokens,
       count(DISTINCT term)::BIGINT AS n_unique,
       round(count(DISTINCT term)::DOUBLE / count(*)::DOUBLE, 4) AS ttr,
       round(sum(length(term))::DOUBLE / count(*)::DOUBLE, 4) AS mean_token_len
FROM toks GROUP BY doc_id"""


def _q_length_percentiles(spark, sf_dir):
    return _ts.length_percentiles(_docs(spark, sf_dir))


_SQL_LENGTH_PCT = f"""WITH {_BASE_CTES}
SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs,
       round(avg(dl), 4) AS mean_len,
       round(quantile_cont(dl, 0.25), 4) AS p25,
       round(quantile_cont(dl, 0.5), 4) AS p50,
       round(quantile_cont(dl, 0.75), 4) AS p75
FROM dl"""


def _q_lm_quality(spark, sf_dir, k: int = 10):
    """Bottom-k mean unigram logprob: the LM-gibberish filter's victims."""
    lp = _ts.lm_doc_logprob(_docs(spark, sf_dir))
    low = lp.orderBy(F.asc("lp"), F.asc("doc_id")).limit(k)
    return low.select("doc_id", F.round("lp", 4).alias("lp"))


_SQL_LM_QUALITY = f"""WITH {_BASE_CTES},
mod AS (SELECT term, count(*)::BIGINT AS ttf FROM toks GROUP BY term),
tot AS (SELECT sum(ttf)::DOUBLE AS total FROM mod),
lp AS (
  SELECT t.doc_id, sum(ln(m.ttf::DOUBLE / tot.total)) / count(*) AS lp
  FROM toks t JOIN mod m USING (term), tot GROUP BY t.doc_id
)
SELECT doc_id, round(lp, 4) AS lp FROM (
  SELECT * FROM lp ORDER BY lp ASC, doc_id ASC LIMIT 10
)"""


def _q_bpe_tokens(spark, sf_dir):
    return _ts.bpe_token_counts(_docs(spark, sf_dir))


def _sql_bpe_tokens() -> str:
    from .pipeline.textstats import BPE_PIECE_RE, _WS_TOKEN_RE

    return f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{_WS_TOKEN_RE}'))::BIGINT AS n_ws_tokens,
       len(regexp_extract_all(lower(text), '{BPE_PIECE_RE}'))::BIGINT AS n_pieces,
       round(length(text)::DOUBLE /
             nullif(len(regexp_extract_all(lower(text), '{BPE_PIECE_RE}')), 0),
             4) AS chars_per_piece
FROM documents"""


def _q_bpe_true(spark, sf_dir):
    """Exact BPE token counts under the fixture merges table: the engine
    runs the real rank-ordered merge loop (pandas UDF over distinct
    terms); the oracle exploits the fixture's character-disjoint
    single-level rules — every merge application removes exactly one
    token, and applications(rule) = non-overlapping occurrences of the
    rule string inside each term (replace-count arithmetic)."""
    return _ts.bpe_token_counts_true(_docs(spark, sf_dir))


def _sql_bpe_true() -> str:
    from .pipeline.textstats import FIXTURE_MERGES

    apps = " + ".join(
        f"(length(term) - length(replace(term, '{a}{b}', ''))) // 2"
        for a, b in FIXTURE_MERGES
    )
    return f"""WITH {_BASE_CTES}
SELECT doc_id,
       count(*)::BIGINT AS n_words,
       sum(length(term) - ({apps}))::BIGINT AS n_bpe_tokens
FROM toks GROUP BY doc_id"""


def _q_repetition(spark, sf_dir):
    return _ts.repetition_stats(_docs(spark, sf_dir))


_SQL_REPETITION = f"""WITH {_BASE_CTES},
g2 AS (
  SELECT doc_id, term || ' ' || lead(term, 1) OVER w AS g, 2 AS n
  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
g3 AS (
  SELECT doc_id,
         term || ' ' || lead(term, 1) OVER w || ' ' || lead(term, 2) OVER w AS g,
         3 AS n
  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
allg AS (
  SELECT doc_id, term AS g, 1 AS n FROM toks
  UNION ALL SELECT * FROM g2 WHERE g IS NOT NULL
  UNION ALL SELECT * FROM g3 WHERE g IS NOT NULL
),
cnt AS (SELECT doc_id, n, g, count(*)::BIGINT AS c FROM allg GROUP BY doc_id, n, g),
nt AS (SELECT doc_id, count(*)::BIGINT AS n_tokens FROM toks GROUP BY doc_id),
agg AS (
  SELECT doc_id,
         max(c) FILTER (WHERE n = 1) AS top_w,
         max(c) FILTER (WHERE n = 2) AS top_b,
         coalesce(sum(c) FILTER (WHERE n = 3 AND c >= 2), 0) AS dup_tri
  FROM cnt GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       round(top_w / n_tokens::DOUBLE, 4) AS frac_top_word,
       CASE WHEN n_tokens >= 2
            THEN round(top_b / (n_tokens - 1)::DOUBLE, 4) END AS frac_top_bigram,
       CASE WHEN n_tokens >= 3
            THEN round(dup_tri / (n_tokens - 2)::DOUBLE, 4) END AS frac_dup_trigrams
FROM agg JOIN nt USING (doc_id)"""


# deterministic multi-line page per doc (SQL shared VERBATIM by Spark and
# DuckDB): line word counts, terminal punctuation, javascript lines,
# sentence counts, lorem-ipsum and curly-brace pages all vary by doc_id
_C4_SYNTH = """concat_ws(chr(10),
  concat('alpha beta gamma delta', CASE WHEN doc_id % 2 = 0 THEN '.' ELSE '' END),
  'two words.',
  CASE WHEN doc_id % 3 = 0 THEN 'this line mentions javascript sadly.'
       ELSE 'a clean third line here.' END,
  'one more good line number four!',
  'the final fifth sentence line. with extras! and a question?',
  CASE WHEN doc_id % 7 = 0 THEN 'lorem ipsum dolor sit amet.'
       ELSE 'regular closing line indeed.' END,
  CASE WHEN doc_id % 11 = 0 THEN 'code with { brace four words.'
       ELSE 'no brace in this line.' END)"""


def _q_c4_line_clean(spark, sf_dir):
    """C4 line-level cleaning (Raffel et al. 2020 §2.2): terminal-punct +
    ≥3-word + no-javascript line retention, ≥5-sentence / no-lorem-ipsum /
    no-curly-brace page retention — pipeline/scrub.c4_line_clean, map-only
    JVM built-ins."""
    from .pipeline.scrub import c4_line_clean

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", F.expr(_C4_SYNTH).alias("text"))
    )
    return c4_line_clean(docs).orderBy("doc_id")


def _sql_c4_line_clean() -> str:
    return f"""WITH src AS (
  SELECT doc_id, {_C4_SYNTH} AS text FROM documents
),
lines AS (
  SELECT doc_id,
         unnest(string_split(text, chr(10))) AS line,
         generate_subscripts(string_split(text, chr(10)), 1) AS ord
  FROM src
),
keptl AS (
  SELECT * FROM lines
  WHERE regexp_matches(trim(line), '[.!?"]$')
    AND len(regexp_split_to_array(trim(line), '\\s+')) >= 3
    AND NOT contains(lower(line), 'javascript')
),
agg AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY ord) AS clean,
         count(*)::BIGINT AS n_lines
  FROM keptl GROUP BY doc_id
)
SELECT s.doc_id,
  (CASE WHEN coalesce(len(regexp_extract_all(a.clean, '[.!?]')), 0) >= 5
         AND NOT contains(lower(s.text), 'lorem ipsum')
         AND NOT contains(s.text, '{{') THEN 1 ELSE 0 END) AS kept,
  coalesce(a.n_lines, 0)::BIGINT AS n_lines_kept,
  coalesce(len(regexp_extract_all(a.clean, '[.!?]')), 0)::BIGINT AS n_sentences,
  coalesce(length(a.clean), 0)::BIGINT AS clean_len,
  md5(coalesce(a.clean, '')) AS clean_md5
FROM src s LEFT JOIN agg a USING (doc_id)"""


# deterministic 3-sentence page per doc (SQL shared VERBATIM with the
# oracle). Which sentence carries the matched terms — and how often —
# varies by doc_id, so every formatter rule fires somewhere: passage
# ranking by the PassageScorer formula (sentence 2 beats sentence 3 beats
# sentence 1 in the all-true class), the "... " ellipsis when the chosen
# passages are not adjacent, the trailing-space passage join, and the
# first-sentence fallback for no-match docs.
_HL_SYNTH = """concat_ws(' ',
  CASE WHEN doc_id % 2 = 0 THEN 'alpha beta stream gamma.'
       ELSE 'alpha beta gamma delta.' END,
  CASE WHEN doc_id % 3 = 0 THEN 'the stream window pair appears here.'
       ELSE 'nothing of note here.' END,
  CASE WHEN doc_id % 5 < 2 THEN 'stream stream closing line.'
       ELSE 'calm closing line.' END)"""


def _q_highlight(spark, sf_dir):
    """UnifiedHighlighter best-passage snippets (search/highlight.py —
    PassageScorer.java formulas + DefaultPassageFormatter rules), over the
    searcher-less entry point (UnifiedHighlighter.highlightWithoutSearcher):
    matched terms {stream, window}, top-2 passages. The oracle bakes the
    hand-derived expected snippet per doc_id class (the PassageScorer
    arithmetic is replayed against the reference formulas in
    tests/test_highlight.py)."""
    from .analysis.tokenizer import analyze
    from .search.highlight import highlight_docs

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", F.expr(_HL_SYNTH).alias("text"))
    )
    return highlight_docs(
        docs, {"stream", "window"}, lambda t: analyze(t), max_passages=2
    ).orderBy("doc_id")


def _sql_highlight() -> str:
    # expected snippets per (doc_id%2, doc_id%3, doc_id%5) class, derived
    # from the PassageScorer/DefaultPassageFormatter contracts (e.g. in the
    # all-true class the scores are S2=2.2617 > S3=0.9142 > S1=0.7718)
    return f"""WITH src AS (
  SELECT doc_id, {_HL_SYNTH} AS text FROM documents
)
SELECT doc_id,
  CASE
    WHEN doc_id % 3 = 0 AND doc_id % 5 < 2
      THEN 'the <b>stream</b> <b>window</b> pair appears here. <b>stream</b> <b>stream</b> closing line.'
    WHEN doc_id % 2 = 0 AND doc_id % 3 = 0
      THEN 'alpha beta <b>stream</b> gamma. the <b>stream</b> <b>window</b> pair appears here. '
    WHEN doc_id % 2 = 0 AND doc_id % 5 < 2
      THEN 'alpha beta <b>stream</b> gamma. ... <b>stream</b> <b>stream</b> closing line.'
    WHEN doc_id % 2 = 0
      THEN 'alpha beta <b>stream</b> gamma. '
    WHEN doc_id % 3 = 0
      THEN 'the <b>stream</b> <b>window</b> pair appears here. '
    WHEN doc_id % 5 < 2
      THEN '<b>stream</b> <b>stream</b> closing line.'
    ELSE 'alpha beta gamma delta.'
  END AS snippet
FROM src"""


def _q_pii_scrub(spark, sf_dir):
    """PII ops over the corpus with synthetic per-doc PII appended (the
    word-soup fixture has none); the oracle appends the identical suffix
    in SQL, so counts, ordering rules, and the redacted-text md5 all
    verify the regex semantics exactly."""
    from .pipeline.scrub import pii_scrub

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com via 10.1."),
            (F.col("doc_id") % 200).cast("string"),
            F.lit(".77 or call +1 (555) 010-"),
            F.format_string("%04d", (F.col("doc_id") % 10000).cast("int")),
        ).alias("text"),
    )
    return pii_scrub(d)


def _sql_pii_scrub() -> str:
    from .pipeline.scrub import EMAIL_RE, IPV4_RE, PHONE_RE

    txt = (
        "text || ' contact user' || doc_id || '@example.com via 10.1.' || "
        "(doc_id % 200) || '.77 or call +1 (555) 010-' || "
        "printf('%04d', doc_id % 10000)"
    )
    return f"""WITH d AS (SELECT doc_id, {txt} AS t FROM documents),
c AS (
  SELECT doc_id,
         len(regexp_extract_all(t, '{EMAIL_RE}'))::BIGINT AS n_emails,
         len(regexp_extract_all(t, '{IPV4_RE}'))::BIGINT AS n_ipv4,
         regexp_replace(regexp_replace(t, '{EMAIL_RE}', '<email>', 'g'),
                        '{IPV4_RE}', '<ip>', 'g') AS c2
  FROM d
)
SELECT doc_id, n_emails, n_ipv4,
       len(regexp_extract_all(c2, '{PHONE_RE}'))::BIGINT AS n_phones,
       md5(regexp_replace(c2, '{PHONE_RE}', '<phone>', 'g')) AS clean_md5
FROM c"""


_CHUNK_N = 8


def _q_dedup_chunks(spark, sf_dir):
    """C4-style duplicated-chunk stats over non-overlapping 8-token
    windows (pipeline/dedup.duplicated_chunks)."""
    return _dd.duplicated_chunks(_docs(spark, sf_dir), chunk=_CHUNK_N)


_SQL_DEDUP_CHUNKS = f"""WITH {_BASE_CTES},
chk AS (
  SELECT doc_id, (pos // {_CHUNK_N}) AS cidx,
         md5(string_agg(term, ' ' ORDER BY pos)) AS chunk_hash
  FROM toks GROUP BY doc_id, (pos // {_CHUNK_N}) HAVING count(*) = {_CHUNK_N}
),
dup AS (SELECT chunk_hash FROM chk GROUP BY chunk_hash HAVING count(*) > 1)
SELECT c.doc_id, count(*)::BIGINT AS n_chunks,
       sum(CASE WHEN d.chunk_hash IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_dup_chunks,
       round(sum(CASE WHEN d.chunk_hash IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
             / count(*)::DOUBLE, 4) AS dup_frac
FROM chk c LEFT JOIN dup d USING (chunk_hash)
GROUP BY c.doc_id"""


_PROBE_MOD = 97  # docs with doc_id % 97 == 0 play the eval benchmark


def _q_contamination(spark, sf_dir):
    """GPT-3-style benchmark contamination: candidate docs scored by the
    fraction of their distinct 5-grams present in the probe corpus."""
    from .pipeline.contamination import ngram_contamination

    d = _docs(spark, sf_dir)
    probes = d.filter(F.col("doc_id") % _PROBE_MOD == 0)
    cands = d.filter(F.col("doc_id") % _PROBE_MOD != 0)
    return ngram_contamination(cands, probes, n=5)


_SQL_CONTAMINATION = f"""WITH {_BASE_CTES},
g0 AS (
  SELECT doc_id,
         term || ' ' || lead(term,1) OVER w || ' ' || lead(term,2) OVER w || ' ' ||
         lead(term,3) OVER w || ' ' || lead(term,4) OVER w AS ngram
  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
g AS (SELECT DISTINCT doc_id, ngram FROM g0 WHERE ngram IS NOT NULL),
probe AS (SELECT DISTINCT ngram FROM g WHERE doc_id % {_PROBE_MOD} = 0),
cand AS (SELECT * FROM g WHERE doc_id % {_PROBE_MOD} <> 0)
SELECT c.doc_id, count(*)::BIGINT AS n_ngrams,
       sum(CASE WHEN p.ngram IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hit,
       round(sum(CASE WHEN p.ngram IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
             / count(*)::DOUBLE, 4) AS contamination
FROM cand c LEFT JOIN probe p USING (ngram)
GROUP BY c.doc_id"""


def _q_fingerprint(spark, sf_dir):
    return _ts.doc_fingerprints(_docs(spark, sf_dir))


_SQL_FINGERPRINT = f"""WITH {_SHINGLE_CTES}
SELECT doc_id,
       min(('0x' || substr(md5(shingle), 1, 8))::BIGINT) AS fingerprint
FROM sh GROUP BY doc_id"""


# --- url canonicalization ---------------------------------------------------


def _q_source_stats(spark, sf_dir):
    from .pipeline.textstats import source_stats

    return source_stats(_docs(spark, sf_dir))


_SQL_SOURCE_STATS = f"""WITH {_BASE_CTES},
tc AS (
  SELECT d.doc_id, d.source, length(d.text) AS n_chars,
         (SELECT count(*) FROM toks t WHERE t.doc_id = d.doc_id) AS n_toks
  FROM documents d
)
SELECT source,
       count(*)::BIGINT AS n_docs,
       sum(n_chars)::BIGINT AS total_chars,
       sum(n_toks)::BIGINT AS total_tokens,
       (sum(n_toks)::BIGINT / count(*)::BIGINT::DOUBLE) AS mean_tokens
FROM tc GROUP BY source"""


def _q_url_dedup(spark, sf_dir):
    """Canonical-URL dup groups over messy synthetic URLs (upper-cased
    scheme/host, default port, tracking params, fragments, trailing
    slash): doc_id%250 collides pairs at sf0.01, and any canonicalization
    divergence changes the group keys."""
    from .pipeline.urlnorm import url_dup_groups

    m = (F.col("doc_id") % 250).cast("string")
    url = F.concat(
        F.lit("HTTPS://WWW.Site"), m, F.lit(".Example:443/Path/"), m,
        F.when(F.col("doc_id") % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=x&b=2&a="), (F.col("doc_id") % 250 % 7).cast("string"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    d = _docs(spark, sf_dir).select("doc_id", url.alias("url"))
    return url_dup_groups(d)


_SQL_URL_DEDUP = r"""WITH u AS (
  SELECT doc_id,
         'HTTPS://WWW.Site' || (doc_id % 250) || '.Example:443/Path/' || (doc_id % 250)
         || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END
         || '?utm_source=x&b=2&a=' || ((doc_id % 250) % 7)
         || CASE WHEN doc_id % 2 = 0 THEN '#frag' ELSE '' END AS url
  FROM documents
),
p AS (
  SELECT doc_id,
    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1)) AS scheme,
    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\-]*://([^/:?#]*)', 1)) AS host,
    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\-]*://[^/:?#]*:([0-9]+)', 1) AS port,
    regexp_replace(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)', 1),
                   '/+$', '') AS path,
    regexp_extract(url, '\?([^#]*)', 1) AS query
  FROM u
),
q AS (
  SELECT *, list_sort(list_filter(string_split(query, '&'),
    x -> x <> '' AND substr(x, 1, 4) <> 'utm_'
         AND substr(x, 1, 6) <> 'fbclid' AND substr(x, 1, 5) <> 'gclid')) AS ps
  FROM p
),
c AS (
  SELECT doc_id,
    scheme || '://' || host
    || CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                 OR (scheme = 'https' AND port = '443')
            THEN '' ELSE ':' || port END
    || path
    || CASE WHEN len(ps) = 0 THEN '' ELSE '?' || array_to_string(ps, '&') END
      AS canon_url
  FROM q
)
SELECT canon_url, count(*)::BIGINT AS n_docs, min(doc_id) AS keep_id
FROM c GROUP BY canon_url HAVING count(*) > 1"""


# --- monitor / percolator ---------------------------------------------------


def _monitor_queries():
    from .search.monitor import MonitorQuery

    return [
        MonitorQuery("q_term", "term", ("stream",)),
        MonitorQuery("q_and", "and", ("scan", "merge")),
        MonitorQuery("q_or", "or", ("batch", "filter")),
        MonitorQuery("q_phrase", "phrase", ("data", "stream")),
    ]


def _q_monitor(spark, sf_dir):
    """Percolation: four registered queries (term/AND/OR/phrase) matched
    against the whole corpus; output (doc_id, query_id) pairs."""
    from .search.monitor import monitor_matches

    return monitor_matches(_docs(spark, sf_dir), _monitor_queries())


_SQL_MONITOR = f"""WITH {_BASE_CTES}
SELECT doc_id, 'q_term' AS query_id FROM documents d
WHERE EXISTS (SELECT 1 FROM tf WHERE tf.doc_id = d.doc_id AND term = 'stream')
UNION ALL
SELECT doc_id, 'q_and' FROM documents d
WHERE EXISTS (SELECT 1 FROM tf WHERE tf.doc_id = d.doc_id AND term = 'scan')
  AND EXISTS (SELECT 1 FROM tf WHERE tf.doc_id = d.doc_id AND term = 'merge')
UNION ALL
SELECT doc_id, 'q_or' FROM documents d
WHERE EXISTS (SELECT 1 FROM tf WHERE tf.doc_id = d.doc_id AND term = 'batch')
   OR EXISTS (SELECT 1 FROM tf WHERE tf.doc_id = d.doc_id AND term = 'filter')
UNION ALL
SELECT doc_id, 'q_phrase' FROM documents d
WHERE EXISTS (
  SELECT 1 FROM toks p0 JOIN toks p1
    ON p0.doc_id = p1.doc_id AND p1.pos = p0.pos + 1
  WHERE p0.doc_id = d.doc_id AND p0.term = 'data' AND p1.term = 'stream')"""


# --- classification ---------------------------------------------------------


def _q_classify_knn(spark, sf_dir, k: int = 10):
    """KNearestNeighborClassifier over the embeddings table: assign each of
    4 query vectors the majority-by-normalized-score class of its 10
    nearest cosine neighbors (KNearestNeighborClassifier.java:190 vote)."""
    from .classification import knn_classify

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvecs = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 4).collect()
    }
    return knn_classify(emb, qvecs, k=k)


def _sql_classify_knn() -> str:
    # f-string in a function body: _COS_SQL is defined further down the
    # module and exists by registry-build time
    return f"""WITH q AS (
  SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 4
),
s AS (
  SELECT q.qid, e.vec_id, e.label,
    {_COS_SQL} AS cos
  FROM embeddings e, q
),
top AS (
  SELECT * FROM (
    SELECT s.*, row_number() OVER (
      PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rn
    FROM s
  ) WHERE rn <= 10
),
mx AS (SELECT qid, max(cos) AS m FROM top GROUP BY qid),
cl AS (
  SELECT t.qid, t.label, (sum(t.cos / mx.m) / 10.0) AS score
  FROM top t JOIN mx USING (qid) GROUP BY t.qid, t.label
)
SELECT qid, label, round(score, 4) AS score FROM (
  SELECT cl.*, row_number() OVER (
    PARTITION BY qid ORDER BY score DESC, label ASC) AS rk
  FROM cl
) WHERE rk = 1"""  # noqa: E501


def _q_classify_knn_mlt(spark, sf_dir, k: int = 10):
    """KNearestNeighborDocumentClassifier: MLT query (TF·IDF boosts) from
    doc 0's text, top-10 BM25 neighbors, lang votes score/maxScore, class
    score = vote sum / k (KNearestNeighborDocumentClassifier.java:149 +
    KNearestNeighborClassifier.java:190)."""
    from .classification import knn_doc_classify

    s = _searcher(spark, sf_dir)
    text = (
        _docs(spark, sf_dir).filter(F.col("doc_id") == 0).select("text").head()[0]
    )
    classes = _docs(spark, sf_dir).select(
        F.format_string("doc://%012d", F.col("doc_id")).alias("url"),
        F.col("lang").alias("cls"),
    )
    return knn_doc_classify(s, classes, text, k=k)


def _sql_classify_knn_mlt(src_doc: int = 0, k: int = 10) -> str:
    """MLT selection (tf·idf, LIMIT 25) → per-term boost mlt/best folded
    into the BM25 weight before the division (QuantizedDoubleBm25.create
    order, like _sql_boost_or) → top-k (seed included, like knnSearch) →
    normalized class votes."""
    idf_mlt = "(ln((s.n_docs + 1)::DOUBLE / (d.df + 1)::DOUBLE) + 1.0)"
    exp = f"""
  SELECT term, df, mlt FROM (
    SELECT tf.term AS term, d.df AS df,
           (tf.freq::DOUBLE * {idf_mlt}) AS mlt
    FROM tf JOIN dft d USING (term), stats s
    WHERE tf.doc_id = {src_doc} AND tf.freq >= 2 AND d.df >= 5
  ) ORDER BY mlt DESC, term ASC LIMIT 25"""
    idf = _idf("e.df")
    w = f"(((1.0 * e.mlt) / b.best) * {idf})"
    return f"""WITH {_BASE_CTES},
exp AS ({exp}),
b AS (SELECT max(mlt) AS best FROM exp),
es AS (
  SELECT tf.doc_id, tf.term,
         ({w} - {w} / {_tf_part("tf.freq", "qdl.qdl")}) AS score
  FROM tf JOIN exp e USING (term) JOIN qdl USING (doc_id), stats s, b
),
u AS (
  SELECT doc_id, list_sum(list(score ORDER BY term ASC)) AS score
  FROM es GROUP BY doc_id
),
tk AS (SELECT doc_id, score FROM u ORDER BY score DESC, doc_id ASC LIMIT {k}),
mx AS (SELECT max(score) AS m FROM tk)
SELECT cls, round(score, 4) AS score FROM (
  SELECT d.lang AS cls, (sum(tk.score / mx.m) / {float(k)!r}) AS score
  FROM tk CROSS JOIN mx JOIN documents d ON tk.doc_id = d.doc_id
  GROUP BY d.lang
) ORDER BY score DESC, cls ASC"""


def _q_classify_perceptron(spark, sf_dir):
    """BooleanPerceptronClassifier: ttf-seeded weights, default bias =
    avgdl, output = Σ ttf(token) per occurrence, score = 1−e^(−|bias−out|
    /bias). Training labels equal the seed model's own predictions, so
    the sweep converges with ZERO updates and the oracle can recompute
    the final (= seed) weights from collection stats alone; the
    mistake-update arithmetic is pinned by tests/test_classification.py."""
    from .classification import BooleanPerceptron

    docs = _docs(spark, sf_dir)
    s = _searcher(spark, sf_dir)
    ttf = {
        r["term"]: int(r["ttf"])
        for r in s.reader.term_dict.groupBy("term")
        .agg(F.sum("ttf").alias("ttf"))
        .collect()
    }
    n_docs = int(s.reader.global_stats[0])
    p = BooleanPerceptron()
    p.bias = float(sum(ttf.values())) / float(n_docs)
    seed = [
        (r["text"],)
        for r in docs.orderBy("doc_id").limit(20).select("text").collect()
    ]
    train = [(t, p._output(ttf, t) >= p.bias) for (t,) in seed]
    p = BooleanPerceptron().fit(train, ttf, doc_count=n_docs)
    out = p.classify_df(docs)
    return out.select(
        "doc_id", "assigned", F.round("score", 4).alias("score")
    )


_SQL_CLASSIFY_PERCEPTRON = f"""WITH {_BASE_CTES},
o AS (
  SELECT tf.doc_id,
         list_sum(list((tf.freq * d.ttf)::DOUBLE ORDER BY tf.term)) AS output
  FROM tf JOIN dft d USING (term) GROUP BY tf.doc_id
),
b AS (SELECT (sum_ttf::DOUBLE / n_docs::DOUBLE) AS bias FROM stats)
SELECT doc_id, (output >= bias) AS assigned,
       round(1.0 - exp(-abs(bias - output) / bias), 4) AS score
FROM o, b"""


def _q_quality_eval(spark, sf_dir):
    """benchmark/quality QualityStats over a synthetic judged run: one
    "query" per language, ranked run = that language's first 20 docs by
    doc_id, qrels = the language's doc_id%3==0 docs (including never-
    retrieved ones — they count in the recall denominator)."""
    from pyspark.sql import Window as _W

    from .search.quality import quality_stats

    d = _docs(spark, sf_dir)
    results = (
        d.withColumn(
            "rank",
            F.row_number().over(_W.partitionBy("lang").orderBy("doc_id")),
        )
        .filter(F.col("rank") <= 20)
        .select(F.col("lang").alias("query_id"), "doc_id", "rank")
    )
    judgments = d.filter(F.col("doc_id") % 3 == 0).select(
        F.col("lang").alias("query_id"), "doc_id"
    )
    return quality_stats(results, judgments)


_SQL_QUALITY_EVAL = """WITH res AS (
  SELECT * FROM (
    SELECT lang AS query_id, doc_id,
           row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rank
    FROM documents
  ) WHERE rank <= 20
),
j AS (SELECT lang AS query_id, doc_id FROM documents WHERE doc_id % 3 = 0),
mg AS (SELECT query_id, count(*)::BIGINT AS maxgood FROM j GROUP BY query_id),
s AS (
  SELECT r.query_id, r.rank,
         CASE WHEN j.doc_id IS NOT NULL THEN 1 ELSE 0 END AS rel
  FROM res r LEFT JOIN j ON j.query_id = r.query_id AND j.doc_id = r.doc_id
),
p AS (
  SELECT query_id, rank, rel,
         sum(rel) OVER (PARTITION BY query_id ORDER BY rank
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           / rank::DOUBLE AS prec
  FROM s
),
a AS (
  SELECT query_id,
    max(rank) AS n_results,
    sum(rel) AS n_found,
    sum(CASE WHEN rel = 1 THEN prec END) AS prelsum,
    min(CASE WHEN rel = 1 THEN rank END) AS frst,
    sum(CASE WHEN rank <= 5 THEN rel ELSE 0 END) AS rel5,
    sum(CASE WHEN rank <= 10 THEN rel ELSE 0 END) AS rel10,
    sum(CASE WHEN rank <= 20 THEN rel ELSE 0 END) AS rel20
  FROM p GROUP BY query_id
)
SELECT a.query_id,
  n_results::BIGINT AS n_results,
  n_found::BIGINT AS n_found,
  coalesce(mg.maxgood, 0)::BIGINT AS max_good,
  round(CASE WHEN coalesce(mg.maxgood, 0) <= 0
    THEN n_found::DOUBLE / n_results::DOUBLE
    ELSE n_found::DOUBLE / mg.maxgood::DOUBLE END, 6) AS recall,
  round(CASE WHEN frst <= 5 THEN 1.0 / frst::DOUBLE ELSE 0.0 END, 6) AS mrr,
  round(CASE WHEN coalesce(mg.maxgood, 0) = 0 THEN 0.0
    ELSE coalesce(prelsum, 0.0) / mg.maxgood::DOUBLE END, 6) AS avp,
  round(coalesce(rel5, 0)::DOUBLE / 5.0, 6) AS p_at_5,
  round(coalesce(rel10, 0)::DOUBLE / 10.0, 6) AS p_at_10,
  round(coalesce(rel20, 0)::DOUBLE / 20.0, 6) AS p_at_20
FROM a LEFT JOIN mg USING (query_id)"""


def _q_classify_nb(spark, sf_dir):
    """SimpleNaiveBayesClassifier over the corpus: train on doc_id%5!=0
    (label = lang), classify the held-out fifth; top-1 class per doc with
    the log-sum-exp-normalized score."""
    from .classification import naive_bayes_classify

    d = _docs(spark, sf_dir)
    train = d.filter(F.col("doc_id") % 5 != 0).select(
        "doc_id", "text", F.col("lang").alias("label")
    )
    test = d.filter(F.col("doc_id") % 5 == 0).select("doc_id", "text")
    return naive_bayes_classify(train, test, class_col="label", k=1)


_SQL_CLASSIFY_NB = f"""WITH {_BASE_CTES},
tr AS (SELECT doc_id, lang AS label FROM documents WHERE doc_id % 5 <> 0),
te AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 0),
trt AS (SELECT t.doc_id, tr.label, t.term FROM toks t JOIN tr USING (doc_id)),
trd AS (SELECT DISTINCT doc_id, label, term FROM trt),
wcdf AS (SELECT term, label, count(*)::BIGINT AS wdf FROM trd GROUP BY term, label),
ntr AS (SELECT count(*)::BIGINT AS n FROM tr),
au AS (SELECT sum(u)::DOUBLE / (SELECT n FROM ntr) AS a
       FROM (SELECT doc_id, count(*) AS u FROM trd GROUP BY doc_id)),
classes AS (
  SELECT label,
         ln(count(*)::DOUBLE) - ln((SELECT n FROM ntr)::DOUBLE) AS log_prior,
         ln((SELECT a FROM au) * count(*)::DOUBLE
            + (SELECT n FROM ntr)::DOUBLE) AS log_den
  FROM tr GROUP BY label
),
tet AS (SELECT t.doc_id, t.term FROM toks t JOIN te USING (doc_id)),
ntok AS (SELECT doc_id, count(*)::BIGINT AS n_tokens FROM tet GROUP BY doc_id),
hits AS (SELECT tet.doc_id, w.label, sum(ln(w.wdf::DOUBLE + 1.0)) AS hit_sum
         FROM tet JOIN wcdf w USING (term) GROUP BY tet.doc_id, w.label),
scored AS (
  SELECT n.doc_id, c.label,
         c.log_prior + coalesce(h.hit_sum, 0.0)
           - n.n_tokens::DOUBLE * c.log_den AS s
  FROM ntok n CROSS JOIN classes c
  LEFT JOIN hits h ON h.doc_id = n.doc_id AND h.label = c.label
),
win AS (
  SELECT *, max(s) OVER (PARTITION BY doc_id) AS smax FROM scored
),
norm AS (
  SELECT doc_id, label,
         exp(s - (smax + ln(sum(exp(s - smax)) OVER (PARTITION BY doc_id)))) AS score,
         row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, label ASC) AS rk
  FROM win
)
SELECT doc_id, label, round(score, 4) AS score FROM norm WHERE rk <= 1"""


# --- geo (LatLonPoint analog) ----------------------------------------------

_GEO_BOX = (-30.0, 45.0, 10.0, 160.0)  # min_lat, max_lat, min_lon, max_lon
_GEO_Q = (12.34, 56.78)  # distance-sort query point


def _geo_docs(spark, sf_dir):
    """documents with deterministic synthetic coordinates: integer mod of
    doc_id then /100 — identical double arithmetic in Spark and DuckDB."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        ((F.col("doc_id") * 37 % 18001) / 100.0 - 90.0).alias("lat"),
        ((F.col("doc_id") * 73 % 36001) / 100.0 - 180.0).alias("lon"),
    )


_GEO_SQL_CTE = """
geo AS (
  SELECT doc_id,
         ((doc_id * 37) % 18001) / 100.0 - 90.0 AS lat,
         ((doc_id * 73) % 36001) / 100.0 - 180.0 AS lon
  FROM documents
),
genc AS (
  SELECT doc_id,
         least(floor(lat / 90.0 * 2147483648.0)::BIGINT, 2147483647) AS elat,
         least(floor(lon / 180.0 * 2147483648.0)::BIGINT, 2147483647) AS elon
  FROM geo
)"""


def _q_geo_box(spark, sf_dir):
    """LatLonPoint.newBoxQuery over synthetic coords; output includes the
    quantized int32 coordinates so the gate verifies the encode itself."""
    from .search.geo import box_query, encode_latitude, encode_longitude

    d = box_query(_geo_docs(spark, sf_dir), *_GEO_BOX)
    return d.select(
        "doc_id",
        encode_latitude(F.col("lat")).cast("long").alias("elat"),
        encode_longitude(F.col("lon")).cast("long").alias("elon"),
    )


def _sql_geo_box() -> str:
    from .search.geo import _py_enc

    min_lat, max_lat, min_lon, max_lon = _GEO_BOX
    lo_lat, hi_lat = _py_enc(min_lat, 90.0, ceil=True), _py_enc(max_lat, 90.0)
    lo_lon, hi_lon = _py_enc(min_lon, 180.0, ceil=True), _py_enc(max_lon, 180.0)
    return f"""WITH {_GEO_SQL_CTE}
SELECT doc_id, elat, elon FROM genc
WHERE elat BETWEEN {lo_lat} AND {hi_lat}
  AND elon BETWEEN {lo_lon} AND {hi_lon}"""


# (lat, lon) pentagon: irregular, non-convex-ish span over the synthetic
# coordinate cloud; edges avoid the 0.01-degree doc grid so the strict
# ray-cast boundary rule can't differ between engines
_GEO_POLY = [
    (0.005, 10.005), (40.005, 30.005), (60.005, 90.005),
    (20.005, 140.005), (-25.005, 70.005),
]


def _q_geo_polygon(spark, sf_dir):
    """LatLonShape polygon query (document/LatLonShape.java:48): bbox
    prune + even-odd ray-cast refine on decoded quantized coords; output
    includes the quantized ints so the gate verifies encode + refine."""
    from .search.geo import encode_latitude, encode_longitude, polygon_query

    d = polygon_query(_geo_docs(spark, sf_dir), _GEO_POLY)
    return d.select(
        "doc_id",
        encode_latitude(F.col("lat")).cast("long").alias("elat"),
        encode_longitude(F.col("lon")).cast("long").alias("elon"),
    )


def _sql_geo_polygon() -> str:
    from .search.geo import _py_enc, polygon_edge_sql

    lats = [v[0] for v in _GEO_POLY]
    lons = [v[1] for v in _GEO_POLY]
    lo_lat, hi_lat = _py_enc(min(lats), 90.0, ceil=True), _py_enc(max(lats), 90.0)
    lo_lon, hi_lon = _py_enc(min(lons), 180.0, ceil=True), _py_enc(max(lons), 180.0)
    refine = polygon_edge_sql(_GEO_POLY, "dlat", "dlon")
    return f"""WITH {_GEO_SQL_CTE},
gdec AS (
  SELECT doc_id, elat, elon,
         elat::DOUBLE / 2147483648.0 * 90.0 AS dlat,
         elon::DOUBLE / 2147483648.0 * 180.0 AS dlon
  FROM genc
)
SELECT doc_id, elat, elon FROM gdec
WHERE elat BETWEEN {lo_lat} AND {hi_lat}
  AND elon BETWEEN {lo_lon} AND {hi_lon}
  AND {refine}"""


_GEO3D_SQL_CTE = """geo AS (
  SELECT doc_id,
         ((doc_id * 37) % 18001) / 100.0 - 90.0 AS lat,
         ((doc_id * 73) % 36001) / 100.0 - 180.0 AS lon
  FROM documents
)"""

_GEO3D_CIRCLE = (12.0, 24.0, 1_234_567.0)  # qlat, qlon, radius_m
_GEO3D_PIECES = [  # composite of two ccw convex geodesic pieces (L-shape)
    [(-6.0, -12.0), (-6.0, 12.0), (6.0, 12.0), (6.0, -12.0)],
    [(6.0, -12.0), (6.0, 0.0), (18.0, 0.0), (18.0, -12.0)],
]
_GEO3D_PATH = ([(0.0, 0.0), (0.0, 30.0), (20.0, 45.0)], 777_000.0)


def _q_geo3d_circle(spark, sf_dir):
    """Geodesic cap (spatial3d GeoStandardCircle): membership via the 3D
    dot-product form p·center >= cos(r/R) — the oracle evaluates the
    identical double expression tree in DuckDB."""
    from .search.geo3d import geo3d_circle_query

    return geo3d_circle_query(
        _geo_docs(spark, sf_dir), *_GEO3D_CIRCLE
    ).select("doc_id")


def _sql_geo3d_circle() -> str:
    from .search.geo3d import circle_sql

    return f"""WITH {_GEO3D_SQL_CTE}
SELECT doc_id FROM geo WHERE {circle_sql(*_GEO3D_CIRCLE)}"""


def _q_geo3d_circle_wgs84(spark, sf_dir):
    """Geodesic cap on the WGS84 ellipsoid (GeoStandardCircle on
    PlanetModel.WGS84): sided plane through the ellipsoid points at
    lat±cutoff, tested against the ellipsoid-scaled point columns. The
    plane construction itself is pinned independently of this oracle by
    tests/test_geo3d_vectors.py (the reference's BKD-failure vectors)."""
    from .search.geo3d import geo3d_circle_query

    return geo3d_circle_query(
        _geo_docs(spark, sf_dir), *_GEO3D_CIRCLE, planet="wgs84"
    ).select("doc_id")


def _sql_geo3d_circle_wgs84() -> str:
    from .search.geo3d import circle_sql

    return f"""WITH {_GEO3D_SQL_CTE}
SELECT doc_id FROM geo WHERE {circle_sql(*_GEO3D_CIRCLE, planet="wgs84")}"""


_GEO3D_XYZ_BOX = (-2.0, 0.55, -2.0, 2.0, -0.45, 2.0)  # x<=0.55, z>=-0.45


def _q_geo3d_xyz_box(spark, sf_dir):
    """3D axis-aligned solid (StandardXYZSolid): six sided planes over
    the document's planet-model point. Plane math pinned independently
    by tests/test_geo3d_vectors.py (TestXYZSolid-derived vectors)."""
    from .search.geo3d import geo3d_xyz_solid_query

    return geo3d_xyz_solid_query(
        _geo_docs(spark, sf_dir), *_GEO3D_XYZ_BOX
    ).select("doc_id")


def _sql_geo3d_xyz_box() -> str:
    from .search.geo3d import xyz_solid_sql

    return f"""WITH {_GEO3D_SQL_CTE}
SELECT doc_id FROM geo WHERE {xyz_solid_sql(*_GEO3D_XYZ_BOX)}"""


_GEO3D_EXACT = (11.0, 23.0, 0.21, 1e-6)  # qlat, qlon, radius_rad, accuracy


def _q_geo3d_exact_circle(spark, sf_dir):
    """High-accuracy ellipsoid circle (GeoExactCircle): OR over
    subdivision slices of three sided-plane tests. Slice math pinned
    independently by tests/test_geo3d_vectors.py (TestGeoExactCircle
    vectors + sphere-agreement + Vincenty scale invariance)."""
    from .search.geo3d import geo3d_exact_circle_query

    return geo3d_exact_circle_query(
        _geo_docs(spark, sf_dir), *_GEO3D_EXACT, planet="wgs84"
    ).select("doc_id")


def _sql_geo3d_exact_circle() -> str:
    from .search.geo3d import exact_circle_sql

    return f"""WITH {_GEO3D_SQL_CTE}
SELECT doc_id FROM geo WHERE {exact_circle_sql(*_GEO3D_EXACT, planet="wgs84")}"""


def _q_geo3d_polygon(spark, sf_dir):
    """Geodesic composite polygon (GeoPolygonFactory convex pieces +
    GeoConvexPolygon sided-plane membership)."""
    from .search.geo3d import geo3d_composite_polygon_query

    return geo3d_composite_polygon_query(
        _geo_docs(spark, sf_dir), _GEO3D_PIECES
    ).select("doc_id")


def _sql_geo3d_polygon() -> str:
    from .search.geo3d import convex_polygon_sql

    disj = " OR ".join(
        f"({convex_polygon_sql(p)})" for p in _GEO3D_PIECES
    )
    return f"""WITH {_GEO3D_SQL_CTE}
SELECT doc_id FROM geo WHERE {disj}"""


def _q_geo3d_path(spark, sf_dir):
    """Geodesic path buffer (GeoStandardPath): cross-track distance in
    the projection window, endpoint caps outside it."""
    from .search.geo3d import geo3d_path_query

    return geo3d_path_query(
        _geo_docs(spark, sf_dir), *_GEO3D_PATH
    ).select("doc_id")


def _sql_geo3d_path() -> str:
    from .search.geo3d import path_sql

    return f"""WITH {_GEO3D_SQL_CTE}
SELECT doc_id FROM geo WHERE {path_sql(*_GEO3D_PATH)}"""


def _q_geo_nearest(spark, sf_dir):
    from .search.geo import nearest

    return nearest(_geo_docs(spark, sf_dir), *_GEO_Q, k=10)


def _sql_geo_nearest(k: int = 10) -> str:
    # ::DOUBLE casts keep DuckDB off its DECIMAL arithmetic path (which
    # overflows on literal*pi and would round differently anyway)
    qlat, qlon = (f"{v}::DOUBLE" for v in _GEO_Q)
    pi, r = "3.141592653589793::DOUBLE", "6371008.7714::DOUBLE"
    return f"""WITH {_GEO_SQL_CTE},
gdec AS (
  SELECT doc_id,
         elat::DOUBLE / 2147483648.0 * 90.0 AS lat,
         elon::DOUBLE / 2147483648.0 * 180.0 AS lon
  FROM genc
),
gd AS (
  SELECT doc_id,
         2.0 * {r} * asin(sqrt(
           pow(sin((({qlat} - lat) * {pi} / 180.0) / 2.0), 2.0)
           + cos(lat * {pi} / 180.0) * cos({qlat} * {pi} / 180.0)
             * pow(sin((({qlon} - lon) * {pi} / 180.0) / 2.0), 2.0)
         )) AS dist_m
  FROM gdec
)
SELECT doc_id, round(dist_m, 3) AS dist_m FROM (
  SELECT * FROM gd ORDER BY dist_m ASC, doc_id ASC LIMIT {k}
)"""


# --- XY cartesian geometry (document/XYPointField.java, geo/XYCircle,
# geo/XYPolygon) — planar twin of the LatLon family; coords are float32
# (XYEncodingUtils), widened to double identically in both engines.

_XY_BOX = (10.005, 60.005, -40.005, 25.005)  # min_x, max_x, min_y, max_y
_XY_Q, _XY_R = (12.345, -7.89), 30.0
_XY_POLY = [
    (0.005, 10.005), (40.005, 30.005), (60.005, 90.005),
    (20.005, 95.005), (-25.005, 70.005),
]  # (x, y) pentagon off the 0.01 grid


def _xy_docs(spark, sf_dir):
    """documents with deterministic synthetic cartesian coordinates."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        ((F.col("doc_id") * 131 % 2001) / 10.0 - 100.0).alias("x"),
        ((F.col("doc_id") * 197 % 2001) / 10.0 - 100.0).alias("y"),
    )


_XY_SQL_CTE = """
xy0 AS (
  SELECT doc_id,
         ((doc_id * 131) % 2001) / 10.0 - 100.0 AS rx,
         ((doc_id * 197) % 2001) / 10.0 - 100.0 AS ry
  FROM documents
),
xy AS (
  SELECT doc_id, (rx::FLOAT)::DOUBLE AS x, (ry::FLOAT)::DOUBLE AS y FROM xy0
)"""


def _q_xy_box(spark, sf_dir):
    from .search.geo import xy_box_query

    return xy_box_query(_xy_docs(spark, sf_dir), *_XY_BOX).select(
        "doc_id",
        F.col("x").cast("float").cast("double").alias("qx"),
        F.col("y").cast("float").cast("double").alias("qy"),
    )


def _sql_xy_box() -> str:
    min_x, max_x, min_y, max_y = _XY_BOX
    return f"""WITH {_XY_SQL_CTE}
SELECT doc_id, x AS qx, y AS qy FROM xy
WHERE x >= {min_x!r} AND x <= {max_x!r} AND y >= {min_y!r} AND y <= {max_y!r}"""


def _q_xy_distance(spark, sf_dir):
    from .search.geo import xy_distance_query

    return xy_distance_query(
        _xy_docs(spark, sf_dir), *_XY_Q, _XY_R
    ).select(
        "doc_id",
        F.col("x").cast("float").cast("double").alias("qx"),
        F.col("y").cast("float").cast("double").alias("qy"),
    )


def _sql_xy_distance() -> str:
    qx, qy = _XY_Q
    return f"""WITH {_XY_SQL_CTE}
SELECT doc_id, x AS qx, y AS qy FROM xy
WHERE x >= {qx - _XY_R!r} AND x <= {qx + _XY_R!r}
  AND y >= {qy - _XY_R!r} AND y <= {qy + _XY_R!r}
  AND (x - {qx!r}) * (x - {qx!r}) + (y - {qy!r}) * (y - {qy!r})
      <= {_XY_R!r} * {_XY_R!r}"""


def _q_xy_polygon(spark, sf_dir):
    from .search.geo import xy_polygon_query

    return xy_polygon_query(_xy_docs(spark, sf_dir), _XY_POLY).select(
        "doc_id",
        F.col("x").cast("float").cast("double").alias("qx"),
        F.col("y").cast("float").cast("double").alias("qy"),
    )


def _sql_xy_polygon() -> str:
    from .search.geo import polygon_edge_sql

    xs = [v[0] for v in _XY_POLY]
    ys = [v[1] for v in _XY_POLY]
    verts_yx = [(y, x) for x, y in _XY_POLY]
    refine = polygon_edge_sql(verts_yx, "y", "x")
    return f"""WITH {_XY_SQL_CTE}
SELECT doc_id, x AS qx, y AS qy FROM xy
WHERE x >= {min(xs)!r} AND x <= {max(xs)!r}
  AND y >= {min(ys)!r} AND y <= {max(ys)!r}
  AND {refine}"""


_GEO_FEAT_PIVOT, _GEO_FEAT_W = 2_000_000.0, 2.0


def _q_geo_distance_feature(spark, sf_dir):
    """LatLonPointDistanceFeatureQuery (document/LatLonPointDistance-
    FeatureQuery.java:64): weight · pivot / (pivot + haversine) over the
    quantized coords — geo boost-by-proximity, top-10."""
    from .search.geo import distance_feature

    return distance_feature(
        _geo_docs(spark, sf_dir), *_GEO_Q,
        pivot_m=_GEO_FEAT_PIVOT, weight=_GEO_FEAT_W, k=10,
    )


def _sql_geo_distance_feature(k: int = 10) -> str:
    qlat, qlon = (f"{v}::DOUBLE" for v in _GEO_Q)
    pi, r = "3.141592653589793::DOUBLE", "6371008.7714::DOUBLE"
    p, w = f"{_GEO_FEAT_PIVOT!r}::DOUBLE", f"{_GEO_FEAT_W!r}::DOUBLE"
    return f"""WITH {_GEO_SQL_CTE},
gdec AS (
  SELECT doc_id,
         elat::DOUBLE / 2147483648.0 * 90.0 AS lat,
         elon::DOUBLE / 2147483648.0 * 180.0 AS lon
  FROM genc
),
gd AS (
  SELECT doc_id,
         {w} * ({p} / ({p} + 2.0 * {r} * asin(sqrt(
           pow(sin((({qlat} - lat) * {pi} / 180.0) / 2.0), 2.0)
           + cos(lat * {pi} / 180.0) * cos({qlat} * {pi} / 180.0)
             * pow(sin((({qlon} - lon) * {pi} / 180.0) / 2.0), 2.0)
         )))) AS score
  FROM gdec
)
SELECT doc_id, round(score, 6) AS score FROM (
  SELECT * FROM gd ORDER BY score DESC, doc_id ASC LIMIT {k}
)"""


# --- range fields (document/RangeFieldQuery.java:60) -------------------------
# lineitem rows carry a synthetic integer interval [lo, hi] with
# lo = l_partkey % 1000 and hi = lo + int(l_quantity) — integer-exact in
# both engines; each relation row uses a query interval chosen so its
# match set is nonzero at every SF.

_RANGE_QUERIES = {
    "intersects": (200, 230),
    "within": (150, 250),
    "contains": (200, 230),
    "crosses": (200, 230),
}


def _q_range_field(relation: str):
    def q(spark, sf_dir):
        from .search.misc import range_field_query

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        ranged = li.select(
            "l_orderkey",
            "l_linenumber",
            (F.col("l_partkey") % 1000).cast("long").alias("lo"),
            (
                (F.col("l_partkey") % 1000) + F.col("l_quantity").cast("long")
            ).cast("long").alias("hi"),
        )
        q_lo, q_hi = _RANGE_QUERIES[relation]
        return range_field_query(ranged, "lo", "hi", q_lo, q_hi, relation)

    return q


def _sql_range_field(relation: str) -> str:
    q_lo, q_hi = _RANGE_QUERIES[relation]
    preds = {
        "intersects": f"(lo <= {q_hi} AND hi >= {q_lo})",
        "within": f"(lo >= {q_lo} AND hi <= {q_hi})",
        "contains": f"(lo <= {q_lo} AND hi >= {q_hi})",
        "crosses": (
            f"((lo <= {q_hi} AND hi >= {q_lo})"
            f" AND NOT (lo >= {q_lo} AND hi <= {q_hi})"
            f" AND NOT (lo <= {q_lo} AND hi >= {q_hi}))"
        ),
    }
    return f"""WITH r AS (
  SELECT l_orderkey, l_linenumber,
         (l_partkey % 1000)::BIGINT AS lo,
         ((l_partkey % 1000) + l_quantity::BIGINT)::BIGINT AS hi
  FROM lineitem
)
SELECT l_orderkey, l_linenumber, lo, hi FROM r WHERE {preds[relation]}"""


# --- similarity search ------------------------------------------------------

def _qvec(spark, sf_dir) -> list[float]:
    row = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .collect()
    )
    return [float(x) for x in row[0]["embedding"]]


def _q_simsearch(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return _ss.cosine_topk(emb, _qvec(spark, sf_dir), k=10)


_COS_SQL = """list_dot_product(e.embedding::DOUBLE[], q.qv::DOUBLE[])
      / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
         * sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[])))"""

_SEM_T, _SEM_BITS = 0.4, 4  # synthetic embeddings are near-orthogonal
# (max intra-bucket cosine ~0.51 at sf0.01), so the gate threshold sits
# below a real dedup setting (>=0.95) to exercise nonzero pairs


def _q_semantic_dedup(spark, sf_dir):
    """SemDeDup-style near-dup pairs: same sign-bit bucket, cosine >= t."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return _ss.semantic_dup_pairs(emb, threshold=_SEM_T, n_bits=_SEM_BITS)


def _sql_semantic_dedup() -> str:
    key = " || ".join(
        f"(CASE WHEN embedding[{i + 1}] >= 0 THEN '1' ELSE '0' END)"
        for i in range(_SEM_BITS)
    )
    cos = """list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
      / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
         * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))"""
    return f"""WITH k AS (SELECT vec_id, embedding, {key} AS bkey FROM embeddings),
p AS (
  SELECT a.vec_id AS a, b.vec_id AS b, {cos} AS cos
  FROM k a JOIN k b ON a.bkey = b.bkey AND a.vec_id < b.vec_id
)
SELECT a, b, round(cos, 4) AS cos FROM p WHERE cos >= {_SEM_T}"""


def _q_semantic_dedup_ivf(spark, sf_dir):
    """SemDeDup with LEARNED k-means clusters (Abbas et al. 2023,
    arXiv:2303.09540 — the paper's recipe): candidate pairs restricted to
    one IVF cell (ivf_train's one-Lloyd-step k-means), exact cosine
    within. Oracle replays the same deterministic train/assign as the
    simsearch_ivf rows."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return _ss.semantic_dup_pairs_ivf(emb, threshold=_SEM_T, n_centroids=16)


def _sql_semantic_dedup_ivf(dim: int = 64, c: int = 16) -> str:
    """ivf_train replay (same CTE shapes as _sql_simsearch_ivf) + the
    within-cell pair join of _sql_semantic_dedup."""
    e_el = lambda i: f"e.embedding[{i + 1}]::DOUBLE"  # noqa: E731
    s_el = lambda i: f"s.c[{i + 1}]"  # noqa: E731
    c_el = lambda i: f"c.d{i}"  # noqa: E731
    cent_cols = ",\n       ".join(
        f"round(avg(embedding[{i + 1}]::DOUBLE), 6) AS d{i}" for i in range(dim)
    )
    cos = """list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
      / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
         * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))"""
    return f"""WITH seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding::DOUBLE[] AS c
  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {c})
),
a0 AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT e.vec_id, e.embedding, s.cell,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_sql_sq_l2(e_el, s_el, dim)}, s.cell
           ) AS rn
    FROM embeddings e, seeds s
  ) WHERE rn = 1
),
cent AS (
  SELECT cell,
       {cent_cols}
  FROM a0 GROUP BY cell
),
a1 AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT e.vec_id, e.embedding, c.cell,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_sql_sq_l2(e_el, c_el, dim)}, c.cell
           ) AS rn
    FROM embeddings e, cent c
  ) WHERE rn = 1
),
p AS (
  SELECT a.vec_id AS a, b.vec_id AS b, {cos} AS cos
  FROM a1 a JOIN a1 b ON a.cell = b.cell AND a.vec_id < b.vec_id
)
SELECT a, b, round(cos, 4) AS cos FROM p WHERE cos >= {_SEM_T}"""


_SQL_SIMSEARCH = f"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
s AS (
  SELECT e.vec_id,
    {_COS_SQL} AS cos
  FROM embeddings e, q
)
SELECT vec_id, round(cos, 4) AS cos FROM (
  SELECT * FROM s ORDER BY cos DESC, vec_id ASC LIMIT 10
)"""


def _q_knn_filtered(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return _ss.knn_filtered(
        emb, _qvec(spark, sf_dir), filter_expr="label % 3 = 1", k=10
    )


_SQL_KNN_FILTERED = f"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
s AS (
  SELECT e.vec_id,
    {_COS_SQL} AS cos
  FROM embeddings e, q
  WHERE e.label % 3 = 1
)
SELECT vec_id, round(cos, 4) AS cos FROM (
  SELECT * FROM s ORDER BY cos DESC, vec_id ASC LIMIT 10
)"""


def _q_simsearch_ivf(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return _ss.ivf_topk(
        emb, _qvec(spark, sf_dir), k=10, n_centroids=16, n_probe=4
    )


def _sql_sq_l2(elem, cent, dim: int) -> str:
    """Left-assoc sum of squared diffs — the exact fold order of both the
    engine's F.aggregate(zip_with(...)) and the driver-side python sum, so
    argmin ties resolve identically in DuckDB."""
    expr = "0.0"
    for i in range(dim):
        t = f"({elem(i)} - {cent(i)})"
        expr = f"({expr} + ({t} * {t}))"
    return expr


def _sql_simsearch_ivf(dim: int = 64, c: int = 16, probe: int = 4, k: int = 10) -> str:
    """Replays ivf_train/ivf_topk: seeds = first ``c`` vec_ids, one Lloyd
    step with centroids rounded to 6dp, multi-probe + exact cosine."""
    e_el = lambda i: f"e.embedding[{i + 1}]::DOUBLE"  # noqa: E731
    s_el = lambda i: f"s.c[{i + 1}]"  # noqa: E731
    c_el = lambda i: f"c.d{i}"  # noqa: E731
    q_el = lambda i: f"q.qv[{i + 1}]"  # noqa: E731
    cent_cols = ",\n       ".join(
        f"round(avg(embedding[{i + 1}]::DOUBLE), 6) AS d{i}" for i in range(dim)
    )
    return f"""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding::DOUBLE[] AS c
  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {c})
),
a0 AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT e.vec_id, e.embedding, s.cell,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_sql_sq_l2(e_el, s_el, dim)}, s.cell
           ) AS rn
    FROM embeddings e, seeds s
  ) WHERE rn = 1
),
cent AS (
  SELECT cell,
       {cent_cols}
  FROM a0 GROUP BY cell
),
a1 AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT e.vec_id, e.embedding, c.cell,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_sql_sq_l2(e_el, c_el, dim)}, c.cell
           ) AS rn
    FROM embeddings e, cent c
  ) WHERE rn = 1
),
probes AS (
  SELECT cell FROM (
    SELECT c.cell,
           row_number() OVER (
             ORDER BY {_sql_sq_l2(q_el, c_el, dim)}, c.cell
           ) AS rn
    FROM cent c, q
  ) WHERE rn <= {probe}
),
s AS (
  SELECT e.vec_id,
    {_COS_SQL} AS cos
  FROM a1 e, q
  WHERE e.cell IN (SELECT cell FROM probes)
)
SELECT vec_id, round(cos, 4) AS cos FROM (
  SELECT * FROM s ORDER BY cos DESC, vec_id ASC LIMIT {k}
)"""


def _q_simsearch_hnsw(spark, sf_dir):
    """Graph ANN (per-leaf HNSW, util/hnsw/HnswGraphSearcher.java:36-60).
    ef_search is generous relative to the leaf size, so the search is
    exact-recall on the gate corpus and the oracle is exact cosine top-k
    (recall verified separately in tests/test_hnsw.py)."""
    from .pipeline import hnsw as _hnsw

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return _hnsw.hnsw_topk(
        emb, _qvec(spark, sf_dir), k=10, ef_search=128, n_leaves=2
    )


def _q_simsearch_hnsw_persisted(spark, sf_dir):
    """Write-time HNSW graphs (Lucene99HnswVectorsFormat analog: graph
    written at flush, search-only at query time). Graph cached like the
    purpose-built indexes; ef generous ⇒ exact recall, oracle = exact
    cosine top-k."""
    from .pipeline import hnsw as _hnsw

    name = sf_dir.strip("/").replace("/", "_") + "_hnswgraph"
    path = f"{_GATE_ROOT}/{_FORMAT_V}/{name}"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    if not os.path.exists(os.path.join(path, "meta.json")):
        _hnsw.hnsw_write(emb, path, n_leaves=2, m=16)
    return _hnsw.hnsw_topk_persisted(
        spark, emb, path, _qvec(spark, sf_dir), k=10, ef_search=128
    )


def _q_simsearch_hnsw_quantized(spark, sf_dir):
    """int8 scalar-quantized vector search
    (Lucene99ScalarQuantizedVectorsFormat.java:40): the graph search runs
    on 7-bit codes (1/4 the float32 scan bandwidth), then the oversampled
    candidates are rescored with exact float cosine — generous ef +
    oversample make the re-ranked top-k exact on the gate corpus, so the
    oracle is exact cosine top-k."""
    from .pipeline import hnsw as _hnsw

    name = sf_dir.strip("/").replace("/", "_") + "_hnswq"
    path = f"{_GATE_ROOT}/{_FORMAT_V}/{name}"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    if not os.path.exists(os.path.join(path, "meta.json")):
        _hnsw.hnsw_write(emb, path, n_leaves=2, m=16, quantize=True)
    return _hnsw.hnsw_topk_quantized(
        spark, emb, path, _qvec(spark, sf_dir), k=10, ef_search=128,
        oversample=3,
    )


def _q_simsearch_hnsw_appended(spark, sf_dir):
    """Incremental HNSW append (pipeline/hnsw.py hnsw_append — the NRT
    segment-append analog: committed leaves untouched, the appended batch
    becomes a new leaf routed by the persisted ownership table). The graph
    is written over 80% of the vectors and the remaining 20% appended;
    generous ef ⇒ exact recall, oracle = exact cosine top-k over the FULL
    table, so a silently-unsearchable appended vector fails the hash."""
    from .pipeline import hnsw as _hnsw

    name = sf_dir.strip("/").replace("/", "_") + "_hnswappend"
    path = f"{_GATE_ROOT}/{_FORMAT_V}/{name}"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    if not os.path.exists(os.path.join(path, "assign")):
        _hnsw.hnsw_write(
            emb.filter("vec_id % 5 != 0"), path, n_leaves=2, m=16
        )
        _hnsw.hnsw_append(
            spark, emb.filter("vec_id % 5 = 0"), path, n_new_leaves=1
        )
    return _hnsw.hnsw_topk_persisted(
        spark, emb, path, _qvec(spark, sf_dir), k=10, ef_search=128
    )


def _q_knn_filtered_hnsw(spark, sf_dir):
    """Filtered vector search THROUGH the persisted HNSW graph
    (KnnFloatVectorQuery.java:61 + HnswGraphSearcher acceptOrds): the
    accept flag is a Catalyst predicate evaluated JVM-side, the per-leaf
    cost switch picks graph+mask or exact-over-survivors (selective
    filters like this one resolve to the exact arm — recall 1.0 by
    construction, so the oracle is exact cosine over the filtered set)."""
    from .pipeline import hnsw as _hnsw

    name = sf_dir.strip("/").replace("/", "_") + "_hnswgraph"
    path = f"{_GATE_ROOT}/{_FORMAT_V}/{name}"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    if not os.path.exists(os.path.join(path, "meta.json")):
        _hnsw.hnsw_write(emb, path, n_leaves=2, m=16)
    return _hnsw.hnsw_topk_persisted(
        spark, emb, path, _qvec(spark, sf_dir), k=10, ef_search=128,
        filter_expr="label % 3 = 1",
    )


def _q_knn_filtered_quantized(spark, sf_dir):
    """Filtered search over the int8-QUANTIZED persisted graph —
    quantization composed with acceptDocs (KnnFloatVectorQuery.java:61
    runs over any VectorScorer, quantized included). The 10% filter is
    selective enough that the per-leaf cost switch takes the
    exact-over-survivors arm at every gate SF (n_acc <= ef 256), and the
    float rescore re-applies the predicate, so the oracle is exact
    cosine over the filtered set."""
    from .pipeline import hnsw as _hnsw

    name = sf_dir.strip("/").replace("/", "_") + "_hnswq"
    path = f"{_GATE_ROOT}/{_FORMAT_V}/{name}"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    if not os.path.exists(os.path.join(path, "meta.json")):
        _hnsw.hnsw_write(emb, path, n_leaves=2, m=16, quantize=True)
    return _hnsw.hnsw_topk_quantized(
        spark, emb, path, _qvec(spark, sf_dir), k=10, ef_search=256,
        oversample=3, filter_expr="label % 10 = 1",
    )


_SQL_KNN_FILTERED_QUANTIZED = """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
s AS (
  SELECT e.vec_id,
    {cos} AS cos
  FROM embeddings e, q
  WHERE e.label % 10 = 1
)
SELECT vec_id, round(cos, 4) AS cos FROM (
  SELECT * FROM s ORDER BY cos DESC, vec_id ASC LIMIT 10
)"""


def _q_simsearch_hnsw_seeded(spark, sf_dir):
    """SeededKnnVectorQuery (search/SeededKnnVectorQuery.java:43 —
    Kulkarni et al. SIGIR'23): seed ids (a lexical query's top docs) enter
    the layer-0 beam as entry points; leaves without seeds keep the
    hierarchy descent. ef generous ⇒ exact recall on the gate corpus, so
    the oracle is exact cosine top-k; the tiny-ef recall advantage is
    pinned in tests/test_hnsw_seeded.py."""
    from .pipeline import hnsw as _hnsw

    name = sf_dir.strip("/").replace("/", "_") + "_hnswgraph"
    path = f"{_GATE_ROOT}/{_FORMAT_V}/{name}"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    if not os.path.exists(os.path.join(path, "meta.json")):
        _hnsw.hnsw_write(emb, path, n_leaves=2, m=16)
    return _hnsw.hnsw_topk_persisted(
        spark, emb, path, _qvec(spark, sf_dir), k=10, ef_search=128,
        seed_ids=[0, 17, 123, 250],
    )


def _q_simsearch_hnsw_patience(spark, sf_dir):
    """PatienceKnnVectorQuery (search/PatienceKnnVectorQuery.java:40):
    saturation-based early exit through the persisted graph. The gate pins
    the PLUMBING with a patience larger than any leaf (early exit provably
    cannot fire ⇒ exact-recall oracle applies); the early-exit behavior
    itself — no-op threshold, recall under the reference default, zero
    patience — is pinned in tests/test_hnsw_patience.py."""
    from .pipeline import hnsw as _hnsw

    name = sf_dir.strip("/").replace("/", "_") + "_hnswgraph"
    path = f"{_GATE_ROOT}/{_FORMAT_V}/{name}"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    if not os.path.exists(os.path.join(path, "meta.json")):
        _hnsw.hnsw_write(emb, path, n_leaves=2, m=16)
    return _hnsw.hnsw_topk_persisted(
        spark, emb, path, _qvec(spark, sf_dir), k=10, ef_search=128,
        saturation_threshold=0.995, patience=1000,
    )


def _q_simsearch_ivf_persisted(spark, sf_dir):
    """Write-time IVF (train + assign once, table partitioned by cell;
    the inverted-file twin of the persisted HNSW row). The query reads
    ONLY its n_probe cell partitions — score-identical to ivf_topk with
    the same centroids, so the oracle is the same full IVF replay."""
    name = sf_dir.strip("/").replace("/", "_") + "_ivfcells"
    path = f"{_GATE_ROOT}/{_FORMAT_V}/{name}"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    if not os.path.exists(os.path.join(path, "meta.json")):
        _ss.ivf_write(emb, path, n_centroids=16)
    return _ss.ivf_topk_persisted(
        spark, path, _qvec(spark, sf_dir), k=10, n_probe=4
    )


def _q_ivf_cell_stats(spark, sf_dir):
    """Cell-skew observability over the persisted IVF table
    (simsearch.ivf_cell_stats — the documented 4-8x rebuild-threshold
    monitor for ivf_append drift). The oracle replays the full IVF
    training (seeds -> one Lloyd step, 6dp centroids) and the argmin
    assignment in pure SQL, then aggregates per-cell counts/fraction/
    ratio-to-mean/flag — an end-to-end independent recomputation of the
    engine's write-time partitioning."""
    name = sf_dir.strip("/").replace("/", "_") + "_ivfcells"
    path = f"{_GATE_ROOT}/{_FORMAT_V}/{name}"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    if not os.path.exists(os.path.join(path, "meta.json")):
        _ss.ivf_write(emb, path, n_centroids=16)
    return _ss.ivf_cell_stats(spark, path)


def _sql_ivf_cell_stats(dim: int = 64, c: int = 16) -> str:
    """Per-cell stats over the SQL-replayed IVF assignment (same CTEs as
    _sql_simsearch_ivf through a1)."""
    e_el = lambda i: f"e.embedding[{i + 1}]::DOUBLE"  # noqa: E731
    s_el = lambda i: f"s.c[{i + 1}]"  # noqa: E731
    c_el = lambda i: f"c.d{i}"  # noqa: E731
    cent_cols = ",\n       ".join(
        f"round(avg(embedding[{i + 1}]::DOUBLE), 6) AS d{i}" for i in range(dim)
    )
    return f"""WITH seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding::DOUBLE[] AS c
  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {c})
),
a0 AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT e.vec_id, e.embedding, s.cell,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_sql_sq_l2(e_el, s_el, dim)}, s.cell
           ) AS rn
    FROM embeddings e, seeds s
  ) WHERE rn = 1
),
cent AS (
  SELECT cell,
       {cent_cols}
  FROM a0 GROUP BY cell
),
a1 AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_sql_sq_l2(e_el, c_el, dim)}, c.cell
           ) AS rn
    FROM embeddings e, cent c
  ) WHERE rn = 1
),
allcells AS (SELECT range::INT AS cell FROM range({c})),
counts AS (
  SELECT ac.cell, count(a1.vec_id)::BIGINT AS n
  FROM allcells ac LEFT JOIN a1 ON a1.cell = ac.cell
  GROUP BY ac.cell
),
tot AS (SELECT sum(n)::DOUBLE AS t FROM counts)
SELECT c2.cell, c2.n,
       round(c2.n / tot.t, 6) AS fraction,
       round(c2.n / (tot.t / {c}), 4) AS ratio_to_mean,
       (c2.n / (tot.t / {c}) > 4.0) AS skewed
FROM counts c2, tot
ORDER BY c2.cell"""


def _q_simsearch_ivf_appended(spark, sf_dir):
    """Incremental IVF append (pipeline/simsearch.ivf_append — assign
    against the frozen write-time centroids, parquet-append into the cell
    partitions). Centroids are trained on the FULL table, 80% written and
    20% appended, so the searched content equals a full build with the
    same centroids and the oracle is the unchanged full IVF replay — a
    silently-unsearchable appended vector fails the hash."""
    import shutil

    name = sf_dir.strip("/").replace("/", "_") + "_ivfappend"
    path = f"{_GATE_ROOT}/{_FORMAT_V}/{name}"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    meta_path = os.path.join(path, "meta.json")
    done = False
    if os.path.exists(meta_path):
        import json

        with open(meta_path) as fh:
            done = json.load(fh).get("appended", False)
    if not done:
        shutil.rmtree(path, ignore_errors=True)
        cents = _ss.ivf_train(emb, 16)
        _ss.ivf_write(
            emb.filter("vec_id % 5 != 0"), path, n_centroids=16,
            centroids=cents,
        )
        _ss.ivf_append(spark, emb.filter("vec_id % 5 = 0"), path)
    return _ss.ivf_topk_persisted(
        spark, path, _qvec(spark, sf_dir), k=10, n_probe=4
    )


def _q_simsearch_bucket(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return _ss.signbucket_topk(emb, _qvec(spark, sf_dir), k=10, n_bits=8)


_BUCKET_KEY = "||".join(
    f"(CASE WHEN {{v}}[{i + 1}] >= 0 THEN '1' ELSE '0' END)" for i in range(8)
)

_SQL_SIMSEARCH_BUCKET = f"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
cands AS (
  SELECT e.vec_id, e.embedding, q.qv FROM embeddings e, q
  WHERE {_BUCKET_KEY.format(v="e.embedding")} = {_BUCKET_KEY.format(v="q.qv")}
),
s AS (
  SELECT e.vec_id,
    {_COS_SQL} AS cos
  FROM cands e, q
)
SELECT vec_id, round(cos, 4) AS cos FROM (
  SELECT * FROM s ORDER BY cos DESC, vec_id ASC LIMIT 10
)"""


# FloatVectorSimilarityQuery (search/AbstractVectorSimilarityQuery.java:46):
# threshold retrieval — EVERY vector meeting resultSimilarity, no k. The
# brute arm is one map-only filtered scan; the graph arm (gate row below)
# runs the VectorSimilarityCollector traversal over the persisted HNSW
# graphs with an exhaustive traversal bound, so both rows share one oracle.
_VSIM_T = 0.3


def _q_vector_similarity(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return _ss.similarity_threshold(emb, _qvec(spark, sf_dir), _VSIM_T)


def _q_vector_similarity_graph(spark, sf_dir):
    """Graph arm (search/VectorSimilarityCollector.java): similarity-bounded
    traversal of the persisted per-leaf graphs; traversal_sim=-1 explores
    every connected node so the result is exact and the brute oracle
    applies (bounded-traversal recall is covered by pytest)."""
    from .pipeline import hnsw as _hnsw

    name = sf_dir.strip("/").replace("/", "_") + "_hnswgraph"
    path = f"{_GATE_ROOT}/{_FORMAT_V}/{name}"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    if not os.path.exists(os.path.join(path, "meta.json")):
        _hnsw.hnsw_write(emb, path, n_leaves=2, m=16)
    return _hnsw.similarity_threshold_persisted(
        spark, emb, path, _qvec(spark, sf_dir),
        result_sim=_VSIM_T, traversal_sim=-1.0,
    )


_SQL_VECTOR_SIMILARITY = f"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
s AS (
  SELECT e.vec_id,
    {_COS_SQL} AS sim
  FROM embeddings e, q
)
SELECT vec_id, round(sim, 4) AS sim FROM s
WHERE sim >= {_VSIM_T} ORDER BY sim DESC, vec_id ASC"""


# Byte vectors (search/KnnByteVectorQuery.java:38 + ByteVectorSimilarity-
# Query.java:30): deterministic int8 quantization floor(x*127 + 0.5)
# clamped to [-127,127], similarity = 0.5 + dot/(dim * 2^15)
# (VectorSimilarityFunction.java:66 byte branch). dim = 64 on the
# embeddings table.
_BSIM_T = 0.502


def _qbytes(spark, sf_dir) -> list[int]:
    import math as _math

    return [
        int(max(-127, min(127, _math.floor(float(x) * 127.0 + 0.5))))
        for x in _qvec(spark, sf_dir)
    ]


def _q_byte_vector_similarity(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    b = _ss.float_to_byte_vectors(emb)
    return _ss.byte_similarity_threshold(b, _qbytes(spark, sf_dir), _BSIM_T)


def _q_byte_vector_topk(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    b = _ss.float_to_byte_vectors(emb)
    return _ss.byte_topk(b, _qbytes(spark, sf_dir), k=10)


_BYTE_SIM_CTE = """b AS (
  SELECT vec_id,
         list_transform(
           embedding::DOUBLE[],
           x -> greatest(-127, least(127, floor(x * 127.0 + 0.5)))
         ) AS bvec
  FROM embeddings
),
q AS (SELECT bvec AS qb FROM b WHERE vec_id = 0),
s AS (
  SELECT b.vec_id,
         0.5 + list_dot_product(b.bvec, q.qb) / (64 * 32768.0) AS sim
  FROM b, q
)"""

_SQL_BYTE_VECTOR_SIMILARITY = f"""WITH {_BYTE_SIM_CTE}
SELECT vec_id, round(sim, 6) AS sim FROM s
WHERE sim >= {_BSIM_T} ORDER BY sim DESC, vec_id ASC"""

_SQL_BYTE_VECTOR_TOPK = f"""WITH {_BYTE_SIM_CTE}
SELECT vec_id, round(sim, 6) AS sim FROM (
  SELECT * FROM s ORDER BY sim DESC, vec_id ASC LIMIT 10
)"""


def _q_knn_diversified_children(spark, sf_dir):
    """DiversifyingChildrenFloatKnnVectorQuery (join/DiversifyingChildren-
    FloatKnnVectorQuery.java:43): kNN over child vectors deduplicated by
    parent — each parent represented by its best child, top-k parents."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return _ss.diversified_children_topk(
        emb, _qvec(spark, sf_dir), k=5, parent_col="label"
    )


_SQL_KNN_DIVERSIFIED = f"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
s AS (
  SELECT e.label AS parent, e.vec_id,
    {_COS_SQL} AS cos
  FROM embeddings e, q
),
r AS (
  SELECT parent, vec_id, cos,
         row_number() OVER (PARTITION BY parent ORDER BY cos DESC, vec_id ASC) AS rn
  FROM s
)
SELECT parent, vec_id, round(cos, 4) AS cos FROM (
  SELECT * FROM r WHERE rn = 1 ORDER BY cos DESC, parent ASC LIMIT 5
)"""


# --- events -----------------------------------------------------------------

def _q_events_hourly(spark, sf_dir):
    return _ev.hourly_rollup(spark.read.parquet(f"{sf_dir}/events.parquet"))


_SQL_EVENTS_HOURLY = """
SELECT epoch_us(ts) // 3600000000 AS hour, event_type,
       count(*)::BIGINT AS n, round(sum(value), 4) AS sum_value
FROM events GROUP BY 1, 2"""


def _q_events_sliding(spark, sf_dir):
    """Sliding-window rollup: 60-minute windows sliding by 15 — every
    event lands in 4 overlapping windows (the streaming window('60m','15m')
    shape in batch form)."""
    return _ev.sliding_rollup(
        spark.read.parquet(f"{sf_dir}/events.parquet"),
        window_minutes=60, slide_minutes=15,
    )


# each event belongs to the 4 slide-aligned windows covering it:
# w_start_us = (floor(e/slide) - j) * slide for j in 0..3, all of which
# satisfy w_start > e - len when len = 4*slide (exact integer micros)
_SQL_EVENTS_SLIDING = """WITH e AS (
  SELECT event_type, value, epoch_us(ts) AS eu FROM events
),
wins AS (
  SELECT e.event_type, e.value,
         ((eu // 900000000) - j.j) * 900000000 AS ws
  FROM e, generate_series(0, 3) AS j(j)
  WHERE ((eu // 900000000) - j.j) * 900000000 > eu - 3600000000
)
SELECT ws // 1000000 AS w_start, event_type,
       count(*)::BIGINT AS n, round(sum(value), 4) AS sum_value
FROM wins GROUP BY 1, 2"""


def _q_sessionize(spark, sf_dir):
    return _ev.sessionize(spark.read.parquet(f"{sf_dir}/events.parquet"))


_SQL_SESSIONIZE = """
WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS e FROM events),
m AS (
  SELECT user_id,
         CASE WHEN lag(e) OVER w IS NULL OR e - lag(e) OVER w > 1800000000
              THEN 1 ELSE 0 END AS ns
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY e, event_id)
)
SELECT user_id, count(*)::BIGINT AS n_events, sum(ns)::BIGINT AS n_sessions
FROM m GROUP BY user_id"""


def _q_props_rollup(spark, sf_dir):
    return _ev.props_rollup(spark.read.parquet(f"{sf_dir}/events.parquet"))


_SQL_PROPS_ROLLUP = """
WITH e AS (
  SELECT event_type, nullif(regexp_extract(props, '"k": (\\d+)', 1), '')::BIGINT AS k
  FROM events
)
SELECT event_type, count(*)::BIGINT AS n, sum(k)::BIGINT AS sum_k,
       round(sum(k)::DOUBLE / count(*)::DOUBLE, 4) AS avg_k
FROM e GROUP BY event_type"""


# --- multimodal: real image-header decode -----------------------------------

def _q_multimodal(spark, sf_dir):
    """REAL header decode over synthesized byte-valid images: the engine
    parses PNG IHDR / JPEG SOFn / GIF screen-descriptor bytes with pure
    struct; the oracle recomputes the expected metadata from the synth's
    doc_id arithmetic (format = doc_id%3, width = 160 + doc_id%241,
    height = 90 + doc_id%181, n_bytes = header base + doc_id%50) — the
    engine never sees the formulas, only the bytes."""
    return _mm.image_metadata(_mm.attach_image_payload(_docs(spark, sf_dir)))


_SQL_MULTIMODAL = f"""
SELECT doc_id,
       (CASE doc_id % 3 WHEN 0 THEN {_mm.PNG_BASE} WHEN 1 THEN {_mm.JPEG_BASE}
             ELSE {_mm.GIF_BASE} END + doc_id % 50)::BIGINT AS n_bytes,
       CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'gif' END AS format,
       (160 + doc_id % 241)::INT AS width,
       (90 + doc_id % 181)::INT AS height
FROM documents"""


# ---------------------------------------------------------------------------
# payloads: per-position ints stored in the postings blocks at build time,
# aggregated by PayloadScoreQuery (queries/payloads/PayloadScoreQuery.java).
# The build-time payload function is position-derived ((pos*31+7) % 97 — a
# NumericPayloadTokenFilter analog), so the oracle recomputes it from the
# toks CTE; the ENGINE reads the stored payloads_enc bytes, never positions.
# ---------------------------------------------------------------------------

_PAY_EXPR = "(pos * 31 + 7) % 97"


def _gate_payload_fn(pos, doc):
    return (pos * 31 + 7) % 97


def _ensure_payload_index(spark: SparkSession, sf_dir: str) -> str:
    name = sf_dir.strip("/").replace("/", "_") + "_pay"
    idx = f"{_GATE_ROOT}/{_FORMAT_V}/{name}"
    probe = os.path.join(idx, "segment_manifest")
    if not os.path.exists(probe):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            F.format_string("doc://%012d", F.col("doc_id")).alias("url"),
            "text",
            # named numeric doc-value, recomputable by the oracle
            ((F.col("doc_id") * 37) % 211).cast("double").alias("prio"),
        )
        build_index(
            spark, docs, idx, num_segments=1, analyzer="simple",
            stopwords=None, index_positions=True,
            payload_fn=_gate_payload_fn,
            doc_values={"prio": "prio"},
        )
    return idx


def _q_function_score_dv(spark, sf_dir, k: int = 10):
    """FunctionScoreQuery over a stored numeric doc-value: BM25 boosted by
    the 'prio' doc-value (DoubleValuesSource.fromField analog — the static-
    rank boost pattern)."""
    s = Searcher(
        spark, _ensure_payload_index(spark, sf_dir), analyzer="simple",
        mode="double",
    )
    out = s.function_score(
        "stream", "score * (1.0 + dv['prio'] / 211.0)", k=k
    )
    dm = s._docmap_global().select("docid", "url")
    return out.join(dm, "docid").select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _sql_function_score_dv(term: str = "stream", k: int = 10) -> str:
    inner = f"""SELECT s_a.doc_id,
  (s_a.score * (1.0 + (((s_a.doc_id * 37) % 211)::DOUBLE / 211.0))) AS score
  FROM s_a"""
    return f"WITH {_BASE_CTES}, {_term_scores_cte('s_a', term)} " + _topk_wrap(
        inner, k
    )


def _ensure_bloom_index(spark: SparkSession, sf_dir: str) -> str:
    """4-segment index with per-segment term Bloom filters
    (BloomFilteringPostingsFormat analog, index/blooms.py) — the searcher
    auto-consults them to prune segment partitions from term scans."""
    from .index.blooms import write_term_blooms

    name = sf_dir.strip("/").replace("/", "_") + "_bloom"
    idx = f"{_GATE_ROOT}/{_FORMAT_V}/{name}"
    marker = os.path.join(idx, "_bloom_done")
    if not os.path.exists(marker):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            F.format_string("doc://%012d", F.col("doc_id")).alias("url"), "text"
        )
        build_index(
            spark, docs, idx, num_segments=4, analyzer="simple",
            stopwords=None, index_positions=False,
        )
        write_term_blooms(spark, idx)
        open(marker, "w").close()
    return idx


def _q_bloom_pruned(spark, sf_dir):
    """FULL match set of 'customer AND window' through the bloomed
    multi-segment index (set equality, so the multi-segment docid
    tie-break is moot; a wrong bloom prune would LOSE rows)."""
    s = Searcher(
        spark, _ensure_bloom_index(spark, sf_dir), analyzer="simple",
        mode="double",
    )
    h = s.search("customer AND window", k=100000, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    ).orderBy("doc_id")


def _sql_bloom_pruned() -> str:
    ctes = ", ".join(
        _term_scores_cte(a, t)
        for a, t in zip(["s_0", "s_1"], ["customer", "window"])
    )
    return (
        f"WITH {_BASE_CTES}, {ctes} "
        "SELECT doc_id, round(s_0.score + s_1.score, 4) AS score "
        "FROM s_0 JOIN s_1 USING (doc_id) ORDER BY doc_id ASC"
    )


_MEMQ = {
    "mq_term": "customer",
    "mq_andnot": "scan AND NOT window",
    "mq_phrase": '"data stream"',
    "mq_msm2": None,  # built as an AST below (msm=2 of three SHOULDs)
}


def _q_memory_percolate(spark, sf_dir):
    """MemoryIndex percolation (memory/MemoryIndex.java contract): every
    document scored as its own one-doc index against a registered query
    battery covering shapes the Monitor presearcher can't (NOT, msm);
    output = matching (doc_id, query_id) pairs."""
    from .search.memory import memory_index_matches
    from .search.query import BooleanQuery, TermQuery

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    queries = dict(_MEMQ)
    queries["mq_msm2"] = BooleanQuery(
        should=(TermQuery("batch"), TermQuery("filter"), TermQuery("window")),
        min_should_match=2,
    )
    out = memory_index_matches(docs, queries, analyzer="simple")
    return out.orderBy("doc_id", "query_id")


_SQL_MEMORY_PERCOLATE = f"""WITH {_BASE_CTES},
m_term AS (
  SELECT DISTINCT doc_id, 'mq_term' AS query_id FROM tf WHERE term = 'customer'
),
m_andnot AS (
  SELECT doc_id, 'mq_andnot' AS query_id FROM tf t1
  WHERE t1.term = 'scan'
    AND NOT EXISTS (SELECT 1 FROM tf t2
                    WHERE t2.doc_id = t1.doc_id AND t2.term = 'window')
),
m_phrase AS (
  SELECT DISTINCT a.doc_id, 'mq_phrase' AS query_id
  FROM toks a JOIN toks b
    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  WHERE a.term = 'data' AND b.term = 'stream'
),
m_msm2 AS (
  SELECT doc_id, 'mq_msm2' AS query_id FROM tf
  WHERE term IN ('batch', 'filter', 'window')
  GROUP BY doc_id HAVING count(DISTINCT term) >= 2
)
SELECT doc_id, query_id FROM (
  SELECT * FROM m_term UNION ALL SELECT * FROM m_andnot
  UNION ALL SELECT * FROM m_phrase UNION ALL SELECT * FROM m_msm2
) ORDER BY doc_id, query_id"""


_GEO_JOIN_RADIUS = 500_000.0


def _q_geo_distance_join(spark, sf_dir):
    """Banded-grid spatial pair join (PrefixTreeStrategy cell economics):
    all point pairs within 500 km, bucket-joined — never all-pairs."""
    from .search.geo import distance_join

    out = distance_join(_geo_docs(spark, sf_dir), _GEO_JOIN_RADIUS)
    return out.orderBy("a", "b")


def _sql_geo_distance_join() -> str:
    pi, r = "3.141592653589793::DOUBLE", "6371008.7714::DOUBLE"
    return f"""WITH {_GEO_SQL_CTE},
pd AS (
  SELECT g1.doc_id AS a, g2.doc_id AS b,
         2.0 * {r} * asin(sqrt(
           pow(sin(((g2.lat - g1.lat) * {pi} / 180.0) / 2.0), 2.0)
           + cos(g1.lat * {pi} / 180.0) * cos(g2.lat * {pi} / 180.0)
             * pow(sin(((g2.lon - g1.lon) * {pi} / 180.0) / 2.0), 2.0)
         )) AS d
  FROM geo g1 JOIN geo g2 ON g1.doc_id < g2.doc_id
)
SELECT a, b, round(d, 3) AS dist_m FROM pd
WHERE d <= {_GEO_JOIN_RADIUS!r} ORDER BY a, b"""


# fixed-width-token corpus for the term-vector/FVH rows: 20 tokens of 6
# chars, single-space joined, token p = lex[(doc_id + 2p) % 6] — so token
# p's char offsets are exactly (7p, 7p+6) and the oracle derives them
# arithmetically. 'stream' (lex[0]) occurs only in even docs, every 3rd
# position -> 21-char gaps, so each FVH fragment holds exactly one match.
_FVH_LEX = ["stream", "window", "filter", "buffer", "padder", "rotate"]


def _fvh_docs(spark, sf_dir):
    lex = F.array(*[F.lit(w) for w in _FVH_LEX])
    toks = F.transform(
        F.sequence(F.lit(0), F.lit(19)),
        lambda q: F.element_at(
            lex, ((F.col("doc_id") + 2 * q) % 6 + 1).cast("int")
        ),
    )
    return _docs(spark, sf_dir).select(
        "doc_id", F.array_join(toks, " ").alias("text")
    )


def _q_term_vectors(spark, sf_dir):
    """Term vectors (Lucene90CompressingTermVectorsFormat contract):
    per-doc occurrences of 'stream' with positions AND char offsets."""
    from .index.termvectors import term_vectors_df

    tv = term_vectors_df(
        _fvh_docs(spark, sf_dir), id_col="doc_id", analyzer="standard"
    )
    occ = tv.filter(F.col("term") == "stream").select(
        "doc_id",
        F.explode(F.arrays_zip("positions", "starts", "ends")).alias("o"),
    )
    return occ.select(
        "doc_id",
        F.col("o.positions").cast("long").alias("pos"),
        F.col("o.starts").cast("long").alias("start_off"),
        F.col("o.ends").cast("long").alias("end_off"),
    ).orderBy("doc_id", "pos")


_SQL_TERM_VECTORS = """WITH seqs AS (
  SELECT d.doc_id, g.p FROM documents d, (SELECT unnest(range(20)) AS p) g
)
SELECT doc_id, p AS pos, 7 * p AS start_off, 7 * p + 6 AS end_off
FROM seqs WHERE (doc_id + 2 * p) % 6 = 0
ORDER BY doc_id, pos"""


def _q_fvh_snippets(spark, sf_dir):
    """FastVectorHighlighter fragments from stored vectors
    (SimpleFragListBuilder greedy windows + SimpleFieldFragList occurrence
    scores): best 21-char fragment per matching doc, sliced from text."""
    from .index.termvectors import term_vectors_df
    from .search.fvh import fvh_fragments

    docs = _fvh_docs(spark, sf_dir)
    tv = term_vectors_df(docs, id_col="doc_id", analyzer="standard")
    out = fvh_fragments(
        docs, tv, ["stream"], id_col="doc_id",
        frag_char_size=21, margin=0, max_frags=1,
    )
    return out.select(
        "doc_id",
        F.col("frag_start").cast("long").alias("frag_start"),
        F.col("frag_end").cast("long").alias("frag_end"),
        F.col("score").cast("long").alias("score"),
        "snippet",
    ).orderBy("doc_id")


_SQL_FVH_SNIPPETS = f"""WITH lex AS (
  SELECT ['{"','".join(_FVH_LEX)}'] AS a
),
first_occ AS (
  SELECT d.doc_id, min(g.p) AS p1
  FROM documents d, (SELECT unnest(range(20)) AS p) g
  WHERE (d.doc_id + 2 * g.p) % 6 = 0
  GROUP BY d.doc_id
)
SELECT doc_id, 7 * p1 AS frag_start, 7 * p1 + 21 AS frag_end, 1 AS score,
       a[((doc_id + 2 * p1) % 6)::INT + 1] || ' ' ||
       a[((doc_id + 2 * (p1 + 1)) % 6)::INT + 1] || ' ' ||
       a[((doc_id + 2 * (p1 + 2)) % 6)::INT + 1] || ' ' AS snippet
FROM first_occ, lex ORDER BY doc_id"""


def _link_docs(spark, sf_dir):
    """Deterministic raw-HTML webtext: doc i lives at
    https://h{i%50:03d}.example/p/{i} and carries (1) an ABSOLUTE link to
    target t=(i·7+3)%N anchored by two lexicon words and (2) a RELATIVE
    href /local/{i} anchored 'home' (exercises urljoin). All arithmetic,
    so the SQL oracle regenerates the edges without parsing HTML."""
    docs = _docs(spark, sf_dir)
    n = docs.count()
    lex = F.array(*[F.lit(w) for w in _FVH_LEX])
    t = (F.col("doc_id") * 7 + 3) % n
    anchor = F.concat(
        F.element_at(lex, ((F.col("doc_id") + t) % 6 + 1).cast("int")),
        F.lit(" "),
        F.element_at(lex, (t % 6 + 1).cast("int")),
    )
    html = F.concat(
        F.lit("<html><body><p>intro text</p><a href=\""),
        F.format_string("https://h%03d.example/p/%d", (t % 50).cast("int"), t),
        F.lit("\"><b>"),
        anchor,
        F.lit("</b></a><a href=\"/local/"),
        F.col("doc_id"),
        F.lit("\">home</a><a href=\"javascript:void(0)\">skip</a></body></html>"),
    )
    return docs.select(
        F.format_string(
            "https://h%03d.example/p/%d",
            (F.col("doc_id") % 50).cast("int"), F.col("doc_id"),
        ).alias("url"),
        html.alias("html"),
    ), n


def _q_link_graph_hosts(spark, sf_dir):
    """Host-level link graph (pipeline/linkgraph.py): HTML anchor parse →
    urljoin → (src_host, dst_host, n_links) rollup; javascript: hrefs
    drop, the relative link lands on its own host."""
    from .pipeline.linkgraph import extract_links, host_graph

    docs, _ = _link_docs(spark, sf_dir)
    return host_graph(extract_links(docs)).orderBy("src_host", "dst_host")


_SQL_LINK_GRAPH_HOSTS = """
WITH n AS (SELECT count(*) AS n FROM documents),
e AS (
  SELECT printf('h%03d.example', (doc_id % 50)::INT) AS src_host,
         printf('h%03d.example',
                (((doc_id * 7 + 3) % n.n) % 50)::INT) AS dst_host
  FROM documents, n
  UNION ALL
  SELECT printf('h%03d.example', (doc_id % 50)::INT),
         printf('h%03d.example', (doc_id % 50)::INT)
  FROM documents
)
SELECT src_host, dst_host, count(*)::BIGINT AS n_links
FROM e GROUP BY src_host, dst_host"""


def _q_anchor_docs(spark, sf_dir):
    """Anchor-text documents (Brin & Page 1998 §2.2): per link target, all
    incoming anchor texts sorted and joined — the anchor field a web index
    adds next to body text."""
    from .pipeline.linkgraph import anchor_documents, extract_links

    docs, _ = _link_docs(spark, sf_dir)
    return anchor_documents(extract_links(docs)).orderBy("url")


_SQL_ANCHOR_DOCS = f"""
WITH lex AS (SELECT ['{"','".join(_FVH_LEX)}'] AS a),
n AS (SELECT count(*) AS n FROM documents),
e AS (
  SELECT printf('https://h%03d.example/p/%d',
                (((doc_id * 7 + 3) % n.n) % 50)::INT,
                ((doc_id * 7 + 3) % n.n)::INT) AS url,
         a[((doc_id + ((doc_id * 7 + 3) % n.n)) % 6)::INT + 1] || ' ' ||
         a[(((doc_id * 7 + 3) % n.n) % 6)::INT + 1] AS anchor
  FROM documents, n, lex
  UNION ALL
  SELECT printf('https://h%03d.example/local/%d',
                (doc_id % 50)::INT, doc_id::INT), 'home'
  FROM documents
)
SELECT url, string_agg(anchor, ' ' ORDER BY anchor) AS text
FROM e GROUP BY url"""


def _q_classic_highlight(spark, sf_dir):
    """Classic Highlighter (highlight/Highlighter.java + QueryTermScorer +
    SimpleFragmenter(35) + SimpleHTMLFormatter) over the fixed-stride FVH
    corpus: every even doc_id contains 'stream' every 3rd token, so all
    four 5-token fragments score 1, the top-2 are frag0+frag1, and
    mergeContiguousFragments joins them into one 10-token snippet; odd
    docs never match and emit nothing."""
    from .search.highlight_classic import highlight_docs_classic

    docs = _fvh_docs(spark, sf_dir)
    out = highlight_docs_classic(
        docs, {"stream": 1.0}, fragment_size=35, max_fragments=2,
    )
    return out.select(
        "doc_id", "frag_num", F.round("score", 4).alias("score"), "snippet"
    ).orderBy("doc_id")


_SQL_CLASSIC_HIGHLIGHT = f"""WITH lex AS (
  SELECT ['{"','".join(_FVH_LEX)}'] AS a
)
SELECT d.doc_id, 0 AS frag_num, 1.0 AS score,
       (SELECT string_agg(
          CASE WHEN (d.doc_id + 2 * g.p) % 6 = 0
               THEN '<B>' || a[((d.doc_id + 2 * g.p) % 6)::INT + 1] || '</B>'
               ELSE a[((d.doc_id + 2 * g.p) % 6)::INT + 1] END, ' '
          ORDER BY g.p)
        FROM (SELECT unnest(range(10)) AS p) g, lex) AS snippet
FROM documents d
WHERE d.doc_id % 2 = 0
ORDER BY d.doc_id"""


def _q_complex_phrase(spark, sf_dir, k: int = 10):
    """ComplexPhraseQueryParser: fuzzy slot inside a phrase —
    '"data~1 stream"' rewritten to SpanNear(SpanOr(edit-distance-1
    expansion), stream) exactly like CPQP.java:266-354."""
    from .search.complexphrase import complex_phrase_query

    s = _searcher(spark, sf_dir)
    q = complex_phrase_query(s, "data~1 stream")
    h = s.search(q, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _sql_complex_phrase(k: int = 10) -> str:
    """Oracle: expansion = dft terms within (unrestricted) DL distance 1 of
    'data' — identical to the engine's OSA at max_edits=1 — then the
    two-clause ordered-span algebra and the dynamic summed-idf weight."""
    idf = _idf("e.df")
    return f"""WITH {_BASE_CTES},
pa AS (
  SELECT doc_id, pos FROM toks WHERE damerau_levenshtein(term, 'data') <= 1
),
pb AS (SELECT doc_id, pos FROM toks WHERE term = 'stream'),
sp AS (
  SELECT pa.doc_id, pa.pos AS spos, min(pb.pos) AS y
  FROM pa JOIN pb ON pb.doc_id = pa.doc_id AND pb.pos > pa.pos
  GROUP BY pa.doc_id, pa.pos
),
iv AS (
  SELECT doc_id, y - spos - 1 AS w FROM sp WHERE y - spos - 1 <= 0
),
wt AS (
  SELECT list_sum(list({idf} ORDER BY e.term ASC)) AS w
  FROM (
    SELECT term, df FROM dft
    WHERE term = 'stream' OR damerau_levenshtein(term, 'data') <= 1
  ) e, stats s
),
pf AS (SELECT doc_id, {_span_freq_expr(range(0, 1))} AS freq FROM iv GROUP BY doc_id),
ps AS (
  SELECT pf.doc_id, (wt.w - wt.w / {_tf_part("pf.freq", "qdl.qdl")}) AS score
  FROM pf JOIN qdl USING (doc_id), stats s, wt
  WHERE pf.freq > 0
)
""" + _topk_wrap("SELECT doc_id, score FROM ps", k)


def _q_percolate(spark, sf_dir):
    """Monitor match flow at scale (TermFilteredPresearcher candidates +
    MemoryIndex refine of candidates only) — must reproduce exactly the
    brute-force percolation's match set (same oracle)."""
    from .search.memory import percolate
    from .search.query import BooleanQuery, TermQuery

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    queries = dict(_MEMQ)
    queries["mq_msm2"] = BooleanQuery(
        should=(TermQuery("batch"), TermQuery("filter"), TermQuery("window")),
        min_should_match=2,
    )
    out = percolate(docs, queries, analyzer="simple")
    return out.select("doc_id", "query_id").orderBy("doc_id", "query_id")


def _q_ccnet_ppl(spark, sf_dir):
    """CCNet perplexity filter (Wenzek et al. 2020): reference LM = the
    doc_id%10==0 sample, interpolated bigram perplexity per doc +
    head/middle/tail buckets at the 0.3/0.6 quantiles."""
    from .pipeline.perplexity import ccnet_buckets

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ref = docs.filter(F.col("doc_id") % 10 == 0)
    out = ccnet_buckets(docs, ref, lam=0.9, head=0.3, middle=0.3)
    return out.select(
        "doc_id", F.round("ppl", 4).alias("ppl"), "bucket"
    ).orderBy("doc_id")


def _sql_ccnet_ppl(lam: float = 0.9) -> str:
    lam_r, oml_r = repr(float(lam)), repr(1.0 - float(lam))
    return f"""WITH {_BASE_CTES},
uni AS (
  SELECT term, count(*)::BIGINT AS cu FROM toks
  WHERE doc_id % 10 = 0 GROUP BY 1
),
umeta AS (SELECT sum(cu)::BIGINT AS t, count(*)::BIGINT AS v FROM uni),
big AS (
  SELECT a.term AS prev, b.term AS term, count(*)::BIGINT AS c2
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  WHERE a.doc_id % 10 = 0 GROUP BY 1, 2
),
ctx AS (SELECT prev, sum(c2)::BIGINT AS c1 FROM big GROUP BY 1),
bigc AS (SELECT big.prev, big.term, big.c2, ctx.c1 FROM big JOIN ctx USING (prev)),
pairs AS (
  SELECT t.doc_id, t.pos, t.term, p.term AS prev
  FROM toks t LEFT JOIN toks p ON p.doc_id = t.doc_id AND p.pos = t.pos - 1
),
nlls AS (
  SELECT pairs.doc_id, pairs.pos,
         -ln(
           CASE WHEN pairs.prev IS NOT NULL AND bigc.c1 IS NOT NULL
                THEN {lam_r} * (coalesce(bigc.c2, 0)::DOUBLE / bigc.c1::DOUBLE)
                ELSE 0.0 END
           + {oml_r} * ((coalesce(uni.cu, 0) + 1)::DOUBLE
                        / (m.t + m.v + 1)::DOUBLE)
         ) AS nll
  FROM pairs
  LEFT JOIN uni USING (term)
  LEFT JOIN bigc ON bigc.prev = pairs.prev AND bigc.term = pairs.term,
       umeta m
),
per_doc AS (
  SELECT doc_id,
         exp(list_sum(list(nll ORDER BY pos ASC)) / count(*)) AS ppl
  FROM nlls GROUP BY doc_id
),
allsc AS (
  SELECT d.doc_id,
         coalesce(p.ppl,
                  (SELECT exp(-ln({oml_r} * (1.0 / (t + v + 1)::DOUBLE)))
                   FROM umeta)) AS ppl
  FROM documents d LEFT JOIN per_doc p USING (doc_id)
),
ranked AS (
  SELECT doc_id, ppl,
         percent_rank() OVER (ORDER BY ppl ASC, doc_id ASC) AS pr
  FROM allsc
)
SELECT doc_id, round(ppl, 4) AS ppl,
       CASE WHEN pr < 0.3 THEN 'head'
            WHEN pr < 0.6 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM ranked ORDER BY doc_id"""


def _q_dsir_select(spark, sf_dir, n: int = 50):
    """DSIR importance resampling (Xie et al. 2023): target sample =
    doc_id % 10 == 0; top-n raw docs by smoothed target/raw unigram
    log-ratio score (exact-feature mode; the hashed mode is the
    at-scale configuration)."""
    from .pipeline.dsir import dsir_select

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    target = docs.filter(F.col("doc_id") % 10 == 0)
    out = dsir_select(docs, target, n)
    return out.select(
        "doc_id", F.round("dsir_score", 4).alias("dsir_score")
    )


def _sql_dsir_select(n: int = 50) -> str:
    return f"""WITH {_BASE_CTES},
rc AS (SELECT term AS feat, count(*)::BIGINT AS rc FROM toks GROUP BY 1),
tcc AS (
  SELECT term AS feat, count(*)::BIGINT AS tc FROM toks
  WHERE doc_id % 10 = 0 GROUP BY 1
),
bc AS (
  SELECT feat, coalesce(rc, 0) AS rc, coalesce(tc, 0) AS tc
  FROM rc FULL JOIN tcc USING (feat)
),
tot AS (
  SELECT sum(rc)::BIGINT AS rt, sum(tc)::BIGINT AS tt,
         count(*)::BIGINT AS v
  FROM bc
),
lr AS (
  SELECT feat,
         ln(((tc + 1)::DOUBLE / (tt + v)::DOUBLE)
            * ((rt + v)::DOUBLE / (rc + 1)::DOUBLE)) AS log_ratio
  FROM bc, tot
),
pf AS (SELECT doc_id, term AS feat, count(*)::BIGINT AS n FROM toks GROUP BY 1, 2),
parts AS (
  SELECT pf.doc_id, pf.feat, pf.n * coalesce(lr.log_ratio, 0.0) AS part
  FROM pf LEFT JOIN lr USING (feat)
),
sc AS (
  SELECT doc_id, list_sum(list(part ORDER BY feat ASC)) AS s
  FROM parts GROUP BY doc_id
)
SELECT doc_id, round(s, 4) AS dsir_score FROM (
  SELECT * FROM sc ORDER BY s DESC, doc_id ASC LIMIT {n}
)"""


_SQL_SUBSTR_SPANS_CTES = f"""WITH {_BASE_CTES},
mx AS (SELECT doc_id, max(pos) AS mp FROM toks GROUP BY doc_id),
g AS (
  SELECT t.doc_id, t.pos AS gpos,
         t.term || ' ' || lead(t.term, 1) OVER w || ' ' ||
         lead(t.term, 2) OVER w AS gram
  FROM toks t
  WINDOW w AS (PARTITION BY t.doc_id ORDER BY t.pos)
),
g2 AS (
  SELECT g.doc_id, g.gpos, g.gram
  FROM g JOIN mx USING (doc_id) WHERE g.gpos + 2 <= mx.mp
),
dup AS (
  SELECT gram FROM (
    SELECT gram, count(DISTINCT doc_id) AS df FROM g2 GROUP BY gram
  ) WHERE df >= 2
),
hits AS (SELECT doc_id, gpos FROM g2 JOIN dup USING (gram)),
isl AS (
  SELECT doc_id, gpos,
         CASE WHEN lag(gpos) OVER w2 IS NULL
                   OR gpos > lag(gpos) OVER w2 + 3
              THEN 1 ELSE 0 END AS brk
  FROM hits WINDOW w2 AS (PARTITION BY doc_id ORDER BY gpos)
),
gids AS (
  SELECT doc_id, gpos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY gpos
                        ROWS UNBOUNDED PRECEDING) AS gid
  FROM isl
),
spans AS (
  SELECT doc_id, min(gpos) AS span_start, max(gpos) + 3 AS span_end
  FROM gids GROUP BY doc_id, gid
)"""


def _q_substring_spans(spark, sf_dir):
    """ExactSubstr duplication spans (Lee et al. 2021): maximal runs of
    >= 3 consecutive tokens shared verbatim with another document."""
    from .pipeline.dedup import duplicated_substring_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = duplicated_substring_spans(docs, k=3, min_df=2)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
    )


_SQL_SUBSTR_SPANS = (
    _SQL_SUBSTR_SPANS_CTES
    + """
SELECT doc_id, span_start::BIGINT AS span_start, span_end::BIGINT AS span_end
FROM spans"""
)


def _q_substring_clean(spark, sf_dir):
    from .pipeline.dedup import remove_duplicated_substrings

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return remove_duplicated_substrings(docs, k=3, min_df=2)


_SQL_SUBSTR_CLEAN = (
    _SQL_SUBSTR_SPANS_CTES
    + """,
kept AS (
  SELECT t.doc_id, t.pos, t.term
  FROM toks t
  WHERE NOT EXISTS (
    SELECT 1 FROM spans s
    WHERE s.doc_id = t.doc_id
      AND t.pos >= s.span_start AND t.pos < s.span_end
  )
)
SELECT d.doc_id,
       coalesce(string_agg(k.term, ' ' ORDER BY k.pos), '') AS clean_text
FROM documents d LEFT JOIN kept k USING (doc_id)
GROUP BY d.doc_id"""
)


def _q_docvalues_stats(spark, sf_dir):
    """DocValuesStats (misc/search/DocValuesStats.java) over the docs
    matching 'stream', on the prio doc-value the oracle recomputes by
    doc_id arithmetic."""
    from .search.misc import doc_values_stats
    from .search.query import TermQuery

    s = Searcher(
        spark, _ensure_payload_index(spark, sf_dir), analyzer="simple",
        mode="double",
    )
    row = doc_values_stats(s, TermQuery("stream"), "prio")
    return row.select(
        F.col("count"),
        F.col("missing"),
        F.round("vmin", 4).alias("vmin"),
        F.round("vmax", 4).alias("vmax"),
        F.round("vsum", 4).alias("vsum"),
        F.round("mean", 4).alias("mean"),
        F.round("variance", 4).alias("variance"),
        F.round("stdev", 4).alias("stdev"),
    )


_SQL_DOCVALUES_STATS = f"""WITH {_BASE_CTES},
m AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'stream'),
vv AS (SELECT doc_id, ((doc_id * 37) % 211)::DOUBLE AS v FROM m)
SELECT count(v)::BIGINT AS count,
       (count(*) - count(v))::BIGINT AS missing,
       round(min(v), 4) AS vmin,
       round(max(v), 4) AS vmax,
       round(sum(v), 4) AS vsum,
       round(sum(v) / count(v), 4) AS mean,
       round(sum(v * v) / count(v) - (sum(v) / count(v)) * (sum(v) / count(v)), 4)
         AS variance,
       round(sqrt(sum(v * v) / count(v) - (sum(v) / count(v)) * (sum(v) / count(v))), 4)
         AS stdev
FROM vv"""


def _q_facet_long_values(spark, sf_dir):
    """LongValueFacetCounts (facet/LongValueFacetCounts.java): counts per
    distinct long value — value = length(text) % 16 over all docs."""
    from .search.facets import long_value_facets

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        (F.length("text") % 16).alias("lv")
    )
    return long_value_facets(docs, "lv")


_SQL_FACET_LONG_VALUES = """
SELECT (length(text) % 16)::BIGINT AS value, count(*)::BIGINT AS n_docs
FROM documents GROUP BY 1 ORDER BY 1"""


def _q_facet_dynamic_ranges(spark, sf_dir):
    """DynamicRangeUtil.computeDynamicNumericRanges: 5 equal-weight ranges
    over value = length(text), weight = doc_id % 7 (zero weights skipped,
    :161-163)."""
    from .search.facets import dynamic_range_facets

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.length("text").alias("lv"), (F.col("doc_id") % 7).alias("wt")
    )
    out = dynamic_range_facets(docs, "lv", "wt", top_n=5)
    return out.select(
        "count", "weight", "vmin", "vmax",
        F.round("centroid", 4).alias("centroid"),
    )


_SQL_FACET_DYNAMIC_RANGES = """WITH RECURSIVE
vals AS (
  SELECT length(text)::BIGINT AS v, (doc_id % 7)::BIGINT AS w
  FROM documents WHERE (doc_id % 7) != 0
),
ord AS (
  SELECT v, w,
         sum(w) OVER (ORDER BY v, w ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS ws
  FROM vals
),
tot AS (SELECT max(ws) AS tw, count(*)::BIGINT AS n FROM ord),
bounds(k, b) AS (
  SELECT 0, 0::BIGINT
  UNION ALL
  SELECT k + 1,
         (SELECT min(ws) FROM ord, tot
          WHERE ws - bounds.b >= tot.tw::DOUBLE / least(5, tot.n))
  FROM bounds
  WHERE k < 5 AND (SELECT min(ws) FROM ord, tot
                   WHERE ws - bounds.b >= tot.tw::DOUBLE / least(5, tot.n))
                  IS NOT NULL
),
bl AS (SELECT b FROM bounds WHERE k > 0),
assigned AS (
  SELECT v, w, ws,
         (SELECT count(*) FROM bl WHERE bl.b < ord.ws) AS bucket
  FROM ord
)
SELECT count(*)::BIGINT AS count, sum(w)::BIGINT AS weight,
       min(v) AS vmin, max(v) AS vmax,
       round(sum(v)::DOUBLE / count(*), 4) AS centroid
FROM assigned GROUP BY bucket ORDER BY bucket"""


def _q_function_match(spark, sf_dir):
    """FunctionMatchQuery: constant-score docs whose 'prio' doc-value
    falls in [50, 120)."""
    s = Searcher(
        spark, _ensure_payload_index(spark, sf_dir), analyzer="simple",
        mode="double",
    )
    out = s.function_match(
        "dv['prio'] >= 50.0 AND dv['prio'] < 120.0", boost=1.5
    )
    dm = s._docmap_global().select("docid", "url")
    return out.join(dm, "docid").select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


_SQL_FUNCTION_MATCH = """
SELECT doc_id, 1.5 AS score
FROM documents
WHERE ((doc_id * 37) % 211)::DOUBLE >= 50.0
  AND ((doc_id * 37) % 211)::DOUBLE < 120.0"""


def _q_dv_numbers(spark, sf_dir):
    """DocValuesNumbersQuery (sandbox/search/DocValuesNumbersQuery.java:55):
    constant-score set membership on the 'prio' numeric doc-value — the
    dv-side dual of TermInSetQuery."""
    s = Searcher(
        spark, _ensure_payload_index(spark, sf_dir), analyzer="simple",
        mode="double",
    )
    out = s.doc_values_numbers("prio", [10.0, 20.0, 30.0, 40.0, 50.0],
                               boost=2.0)
    dm = s._docmap_global().select("docid", "url")
    return out.join(dm, "docid").select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


_SQL_DV_NUMBERS = """
SELECT doc_id, 2.0 AS score
FROM documents
WHERE ((doc_id * 37) % 211)::DOUBLE IN (10.0, 20.0, 30.0, 40.0, 50.0)"""


def _q_multi_range(spark, sf_dir):
    """MultiRangeQuery (sandbox/search/MultiRangeQuery.java:60): OR of
    inclusive ranges over the 'prio' doc-value evaluated in ONE pass; the
    first two ranges overlap so the rewrite's merge fires."""
    s = Searcher(
        spark, _ensure_payload_index(spark, sf_dir), analyzer="simple",
        mode="double",
    )
    out = s.multi_range(
        "prio", [(5.0, 25.0), (20.0, 40.0), (100.0, 110.0), (150.0, 160.0)],
        boost=1.0,
    )
    dm = s._docmap_global().select("docid", "url")
    return out.join(dm, "docid").select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


_SQL_MULTI_RANGE = """
SELECT doc_id, 1.0 AS score
FROM documents
WHERE (((doc_id * 37) % 211)::DOUBLE BETWEEN 5.0 AND 40.0)
   OR (((doc_id * 37) % 211)::DOUBLE BETWEEN 100.0 AND 110.0)
   OR (((doc_id * 37) % 211)::DOUBLE BETWEEN 150.0 AND 160.0)"""


def _q_function_range(spark, sf_dir):
    """FunctionRangeQuery (queries/function/FunctionRangeQuery.java:43):
    match docs whose doc-value lies in (50, 120] and score = the VALUE
    (FunctionValues.getRangeScorer)."""
    s = Searcher(
        spark, _ensure_payload_index(spark, sf_dir), analyzer="simple",
        mode="double",
    )
    out = s.function_range("dv['prio']", 50.0, 120.0,
                           include_lower=False, include_upper=True)
    dm = s._docmap_global().select("docid", "url")
    return out.join(dm, "docid").select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


_SQL_FUNCTION_RANGE = """
SELECT doc_id, round(((doc_id * 37) % 211)::DOUBLE, 4) AS score
FROM documents
WHERE ((doc_id * 37) % 211)::DOUBLE > 50.0
  AND ((doc_id * 37) % 211)::DOUBLE <= 120.0"""


def _q_sort_rescore(spark, sf_dir, k: int = 10):
    """SortRescorer (core/search/SortRescorer.java:35): BM25 first pass
    (top 50 for 'stream OR window'), window re-sorted by the 'prio'
    doc-value DESC (ties docid ASC), first-pass score carried through."""
    s = Searcher(
        spark, _ensure_payload_index(spark, sf_dir), analyzer="simple",
        mode="double",
    )
    out = s.sort_rescore("stream OR window", "prio", window=50, k=k)
    dm = s._docmap_global().select("docid", "url")
    return out.join(dm, "docid").select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("sort_val", 4).alias("sort_val"),
        F.round("score", 4).alias("score"),
    )


def _sql_sort_rescore(k: int = 10) -> str:
    or_part = _sql_or(["stream", "window"], k=50, raw=True)
    return f"""
WITH first AS (
  SELECT doc_id, score FROM ({or_part})
)
SELECT doc_id,
       round(((doc_id * 37) % 211)::DOUBLE, 4) AS sort_val,
       round(score, 4) AS score
FROM first
ORDER BY ((doc_id * 37) % 211)::DOUBLE DESC, doc_id ASC LIMIT {k}"""


def _q_trending_terms(spark, sf_dir, k: int = 5):
    """Windowed trending terms (streaming/trending.py, batch form of the
    Structured Streaming aggregation): docs timestamped (doc_id % 180)
    minutes past the epoch, 60-minute tumbling windows, top-5 terms per
    window by (count DESC, term ASC)."""
    from .streaming.trending import term_counts, top_trending

    docs = _docs(spark, sf_dir).select(
        F.timestamp_seconds((F.col("doc_id") % 180) * 60).alias("ts"),
        "text",
    )
    counts = term_counts(docs, window_dur="60 minutes")
    return top_trending(counts, k=k).select(
        (F.col("window.start").cast("long") / 3600).cast("long").alias("win"),
        "term",
        "cnt",
        "rank",
    )


def _sql_trending_terms(k: int = 5) -> str:
    return f"""WITH {_BASE_CTES},
wc AS (
  SELECT ((d.doc_id % 180) // 60)::BIGINT AS win, t.term,
         count(*)::BIGINT AS cnt
  FROM documents d JOIN toks t USING (doc_id)
  GROUP BY win, t.term
)
SELECT win, term, cnt, rank FROM (
  SELECT wc.*, row_number() OVER (
    PARTITION BY win ORDER BY cnt DESC, term ASC)::INT AS rank
  FROM wc
) WHERE rank <= {k}"""


def _q_hybrid_rrf(spark, sf_dir):
    """Reciprocal Rank Fusion (Cormack/Clarke/Büttcher SIGIR 2009,
    search/hybrid.py): BM25 top-20 for 'stream OR window' fused with a
    static-rank run (top-20 by the 'prio' doc-value above 100), k=60."""
    from .search.hybrid import rrf_fuse

    s = Searcher(
        spark, _ensure_payload_index(spark, sf_dir), analyzer="simple",
        mode="double",
    )
    r1 = s.search("stream OR window", k=20)
    r2 = (
        s.function_range("dv['prio']", 100.0, 1000.0, include_lower=False)
        .orderBy(F.desc("score"), F.asc("docid"))
        .limit(20)
    )
    out = rrf_fuse([r1, r2], k=60, top=10)
    dm = s._docmap_global().select("docid", "url")
    return out.join(dm, "docid").select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
        "n_runs",
    )


def _sql_hybrid_rrf(k: int = 60, top: int = 10) -> str:
    or_part = _sql_or(["stream", "window"], k=20, raw=True)
    return f"""
WITH r1 AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM ({or_part})
),
r2 AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM (
    SELECT doc_id, ((doc_id * 37) % 211)::DOUBLE AS score FROM documents
    WHERE ((doc_id * 37) % 211)::DOUBLE > 100.0
    ORDER BY score DESC, doc_id ASC LIMIT 20
  )
),
u AS (
  SELECT doc_id, (1.0 / ({k}.0 + rank)) AS rrf FROM r1
  UNION ALL
  SELECT doc_id, (1.0 / ({k}.0 + rank)) AS rrf FROM r2
),
f AS (
  SELECT doc_id, sum(rrf) AS score, count(*) AS n_runs
  FROM u GROUP BY doc_id
)
SELECT doc_id, round(score, 4) AS score, n_runs FROM (
  SELECT * FROM f ORDER BY score DESC, doc_id ASC LIMIT {top}
)"""


def _q_distance_feature(spark, sf_dir, k: int = 10):
    """DistanceFeatureQuery (document/LongDistanceFeatureQuery.java:266):
    BM25 for 'stream' + 2·(10 / (10 + |prio − 100|)) over the stored
    'prio' doc-value — the boost-by-proximity SHOULD pattern."""
    s = Searcher(
        spark, _ensure_payload_index(spark, sf_dir), analyzer="simple",
        mode="double",
    )
    out = s.distance_feature("stream", "prio", origin=100.0, pivot=10.0,
                             weight=2.0, k=k)
    dm = s._docmap_global().select("docid", "url")
    return out.join(dm, "docid").select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _sql_distance_feature(term: str = "stream", k: int = 10) -> str:
    feat = (
        "(2.0 * (10.0 / (10.0 + abs(((s_a.doc_id * 37) % 211)::DOUBLE"
        " - 100.0))))"
    )
    inner = f"SELECT s_a.doc_id, (s_a.score + {feat}) AS score FROM s_a"
    return f"WITH {_BASE_CTES}, {_term_scores_cte('s_a', term)} " + _topk_wrap(
        inner, k
    )


# the Lucene-expressions source for the expression_score gate row: exercises
# ternary + comparison + ln + arithmetic; compiled ONCE and bound per engine
# (expressions.py emits the identical SQL tree for Spark and DuckDB)
_EXPR_SRC = "_score * (prio > 100.0 ? 1.5 : 1.0) + ln(1.0 + prio / 211.0)"


def _q_expression_score(spark, sf_dir, k: int = 10):
    """Expression-module scoring (expressions/js/JavascriptCompiler.java):
    BM25 rescored by a compiled expression over the score and a numeric
    doc-value binding."""
    s = Searcher(
        spark, _ensure_payload_index(spark, sf_dir), analyzer="simple",
        mode="double",
    )
    out = s.expression_score("stream", _EXPR_SRC, k=k)
    dm = s._docmap_global().select("docid", "url")
    return out.join(dm, "docid").select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _sql_expression_score(term: str = "stream", k: int = 10) -> str:
    from .search.expressions import compile_expression

    tree = compile_expression(_EXPR_SRC).sql(
        {
            "_score": "s_a.score",
            # the doc-value is recomputable from doc_id (see build above);
            # binding text is per-engine, the tree around it is identical
            "prio": "((s_a.doc_id * 37) % 211)::DOUBLE",
        }
    )
    inner = f"SELECT s_a.doc_id, {tree} AS score FROM s_a"
    return f"WITH {_BASE_CTES}, {_term_scores_cte('s_a', term)} " + _topk_wrap(
        inner, k
    )


def _ensure_dvu_index(spark: SparkSession, sf_dir: str) -> str:
    """Index with base doc-value prio=(doc_id*37)%211, then TWO update
    gens over doc_id%10==0 docs (first 250.0, then doc_id%50+300 — the
    second must win), applied through update_numeric_doc_values. A marker
    file gates the whole build+update sequence."""
    from .index import update_numeric_doc_values

    name = sf_dir.strip("/").replace("/", "_") + "_dvu"
    idx = f"{_GATE_ROOT}/{_FORMAT_V}/{name}"
    marker = os.path.join(idx, "_dvu_done")
    if not os.path.exists(marker):
        src = spark.read.parquet(f"{sf_dir}/documents.parquet")
        docs = src.select(
            F.format_string("doc://%012d", F.col("doc_id")).alias("url"),
            "text",
            ((F.col("doc_id") * 37) % 211).cast("double").alias("prio"),
        )
        build_index(
            spark, docs, idx, num_segments=2, analyzer="simple",
            stopwords=None, index_positions=False,
            doc_values={"prio": "prio"},
        )
        tenth = src.filter(F.col("doc_id") % 10 == 0)
        update_numeric_doc_values(
            spark, idx,
            tenth.select(
                F.format_string("doc://%012d", F.col("doc_id")).alias("url"),
                F.lit(250.0).alias("value"),
            ),
            name="prio",
        )
        update_numeric_doc_values(
            spark, idx,
            tenth.select(
                F.format_string("doc://%012d", F.col("doc_id")).alias("url"),
                ((F.col("doc_id") % 50) + 300).cast("double").alias("value"),
            ),
            name="prio",
        )
        open(marker, "w").close()
    return idx


def _q_dv_update_sort(spark, sf_dir, k: int = 20):
    """Top-k matches of 'stream' by the UPDATED doc-value
    (updateNumericDocValue + SortField): docs with doc_id%10==0 carry
    latest-gen values that beat every base value."""
    s = Searcher(
        spark, _ensure_dvu_index(spark, sf_dir), analyzer="simple",
        mode="double",
    )
    out = s.search_sorted_by("stream", sort_col="dv:prio", ascending=False, k=k)
    dm = s._docmap_global().select("docid", "url")
    return out.join(dm, "docid").select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.col("dv_prio").cast("long").alias("prio"),
    )


def _sql_dv_update_sort(k: int = 20) -> str:
    return f"""WITH {_BASE_CTES}
SELECT doc_id, prio FROM (
  SELECT d.doc_id,
    CASE WHEN d.doc_id % 10 = 0 THEN (d.doc_id % 50) + 300
         ELSE (d.doc_id * 37) % 211 END AS prio
  FROM documents d
  WHERE EXISTS (SELECT 1 FROM tf WHERE term = 'stream' AND tf.doc_id = d.doc_id)
  ORDER BY prio DESC, d.doc_id ASC LIMIT {k}
)"""


def _q_sort_by_docvalue(spark, sf_dir, k: int = 20):
    """Top-k matches of 'stream' ordered by the stored numeric doc-value
    (SortField(name, Type.DOUBLE) over NumericDocValues)."""
    s = Searcher(
        spark, _ensure_payload_index(spark, sf_dir), analyzer="simple",
        mode="double",
    )
    out = s.search_sorted_by("stream", sort_col="dv:prio", ascending=False, k=k)
    dm = s._docmap_global().select("docid", "url")
    return out.join(dm, "docid").select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.col("dv_prio").cast("long").alias("prio"),
    )


def _sql_sort_by_docvalue(k: int = 20) -> str:
    return f"""WITH {_BASE_CTES}
SELECT doc_id, prio FROM (
  SELECT d.doc_id, (d.doc_id * 37) % 211 AS prio
  FROM documents d
  WHERE EXISTS (SELECT 1 FROM tf WHERE term = 'stream' AND tf.doc_id = d.doc_id)
  ORDER BY prio DESC, d.doc_id ASC LIMIT {k}
)"""


def _q_payload_score(spark, sf_dir, k: int = 10):
    from .search.query import PayloadScoreQuery

    s = Searcher(
        spark, _ensure_payload_index(spark, sf_dir), analyzer="simple",
        mode="double",
    )
    h = s.search(PayloadScoreQuery("stream", func="sum"), k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _sql_payload_score(term: str = "stream", k: int = 10) -> str:
    # integer-exact per-doc payload sum; score = sum cast to double
    return f"""WITH {_BASE_CTES},
pay AS (
  SELECT doc_id, sum({_PAY_EXPR})::DOUBLE AS score
  FROM toks WHERE term = '{term}' GROUP BY doc_id
)
""" + _topk_wrap("SELECT doc_id, score FROM pay", k)


def _q_span_payload_check(spark, sf_dir, k: int = 10):
    """SpanPayloadCheckQuery (queries/payloads/SpanPayloadCheckQuery.java:53
    + MatchOperation.LT): spans of 'stream' whose position payload
    (pos·31+7 mod 97) is < 20 — the POS-tag-style positional filter. Span
    scoring applies (freq = matching positions · 1.0, weight = idf over
    the UNfiltered term stats, exactly the reference's buildSimWeight)."""
    from .search.spans import SpanTerm, span_payload_check

    s = Searcher(
        spark, _ensure_payload_index(spark, sf_dir), analyzer="simple",
        mode="double",
    )
    q = span_payload_check(SpanTerm("stream"), [20], op="lt")
    h = s.search(q, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _sql_span_payload_check(term: str = "stream", k: int = 10) -> str:
    iv = f"""iv AS (
  SELECT doc_id, 0 AS w FROM toks
  WHERE term = '{term}' AND {_PAY_EXPR} < 20
)"""
    return _sql_span_score(iv, [0], [term], k)


def _q_payload_score_span(spark, sf_dir, k: int = 10):
    from .search.query import PayloadScoreQuery

    s = Searcher(
        spark, _ensure_payload_index(spark, sf_dir), analyzer="simple",
        mode="double",
    )
    h = s.search(
        PayloadScoreQuery("stream", func="max", include_span_score=True),
        k=k, with_url=True,
    )
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _sql_payload_score_span(term: str = "stream", k: int = 10) -> str:
    # engine: (max_payload * boost[=1.0]) * bm25(term) — *1.0 is exact, so
    # the SQL product (pay * s_a.score) is bit-identical in float64
    return f"""WITH {_BASE_CTES}, {_term_scores_cte("s_a", term)},
pay AS (
  SELECT doc_id, max({_PAY_EXPR})::DOUBLE AS pay
  FROM toks WHERE term = '{term}' GROUP BY doc_id
),
ps AS (
  SELECT pay.doc_id, (pay.pay * s_a.score) AS score
  FROM pay JOIN s_a USING (doc_id)
)
""" + _topk_wrap("SELECT doc_id, score FROM ps", k)


# ---------------------------------------------------------------------------
# multi-field family: per-field stats, BM25F (CombinedFieldQuery),
# FieldExistsQuery — over a 2-field index (body = text, title = first 8
# tokens, so the title stream is reproducible in SQL as pos < 8)
# ---------------------------------------------------------------------------

_TITLE_LEN = 8


def _ensure_sorted_index(spark: SparkSession, sf_dir: str) -> str:
    """Index built with index_sort='doc_len' across 4 segments — the gate
    row exercises per-segment early termination AND the cross-segment
    sorted merge."""
    name = sf_dir.strip("/").replace("/", "_") + "_sorted"
    idx = f"{_GATE_ROOT}/{_FORMAT_V}/{name}"
    probe = os.path.join(idx, "segment_manifest")
    if not os.path.exists(probe):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            F.format_string("doc://%012d", F.col("doc_id")).alias("url"), "text"
        )
        build_index(
            spark, docs, idx, num_segments=4, analyzer="simple",
            stopwords=None, index_positions=False, index_sort="doc_len",
        )
    return idx


def _q_sorted_index_topk(spark, sf_dir, k: int = 20):
    s = Searcher(
        spark, _ensure_sorted_index(spark, sf_dir), analyzer="simple",
        mode="double",
    )
    out = s.search_sorted_by("window", sort_col="doc_len", ascending=False, k=k)
    dm = s._docmap_global().select("docid", "url")
    return out.join(dm, "docid").select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.col("doc_len").cast("long").alias("dl"),
    )


_SQL_SORTED_INDEX_TOPK = f"""WITH {_BASE_CTES}
SELECT doc_id, dl FROM (
  SELECT d.doc_id, dl.dl
  FROM documents d JOIN dl USING (doc_id)
  WHERE EXISTS (SELECT 1 FROM tf WHERE term = 'window' AND tf.doc_id = d.doc_id)
  ORDER BY dl.dl DESC, d.doc_id ASC LIMIT 20
)"""


def _ensure_mf_index(spark: SparkSession, sf_dir: str) -> str:
    name = sf_dir.strip("/").replace("/", "_") + "_mf2"
    idx = f"{_GATE_ROOT}/{_FORMAT_V}/{name}"
    probe = os.path.join(idx, "segment_manifest")
    if not os.path.exists(probe):
        toks_arr = F.filter(
            F.split(F.lower("text"), "[^a-z0-9]+"), lambda x: x != F.lit("")
        )
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            F.format_string("doc://%012d", F.col("doc_id")).alias("url"),
            F.col("text"),
            # title = first 8 simple-analyzer tokens (array filter before
            # slice: map-only, same token stream the oracle derives)
            F.array_join(F.slice(toks_arr, 1, _TITLE_LEN), " ").alias("title"),
            # static quality prior = token count capped at 255 (integers
            # <= 511 round-trip the FeatureField freq encoding exactly,
            # so the SQL oracle can use the raw value)
            F.least(F.size(toks_arr), F.lit(255)).cast("double").alias("qfeat"),
        )
        build_index(
            spark, docs, idx, num_segments=1, analyzer="simple",
            stopwords=None, index_positions=True,
            fields={"body": "text", "title": "title"},
            feature_fields={"quality": "qfeat"},
        )
    return idx


def _ensure_bj_index(spark: SparkSession, sf_dir: str) -> str:
    """Doc-block index for ToParentBlockJoin: every 4 consecutive docs form
    a family of children (urls ...-c{rank}) followed by one parent doc
    (url ...-p, text 'parentmarker' — sorts last in the family, so url-rank
    docid assignment reproduces the addDocuments block layout). Single
    segment: docid == url rank, SQL-computable from doc_id."""
    name = sf_dir.strip("/").replace("/", "_") + "_bj"
    idx = f"{_GATE_ROOT}/{_FORMAT_V}/{name}"
    probe = os.path.join(idx, "segment_manifest")
    if not os.path.exists(probe):
        base = spark.read.parquet(f"{sf_dir}/documents.parquet")
        children = base.select(
            F.format_string(
                "doc://%09d-c%d",
                F.floor(F.col("doc_id") / 4).cast("long"),
                F.pmod(F.col("doc_id"), F.lit(4)).cast("long"),
            ).alias("url"),
            "text",
        )
        parents = (
            base.select(F.floor(F.col("doc_id") / 4).cast("long").alias("g"))
            .distinct()
            .select(
                F.format_string("doc://%09d-p", F.col("g")).alias("url"),
                F.lit("parentmarker").alias("text"),
            )
        )
        build_index(
            spark, children.unionByName(parents), idx, num_segments=1,
            analyzer="simple", stopwords=None, index_positions=True,
        )
    return idx


def _q_block_join(spark, sf_dir):
    from .search.query import TermQuery, ToParentBlockJoinQuery

    s = Searcher(
        spark, _ensure_bj_index(spark, sf_dir), analyzer="simple", mode="double"
    )
    q = ToParentBlockJoinQuery(
        TermQuery("stream"), TermQuery("parentmarker"), "avg"
    )
    return s.search(q, k=10).select(
        F.col("docid").alias("doc_id"), F.round("score", 4).alias("score")
    )


def _q_parent_children(spark, sf_dir):
    """ParentChildrenBlockJoinQuery: the 'merge'-matching children of
    family 0's parent (docid 4 in the 4-children+parent block layout),
    each with its own child BM25 score."""
    from .search.query import ParentChildrenBlockJoinQuery, TermQuery

    s = Searcher(
        spark, _ensure_bj_index(spark, sf_dir), analyzer="simple", mode="double"
    )
    q = ParentChildrenBlockJoinQuery(
        TermQuery("merge"), TermQuery("parentmarker"), parent_docid=4
    )
    return s.search(q, k=10).select(
        F.col("docid").alias("doc_id"), F.round("score", 4).alias("score")
    )


def _sql_parent_children(term: str = "merge", k: int = 10) -> str:
    """Children of family 0 = doc_id 0..3 (their bj-index docids equal
    their doc_ids); scores use the bj corpus stats (parents add G docs of
    length 1)."""
    idf = _idf("d.df")
    return f"""WITH {_BASE_CTES},
bs AS (
  SELECT (s.n_docs + g.g)::BIGINT AS n_docs,
         (s.sum_ttf + g.g)::DOUBLE / (s.n_docs + g.g) AS avgdl
  FROM stats s,
       (SELECT count(DISTINCT doc_id // 4)::BIGINT AS g FROM documents) g
),
es AS (
  SELECT tf.doc_id,
         ({idf} - {idf} / {_tf_part("tf.freq", "qdl.qdl")}) AS score
  FROM tf
  JOIN qdl USING (doc_id),
       bs s,
       (SELECT df FROM dft WHERE term = '{term}') d
  WHERE tf.term = '{term}' AND tf.doc_id < 4
)
""" + _topk_wrap("SELECT doc_id, score FROM es", k)


def _sql_block_join(term: str = "stream", k: int = 10) -> str:
    """Mirror of the block-join gate index: the block corpus adds one
    1-token parent per family of 4 base docs, so collection stats shift to
    n_docs+G and sum_ttf+G (G = ceil(N/4)); child BM25 uses those, then
    scores group per family with ScoreMode.Avg = ordered-sum / count, and
    the parent's index docid = min(4(g+1), N) + g (children precede it)."""
    idf = _idf("d.df")
    return f"""WITH {_BASE_CTES},
bs AS (
  SELECT (s.n_docs + g.g)::BIGINT AS n_docs,
         (s.sum_ttf + g.g)::DOUBLE / (s.n_docs + g.g) AS avgdl
  FROM stats s,
       (SELECT count(DISTINCT doc_id // 4)::BIGINT AS g FROM documents) g
),
es AS (
  SELECT tf.doc_id,
         ({idf} - {idf} / {_tf_part("tf.freq", "qdl.qdl")}) AS score
  FROM tf
  JOIN qdl USING (doc_id),
       bs s,
       (SELECT df FROM dft WHERE term = '{term}') d
  WHERE tf.term = '{term}'
),
u AS (
  SELECT (least(4 * (doc_id // 4 + 1), (SELECT n_docs FROM stats))
          + doc_id // 4)::BIGINT AS doc_id,
         list_sum(list(score ORDER BY doc_id)) / count(*) AS score
  FROM es GROUP BY doc_id // 4
)
""" + _topk_wrap("SELECT doc_id, score FROM u", k)


def _ensure_folded_index(spark: SparkSession, sf_dir: str) -> str:
    """Index over the corpus with EVERY a/o accented (translate a->á,
    o->ö) built with the ascii_folded analyzer. Folding inverts the
    injection exactly, so hits AND scores must equal plain BM25 over the
    ORIGINAL text — the row fails if folding breaks anywhere in the
    analyze/build/query chain."""
    name = sf_dir.strip("/").replace("/", "_") + "_fold"
    idx = f"{_GATE_ROOT}/{_FORMAT_V}/{name}"
    probe = os.path.join(idx, "segment_manifest")
    if not os.path.exists(probe):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            F.format_string("doc://%012d", F.col("doc_id")).alias("url"),
            F.translate("text", "ao", "áö").alias("text"),
        )
        build_index(
            spark, docs, idx, num_segments=1, analyzer="ascii_folded",
            stopwords=None, index_positions=True,
        )
    return idx


def _q_folded(spark, sf_dir):
    s = Searcher(
        spark, _ensure_folded_index(spark, sf_dir),
        analyzer="ascii_folded", mode="double",
    )
    # the accented query term exercises query-side folding too
    h = s.search("dátá OR stream", k=10, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


# --- multi-language analyzers ------------------------------------------------
#
# CJK: corpus = 4-character Han snippets driven by doc_id's base-5 digits
# over a 5-char alphabet; the cjk analyzer (CJKAnalyzer.java:38 chain,
# CJKBigramFilter) indexes 3 overlapping bigrams per doc, so tf/df of any
# bigram is doc_id arithmetic the oracle reproduces without tokenizing.
# German: corpus = 6 words drawn from a fixed lexicon by doc_id arithmetic;
# the german analyzer (GermanAnalyzer.java:1 chain: normalize + Savoy light
# stem) maps each lexicon word to a HAND-DERIVED stem baked into the oracle
# — if the stemmer deviates from the published algorithm the row fails.

_CJK_ALPHABET = "数据流处理"
_CJK_QUERY = _CJK_ALPHABET[1] + _CJK_ALPHABET[2]  # bigram a[1]a[2]

_DE_LEX = [
    "häuser", "hauses", "kindern", "kinder", "blumen", "blume", "haus", "kind",
]
# hand-derived from GermanNormalizationFilter + GermanLightStemmer
# (Savoy 2006): häuser/hauses/haus -> haus; kindern/kinder/kind -> kind;
# blumen/blume -> blum
_DE_STEMS = ["haus", "haus", "kind", "kind", "blum", "blum", "haus", "kind"]
_DE_QUERY = "häuser"  # analyzes to 'haus'
_DE_HAUS_IDXS = (0, 1, 6)


def _ensure_cjk_index(spark: SparkSession, sf_dir: str) -> str:
    name = sf_dir.strip("/").replace("/", "_") + "_cjk"
    idx = f"{_GATE_ROOT}/{_FORMAT_V}/{name}"
    probe = os.path.join(idx, "segment_manifest")
    if not os.path.exists(probe):
        chars = F.array(*[F.lit(c) for c in _CJK_ALPHABET])
        digit = lambda e: F.element_at(chars, (e % 5 + 1).cast("int"))  # noqa: E731
        d = F.col("doc_id")
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            F.format_string("doc://%012d", d).alias("url"),
            F.concat(
                digit(d), digit(F.expr("doc_id div 5")),
                digit(F.expr("doc_id div 25")), digit(F.expr("doc_id div 125")),
            ).alias("text"),
        )
        build_index(
            spark, docs, idx, num_segments=2, analyzer="cjk",
            stopwords=None, index_positions=False,
        )
    return idx


def _q_cjk_bigram(spark, sf_dir, k: int = 100000):
    s = Searcher(
        spark, _ensure_cjk_index(spark, sf_dir), analyzer="cjk", mode="double",
    )
    h = s.search(_CJK_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _sql_cjk_bigram(k: int = 100000) -> str:
    idf = _idf("d.df")
    x, y = 1, 2  # digit pair of _CJK_QUERY
    pair = lambda a, b: (  # noqa: E731
        f"(CASE WHEN {a} = {x} AND {b} = {y} THEN 1 ELSE 0 END)"
    )
    return f"""WITH cj AS (
  SELECT doc_id, doc_id % 5 AS d0, (doc_id // 5) % 5 AS d1,
         (doc_id // 25) % 5 AS d2, (doc_id // 125) % 5 AS d3
  FROM documents
),
tfq AS (
  SELECT doc_id,
         ({pair('d0', 'd1')} + {pair('d1', 'd2')} + {pair('d2', 'd3')})::BIGINT AS freq
  FROM cj
),
stats AS (
  SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs,
         3.0::DOUBLE AS avgdl
),
ps AS (
  SELECT t.doc_id,
         ({idf} - {idf} / {_tf_part('t.freq', '3')}) AS score
  FROM tfq t, stats s,
       (SELECT count(*)::BIGINT AS df FROM tfq WHERE freq > 0) d
  WHERE t.freq > 0
)
""" + _topk_wrap("SELECT doc_id, score FROM ps", k)


# Japanese (kuromoji analog, analysis/ja.py) / Korean (nori analog,
# analysis/ko.py): corpus = two lexicon nouns joined by particles plus a
# conjugated verb, all chosen by doc_id base-5 digits. The Viterbi lattice
# must segment noun+particle+noun+particle+verb exactly, the POS stop
# filter must drop the particles (with position gaps), and — for Japanese —
# JapaneseBaseFormFilter must map 読んだ→読む; doc length is then exactly 3
# emitted tokens and tf/df of any noun is doc_id arithmetic the oracle
# reproduces without a tokenizer.
_JA_LEX = ["経済", "新聞", "大学", "空港", "技術"]
_JA_QUERY = _JA_LEX[1]  # digit == 1
_KO_LEX = ["학교", "나라", "경제", "신문", "회사"]
_KO_QUERY = _KO_LEX[3]  # digit == 3
_TH_LEX = ["เศรษฐกิจ", "หนังสือพิมพ์", "มหาวิทยาลัย", "สนามบิน", "เทคโนโลยี"]
_TH_QUERY = _TH_LEX[1]  # digit == 1
_ZH_LEX = ["经济", "新闻", "大学", "机场", "技术"]
_ZH_QUERY = _ZH_LEX[1]  # digit == 1


def _ensure_morph_index(
    spark: SparkSession, sf_dir: str, tag: str, lex: list[str],
    analyzer: str, particle1: str, particle2_verb: str,
) -> str:
    name = sf_dir.strip("/").replace("/", "_") + f"_{tag}"
    idx = f"{_GATE_ROOT}/{_FORMAT_V}/{name}"
    probe = os.path.join(idx, "segment_manifest")
    if not os.path.exists(probe):
        arr = F.array(*[F.lit(w) for w in lex])
        noun = lambda e: F.element_at(arr, (e % 5 + 1).cast("int"))  # noqa: E731
        d = F.col("doc_id")
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            F.format_string("doc://%012d", d).alias("url"),
            F.concat(
                noun(d), F.lit(particle1), noun(F.expr("doc_id div 5")),
                F.lit(particle2_verb),
            ).alias("text"),
        )
        build_index(
            spark, docs, idx, num_segments=2, analyzer=analyzer,
            stopwords=None, index_positions=False,
        )
    return idx


def _q_japanese(spark, sf_dir, k: int = 100000):
    idx = _ensure_morph_index(
        spark, sf_dir, "ja", _JA_LEX, "japanese", "は", "を読んだ"
    )
    s = Searcher(spark, idx, analyzer="japanese", mode="double")
    h = s.search(_JA_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _q_thai(spark, sf_dir, k: int = 100000):
    """ThaiAnalyzer analog (th/ThaiAnalyzer.java:42): maximal-matching
    segmentation over the demo wordlist splits the space-free
    noun+noun+verb concatenation back into words — the segmenter IS what
    the gate exercises; the oracle recomputes BM25 from the digit
    construction in pure SQL."""
    idx = _ensure_morph_index(
        spark, sf_dir, "th", _TH_LEX, "thai", "", "\u0e17\u0e33\u0e07\u0e32\u0e19"
    )
    s = Searcher(spark, idx, analyzer="thai", mode="double")
    h = s.search(_TH_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


_ML_LEX = ["running", "jumped", "walking", "stronger", "quickly"]


def _q_multilingual_routed(spark, sf_dir, k: int = 100000):
    """Per-document language routing (build_index lang_col/lang_analyzers
    — the multilingual-webtext form of PerFieldAnalyzerWrapper): every
    doc holds ONE surface word shared by both language halves; 'en' rows
    route through the Porter-stemming english chain, 'de' rows through
    the verbatim standard chain. TermQuery('run') therefore matches
    exactly the en rows whose word is 'running' — broken routing in
    EITHER direction changes the match set (all-standard: zero matches;
    all-english: the de half matches too)."""
    from .search.query import TermQuery

    name = sf_dir.strip("/").replace("/", "_") + "_mlroute"
    idx = f"{_GATE_ROOT}/{_FORMAT_V}/{name}"
    probe = os.path.join(idx, "segment_manifest")
    if not os.path.exists(probe):
        arr = F.array(*[F.lit(w) for w in _ML_LEX])
        d = F.col("doc_id")
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            F.format_string("doc://%012d", d).alias("url"),
            F.element_at(arr, ((d / 2).cast("long") % 5 + 1).cast("int")).alias("text"),
            F.when(d % 2 == 0, F.lit("en")).otherwise(F.lit("de")).alias("lang"),
        )
        build_index(
            spark, docs, idx, num_segments=2, analyzer="standard",
            lang_col="lang",
            lang_analyzers={"en": "english", "de": "standard"},
            stopwords=None, index_positions=False,
        )
    s = Searcher(spark, idx, mode="double")
    h = s.search(TermQuery("run"), k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _sql_multilingual_routed(k: int = 100000) -> str:
    idf = _idf("d.df")
    hit = "(CASE WHEN doc_id % 2 = 0 AND (doc_id // 2) % 5 = 0 THEN 1 ELSE 0 END)"
    return f"""WITH tfq AS (
  SELECT doc_id, {hit}::BIGINT AS freq FROM documents
),
stats AS (
  SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs,
         1.0::DOUBLE AS avgdl
),
ps AS (
  SELECT t.doc_id,
         ({idf} - {idf} / {_tf_part('t.freq', '1')}) AS score
  FROM tfq t, stats s,
       (SELECT count(*)::BIGINT AS df FROM tfq WHERE freq > 0) d
  WHERE t.freq > 0
)
""" + _topk_wrap("SELECT doc_id, score FROM ps", k)


def _q_smartcn(spark, sf_dir, k: int = 100000):
    """SmartChineseAnalyzer analog (analysis/smartcn.py — HHMM word
    graph + bigram-Viterbi shortest path over the demo dictionaries):
    the space-free noun+noun+verb concatenation must be segmented back
    into exactly its three dictionary words, so the digit-construction
    BM25 oracle applies with dl = 3."""
    idx = _ensure_morph_index(
        spark, sf_dir, "zh", _ZH_LEX, "smartcn", "", "\u5de5\u4f5c"
    )
    s = Searcher(spark, idx, analyzer="smartcn", mode="double")
    h = s.search(_ZH_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _q_korean(spark, sf_dir, k: int = 100000):
    idx = _ensure_morph_index(
        spark, sf_dir, "ko", _KO_LEX, "korean", "가", "를 읽었다"
    )
    s = Searcher(spark, idx, analyzer="korean", mode="double")
    h = s.search(_KO_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _sql_morph_index(query_digit: int, k: int = 100000) -> str:
    idf = _idf("d.df")
    hit = lambda e: (  # noqa: E731
        f"(CASE WHEN ({e}) = {query_digit} THEN 1 ELSE 0 END)"
    )
    return f"""WITH tfq AS (
  SELECT doc_id,
         ({hit('doc_id % 5')} + {hit('(doc_id // 5) % 5')})::BIGINT AS freq
  FROM documents
),
stats AS (
  SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs,
         3.0::DOUBLE AS avgdl
),
ps AS (
  SELECT t.doc_id,
         ({idf} - {idf} / {_tf_part('t.freq', '3')}) AS score
  FROM tfq t, stats s,
       (SELECT count(*)::BIGINT AS df FROM tfq WHERE freq > 0) d
  WHERE t.freq > 0
)
""" + _topk_wrap("SELECT doc_id, score FROM ps", k)


def _ensure_german_index(spark: SparkSession, sf_dir: str) -> str:
    name = sf_dir.strip("/").replace("/", "_") + "_de"
    idx = f"{_GATE_ROOT}/{_FORMAT_V}/{name}"
    probe = os.path.join(idx, "segment_manifest")
    if not os.path.exists(probe):
        lex = F.array(*[F.lit(w) for w in _DE_LEX])
        word = lambda i: F.element_at(  # noqa: E731
            lex, ((F.col("doc_id") * 7 + i * 3) % 8 + 1).cast("int")
        )
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            F.format_string("doc://%012d", F.col("doc_id")).alias("url"),
            F.concat_ws(" ", *[word(i) for i in range(6)]).alias("text"),
        )
        build_index(
            spark, docs, idx, num_segments=2, analyzer="german",
            stopwords=None, index_positions=False,
        )
    return idx


# Token-filter chains (analysis/filters.py). filters_chain: every slot
# word survives (doc length stays 6) while pattern_replace + truncate
# remap the vocabulary — 'streaming00' and 'streams' both land on
# 'stream'. fingerprint: the whole doc collapses to ONE sorted-distinct
# joined token; the 6 slot indices are {(d*7 + 3i) % 8} which depends
# only on d*7 % 8, so exactly 8 fingerprints exist and querying one
# selects doc_id % 8 == 0 (d*7 % 8 == 0 ⇔ d % 8 == 0).
_FILTER_LEX = [
    "streaming00", "streams", "data0", "datum",
    "windowing", "tables", "rows", "joins",
]
_FP_LEX = [
    "alpha", "bravo", "china", "delta", "echo", "foxtrot", "golf", "hotel",
]


_COMPOUND_LEX = [
    "softwareupdate", "datastream", "windowpane", "streamflow",
    "rowboat", "hashjoin", "bigtable", "fastscan",
]
_COMPOUND_DICT = [
    "data", "stream", "soft", "ware", "update", "window", "pane", "flow",
    "row", "boat", "hash", "join", "big", "table", "fast", "scan",
    "software",
]


# Hunspell dictionary stemming (hunspell/Stemmer.java via analysis/
# hunspell.py): every inflection collapses to its dictionary root, so
# "walk" matches walks/walking/walk (idx 0,1,2); zebra is unknown and
# indexes as itself. One stem per lexicon word keeps the slot arithmetic.
_HUNSPELL_AFF = (
    "SET UTF-8\n"
    "SFX S Y 3\n"
    "SFX S y ies [^aeiou]y\n"
    "SFX S 0 s [^sxy]\n"
    "SFX S 0 es [sx]\n"
    "SFX G Y 1\n"
    "SFX G 0 ing [^e]\n"
)
_HUNSPELL_DIC = "4\nwalk/SG\ntry/S\nbus/S\nhope/S\n"
_HUNSPELL_LEX = [
    "walks", "walking", "walk", "tries", "try", "buses", "zebra", "hopes",
]
_HUNS_WALK_IDXS = (0, 1, 2)


def _q_hunspell_stem(spark, sf_dir, k: int = 100000):
    from .analysis.hunspell import register_hunspell_analyzer
    from .search.query import TermQuery

    register_hunspell_analyzer(
        "gate_hunspell", _HUNSPELL_AFF, _HUNSPELL_DIC
    )
    s = Searcher(
        spark,
        _ensure_lex_index(spark, sf_dir, "huns", _HUNSPELL_LEX, "gate_hunspell"),
        analyzer="gate_hunspell", mode="double",
    )
    h = s.search(TermQuery("walk"), k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


# ReverseStringFilter: reversed-term index (the leading-wildcard trick) —
# query term = reversed surface form. MappingCharFilter: ph→f rewriting
# BEFORE tokenization folds 'phone' and 'fone' onto one term.
# PolishAnalyzer (stempel demo table, analysis/stempel.py): kotem/kota/
# koty all stem to 'kot'; the other five words stem elsewhere (or not at
# all), so the 'kot' query's slot arithmetic matches indices {0,1,2}.
_PL_LEX = [
    "kotem", "kota", "koty", "domu",
    "ksi\u0105\u017cki", "j\u0119zykami", "miastach", "spark",
]

_REV_LEX = [
    "streaming", "windowing", "table", "scan",
    "merge", "join", "filter", "sort",
]
_MAP_LEX = [
    "phone", "fone", "graph", "graf",
    "photo", "foto", "phase", "faze",
]


def _register_gate_filter_analyzers():
    from .analysis.filters import (
        dictionary_compound,
        fingerprint_filter,
        mapping_char_filter,
        pattern_replace,
        register_filter_analyzer,
        reverse_string,
        truncate_filter,
    )

    register_filter_analyzer("gate_reverse", term_filters=[reverse_string])
    register_filter_analyzer(
        "gate_mapping", char_filters=[mapping_char_filter({"ph": "f"})]
    )

    register_filter_analyzer(
        "gate_filters",
        term_filters=[pattern_replace(r"0+$", ""), truncate_filter(6)],
    )
    register_filter_analyzer(
        "gate_fingerprint", stream_filters=[fingerprint_filter()]
    )
    register_filter_analyzer(
        "gate_compound",
        stream_filters=[dictionary_compound(_COMPOUND_DICT)],
        distinct_positions=True,
    )


def _mk_q_lex_filter(tag: str, lex: list, analyzer: str, term: str, k: int = 100000):
    from .search.query import TermQuery

    def run(spark, sf_dir):
        _register_gate_filter_analyzers()
        s = Searcher(
            spark,
            _ensure_lex_index(spark, sf_dir, tag, lex, analyzer),
            analyzer=analyzer, mode="double",
        )
        h = s.search(TermQuery(term), k=k, with_url=True)
        return h.select(
            F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
            F.round("score", 4).alias("score"),
        )

    return run


def _q_compound_index(spark, sf_dir, k: int = 100000):
    """Dictionary compound decomposition: 'stream' is a subword of the
    lexicon's 'datastream' (idx 1) and 'streamflow' (idx 3); subwords
    stack at the compound's position, so doc length stays 6 and the
    slot-arithmetic oracle applies."""
    from .search.query import TermQuery

    _register_gate_filter_analyzers()
    s = Searcher(
        spark,
        _ensure_lex_index(spark, sf_dir, "cmp", _COMPOUND_LEX, "gate_compound"),
        analyzer="gate_compound", mode="double",
    )
    h = s.search(TermQuery("stream"), k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _q_filters_chain(spark, sf_dir, k: int = 100000):
    from .search.query import TermQuery

    _register_gate_filter_analyzers()
    s = Searcher(
        spark,
        _ensure_lex_index(spark, sf_dir, "flt", _FILTER_LEX, "gate_filters"),
        analyzer="gate_filters", mode="double",
    )
    h = s.search(TermQuery("stream"), k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _q_fingerprint_index(spark, sf_dir, k: int = 100000):
    from .search.query import TermQuery

    _register_gate_filter_analyzers()
    s = Searcher(
        spark,
        _ensure_lex_index(spark, sf_dir, "fp", _FP_LEX, "gate_fingerprint"),
        analyzer="gate_fingerprint", mode="double",
    )
    term = " ".join(sorted(_FP_LEX[(3 * i) % 8] for i in range(6)))
    h = s.search(TermQuery(term), k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _sql_fingerprint_index(k: int = 100000) -> str:
    idf = _idf("d.df")
    return f"""WITH tfq AS (
  SELECT doc_id,
         (CASE WHEN (doc_id * 7) % 8 = 0 THEN 1 ELSE 0 END)::BIGINT AS freq
  FROM documents
),
stats AS (
  SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs,
         1.0::DOUBLE AS avgdl
),
ps AS (
  SELECT t.doc_id,
         ({idf} - {idf} / {_tf_part('t.freq', '1')}) AS score
  FROM tfq t, stats s,
       (SELECT count(*)::BIGINT AS df FROM tfq WHERE freq > 0) d
  WHERE t.freq > 0
)
""" + _topk_wrap("SELECT doc_id, score FROM ps", k)


# UAX29URLEmailTokenizer (analysis/urlemail.py): every lexicon entry
# analyzes to exactly ONE token — URLs and emails survive as single
# lowercased terms, so doc length stays 6 and the slot-arithmetic oracle
# applies unchanged. A tokenizer that split any URL/email would shift both
# tf and dl and hash-mismatch.
_UE_LEX = [
    "https://Spark.Example.com/docs?q=1",
    "Bob.Smith@example.org",
    "data",
    "www.Lucene.example.net",
    "ftp://files.example.com/pub",
    "alice+dev@example.co.UK",
    "stream27",
    "HTTP://a.example.io/x#frag",
]


def _mk_q_url_email(term: str, k: int = 100000):
    from .search.query import TermQuery

    def run(spark, sf_dir):
        s = Searcher(
            spark,
            _ensure_lex_index(spark, sf_dir, "ue", _UE_LEX, "url_email"),
            analyzer="url_email", mode="double",
        )
        h = s.search(TermQuery(term), k=k, with_url=True)
        return h.select(
            F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
            F.round("score", 4).alias("score"),
        )

    return run


def _q_german_stem(spark, sf_dir, k: int = 100000):
    s = Searcher(
        spark, _ensure_german_index(spark, sf_dir), analyzer="german",
        mode="double",
    )
    h = s.search(_DE_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _sql_german_stem(k: int = 100000) -> str:
    idf = _idf("d.df")
    idxs = ", ".join(str(i) for i in _DE_HAUS_IDXS)
    hits = " + ".join(
        f"(CASE WHEN ((doc_id * 7 + {3 * i}) % 8) IN ({idxs}) THEN 1 ELSE 0 END)"
        for i in range(6)
    )
    return f"""WITH tfq AS (
  SELECT doc_id, ({hits})::BIGINT AS freq FROM documents
),
stats AS (
  SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs,
         6.0::DOUBLE AS avgdl
),
ps AS (
  SELECT t.doc_id,
         ({idf} - {idf} / {_tf_part('t.freq', '6')}) AS score
  FROM tfq t, stats s,
       (SELECT count(*)::BIGINT AS df FROM tfq WHERE freq > 0) d
  WHERE t.freq > 0
)
""" + _topk_wrap("SELECT doc_id, score FROM ps", k)


# French: same doc_id-arithmetic recipe as German — corpus = 6 words drawn
# from a fixed lexicon, the french analyzer (fr/FrenchAnalyzer.java:129
# chain: elision + Savoy UniNE light stem) maps each word to a HAND-DERIVED
# stem baked into the oracle. "l'avion" exercises elision inside the build.
_FR_LEX = [
    "chevaux", "cheval", "chanteuse", "chanteur",
    "l'avion", "avions", "chante", "avion",
]
# chevaux/cheval -> cheval; chanteuse/chanteur/chante -> chant;
# l'avion/avions/avion -> avion
_FR_QUERY = "chevaux"  # analyzes to 'cheval'
_FR_CHEVAL_IDXS = (0, 1)


def _ensure_french_index(spark: SparkSession, sf_dir: str) -> str:
    name = sf_dir.strip("/").replace("/", "_") + "_fr"
    idx = f"{_GATE_ROOT}/{_FORMAT_V}/{name}"
    probe = os.path.join(idx, "segment_manifest")
    if not os.path.exists(probe):
        lex = F.array(*[F.lit(w) for w in _FR_LEX])
        word = lambda i: F.element_at(  # noqa: E731
            lex, ((F.col("doc_id") * 7 + i * 3) % 8 + 1).cast("int")
        )
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            F.format_string("doc://%012d", F.col("doc_id")).alias("url"),
            F.concat_ws(" ", *[word(i) for i in range(6)]).alias("text"),
        )
        build_index(
            spark, docs, idx, num_segments=2, analyzer="french",
            stopwords=None, index_positions=False,
        )
    return idx


def _q_french_stem(spark, sf_dir, k: int = 100000):
    s = Searcher(
        spark, _ensure_french_index(spark, sf_dir), analyzer="french",
        mode="double",
    )
    h = s.search(_FR_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _sql_french_stem(k: int = 100000) -> str:
    idf = _idf("d.df")
    idxs = ", ".join(str(i) for i in _FR_CHEVAL_IDXS)
    hits = " + ".join(
        f"(CASE WHEN ((doc_id * 7 + {3 * i}) % 8) IN ({idxs}) THEN 1 ELSE 0 END)"
        for i in range(6)
    )
    return f"""WITH tfq AS (
  SELECT doc_id, ({hits})::BIGINT AS freq FROM documents
),
stats AS (
  SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs,
         6.0::DOUBLE AS avgdl
),
ps AS (
  SELECT t.doc_id,
         ({idf} - {idf} / {_tf_part('t.freq', '6')}) AS score
  FROM tfq t, stats s,
       (SELECT count(*)::BIGINT AS df FROM tfq WHERE freq > 0) d
  WHERE t.freq > 0
)
""" + _topk_wrap("SELECT doc_id, score FROM ps", k)


# Spanish / Italian: same doc_id-arithmetic recipe as German/French —
# corpus = 6 words drawn from a fixed 8-word lexicon, the language chain
# (es/SpanishAnalyzer.java:113 + SpanishLightStemmer; it/ItalianAnalyzer.java
# :113 + ElisionFilter + ItalianLightStemmer — both Savoy CLEF-2001 light
# stemmers) maps each word to a HAND-DERIVED stem baked into the oracle.

# libros/libro -> libr; veces/vez -> vez; meses/mes -> mes;
# canciones/canción -> cancion
_ES_LEX = [
    "libros", "libro", "veces", "vez",
    "meses", "mes", "canciones", "canción",
]
_ES_QUERY = "libros"  # analyzes to 'libr'
_ES_LIBR_IDXS = (0, 1)

# ragazzo/ragazzi/ragazza/ragazze -> ragazz; storie/storia -> stor;
# l'aereo/aereo -> aereo (elision; 5 chars — under the stemmer's length gate)
_IT_LEX = [
    "ragazzo", "ragazzi", "ragazza", "ragazze",
    "storie", "storia", "l'aereo", "aereo",
]
_IT_QUERY = "storie"  # analyzes to 'stor'
_IT_STOR_IDXS = (4, 5)


# ClassicAnalyzer (analysis/classic/ClassicTokenizerImpl.jflex grammar +
# ClassicFilter): every lexicon surface form analyzes to exactly ONE token
# (APOSTROPHE possessive strip, ACRONYM dot strip, COMPANY, HOST, NUM),
# so the 6-slot arithmetic oracle applies unchanged. Query 'o'reilly'
# matches both the possessive and the plain surface form.
_CLASSIC_LEX = [
    "O'Reilly's", "U.S.A.", "AT&T", "www.nutch.org",
    "21.35", "1-2-3", "R2D2", "O'Reilly",
]


def _q_classic_analyzer(spark, sf_dir, k: int = 100000):
    from .search.query import TermQuery

    s = Searcher(
        spark,
        _ensure_lex_index(spark, sf_dir, "classic", _CLASSIC_LEX, "classic"),
        analyzer="classic", mode="double",
    )
    h = s.search(TermQuery("o'reilly"), k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


# PathHierarchyTokenizer (analysis/path/PathHierarchyTokenizer.java:28-46):
# each doc's text is a 3-component path from the slot arithmetic; the
# tokenizer emits the 3 hierarchy prefixes (doc_len 3, each freq 1). The
# query term is a 2-level prefix, so a doc matches iff its first TWO slots
# draw the right lexicon indices — pure slot arithmetic in the oracle.
_PATH_LEX = ["data", "img", "docs", "static", "api", "v2", "blog", "css"]


def _q_path_hierarchy(spark, sf_dir, k: int = 100000):
    from .analysis.custom import register_token_analyzer
    from .analysis.pathhier import path_hierarchy_analyzer
    from .search.query import TermQuery

    register_token_analyzer("gate_path", path_hierarchy_analyzer())
    name = sf_dir.strip("/").replace("/", "_") + "_pathhier"
    idx = f"{_GATE_ROOT}/{_FORMAT_V}/{name}"
    if not os.path.exists(os.path.join(idx, "segment_manifest")):
        arr = F.array(*[F.lit(w) for w in _PATH_LEX])
        word = lambda i: F.element_at(  # noqa: E731
            arr, ((F.col("doc_id") * 7 + i * 3) % 8 + 1).cast("int")
        )
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            F.format_string("doc://%012d", F.col("doc_id")).alias("url"),
            F.concat_ws("/", F.lit(""), word(0), word(1), word(2)).alias("text"),
        )
        build_index(
            spark, docs, idx, num_segments=2, analyzer="gate_path",
            stopwords=None, index_positions=False,
        )
    s = Searcher(spark, idx, analyzer="gate_path", mode="double")
    # slot1 ≡ slot0 + 3 (mod 8), so the realizable 2-level prefixes pair
    # index i with index (i+3)%8: "data"(0) → "static"(3)
    h = s.search(TermQuery("/data/static"), k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _sql_path_hierarchy(i0: int, k: int = 100000) -> str:
    """Oracle: tf = 1 iff slot0 drew index i0 (slot1 is then forced to
    (i0+3)%8 by the slot arithmetic); dl = 3 hierarchy tokens per doc."""
    idf = _idf("d.df")
    return f"""WITH tfq AS (
  SELECT doc_id, 1::BIGINT AS freq FROM documents
  WHERE (doc_id * 7) % 8 = {i0}
),
stats AS (
  SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs,
         3.0::DOUBLE AS avgdl
),
ps AS (
  SELECT t.doc_id,
         ({idf} - {idf} / {_tf_part('t.freq', '3')}) AS score
  FROM tfq t, stats s,
       (SELECT count(*)::BIGINT AS df FROM tfq) d
)
""" + _topk_wrap("SELECT doc_id, score FROM ps", k)


def _ensure_lex_index(
    spark: SparkSession, sf_dir: str, tag: str, lex: list, analyzer: str
) -> str:
    """Build-once cached index whose corpus is 6 lexicon words per doc
    chosen by ``(doc_id*7 + 3i) % 8`` — the oracle recomputes term
    frequencies from the same arithmetic."""
    name = sf_dir.strip("/").replace("/", "_") + "_" + tag
    idx = f"{_GATE_ROOT}/{_FORMAT_V}/{name}"
    probe = os.path.join(idx, "segment_manifest")
    if not os.path.exists(probe):
        arr = F.array(*[F.lit(w) for w in lex])
        word = lambda i: F.element_at(  # noqa: E731
            arr, ((F.col("doc_id") * 7 + i * 3) % 8 + 1).cast("int")
        )
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            F.format_string("doc://%012d", F.col("doc_id")).alias("url"),
            F.concat_ws(" ", *[word(i) for i in range(6)]).alias("text"),
        )
        build_index(
            spark, docs, idx, num_segments=2, analyzer=analyzer,
            stopwords=None, index_positions=False,
        )
    return idx


def _sql_lex_stem(match_idxs: tuple, k: int = 100000) -> str:
    """Oracle for one stemmed-term BM25 query over a lexicon index: a doc's
    term frequency = how many of its 6 slots drew a lexicon word whose
    hand-derived stem equals the query's stem."""
    idf = _idf("d.df")
    idxs = ", ".join(str(i) for i in match_idxs)
    hits = " + ".join(
        f"(CASE WHEN ((doc_id * 7 + {3 * i}) % 8) IN ({idxs}) THEN 1 ELSE 0 END)"
        for i in range(6)
    )
    return f"""WITH tfq AS (
  SELECT doc_id, ({hits})::BIGINT AS freq FROM documents
),
stats AS (
  SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs,
         6.0::DOUBLE AS avgdl
),
ps AS (
  SELECT t.doc_id,
         ({idf} - {idf} / {_tf_part('t.freq', '6')}) AS score
  FROM tfq t, stats s,
       (SELECT count(*)::BIGINT AS df FROM tfq WHERE freq > 0) d
  WHERE t.freq > 0
)
""" + _topk_wrap("SELECT doc_id, score FROM ps", k)


# CommonGrams (analysis/commongrams/CommonGramsFilter.java): unigrams +
# stacked '_'-joined bigrams around common words. The lexicon's slot
# arithmetic makes slot i+1 ≡ slot i + 3 (mod 8), so the pair (the, quick)
# = indices (0, 3) occurs whenever slot i drew index 0 with i <= 4; 'the'
# is common so the gram is always emitted for that pair.
_CG_LEX = [
    "the", "of", "fox", "quick",
    "brown", "jumps", "lazy", "dog",
]


def _q_common_grams(spark, sf_dir, k: int = 100000):
    from .search.query import TermQuery

    s = Searcher(
        spark,
        _ensure_lex_index(spark, sf_dir, "cg", _CG_LEX, "common_grams"),
        analyzer="common_grams", mode="double",
    )
    h = s.search(TermQuery("the_quick"), k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _sql_lex_gram(first_idx: int, k: int = 100000) -> str:
    """Oracle for one common-gram term over a lexicon index: frequency =
    how many of the 5 ADJACENT slot pairs start with ``first_idx`` (the
    second member is determined by the +3 mod 8 slot arithmetic). Doc
    length stays 6 — grams stack at posIncrement 0 (discountOverlaps)."""
    idf = _idf("d.df")
    hits = " + ".join(
        f"(CASE WHEN ((doc_id * 7 + {3 * i}) % 8) = {first_idx} "
        "THEN 1 ELSE 0 END)"
        for i in range(5)
    )
    return f"""WITH tfq AS (
  SELECT doc_id, ({hits})::BIGINT AS freq FROM documents
),
stats AS (
  SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs,
         6.0::DOUBLE AS avgdl
),
ps AS (
  SELECT t.doc_id,
         ({idf} - {idf} / {_tf_part('t.freq', '6')}) AS score
  FROM tfq t, stats s,
       (SELECT count(*)::BIGINT AS df FROM tfq WHERE freq > 0) d
  WHERE t.freq > 0
)
""" + _topk_wrap("SELECT doc_id, score FROM ps", k)


def _q_spanish_stem(spark, sf_dir, k: int = 100000):
    s = Searcher(
        spark, _ensure_lex_index(spark, sf_dir, "es", _ES_LEX, "spanish"),
        analyzer="spanish", mode="double",
    )
    h = s.search(_ES_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _q_italian_stem(spark, sf_dir, k: int = 100000):
    s = Searcher(
        spark, _ensure_lex_index(spark, sf_dir, "it", _IT_LEX, "italian"),
        analyzer="italian", mode="double",
    )
    h = s.search(_IT_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


# livros/livro -> livr; canções/canção -> canca (ões→ão rewrite, vowel
# strip, then fold); bons/bom -> bom (ns→m); famosas/famoso -> famos
_PT_LEX = [
    "livros", "livro", "canções", "canção",
    "bons", "bom", "famosas", "famoso",
]
_PT_QUERY = "livros"  # analyzes to 'livr'
_PT_LIVR_IDXS = (0, 1)

# snowball Tamil (ta/TamilAnalyzer.java chain, analysis/ta.py): friend /
# friends collapse (நண்பன்/நண்பர்கள் -> நண்), student forms collapse
# (மாணவன் -> மாண), house plural drops (வீடுகள்/வீடு -> வீடு); கடல்,
# மொழி are already stems. All stems golden-verified against the
# reference snowball runtime (tests/test_multilang_analyzers.py).
_TA_LEX = [
    "நண்பன்", "நண்பர்கள்", "மாணவன்", "மாணவர்",
    "வீடுகள்", "வீடு", "கடல்", "மொழி",
]
_TA_QUERY = "நண்பர்கள்"  # analyzes to 'நண்'
_TA_NAN_IDXS = (0, 1)

# книгами/книга -> книг; красного/красный -> красн; домов/дом -> дом;
# синяя/синий -> син
_RU_LEX = [
    "книгами", "книга", "красного", "красный",
    "домов", "дом", "синяя", "синий",
]
_RU_QUERY = "книги"  # an UNSEEN case form; analyzes to 'книг'
_RU_KNIG_IDXS = (0, 1)


# Soundex codes (classic, incl. the HW rule): robert/rupert -> R163;
# ashcraft/ashcroft -> A261; tymczak/tymczack -> T522;
# honeyman/honeymann -> H555
_SX_LEX = [
    "robert", "rupert", "ashcraft", "ashcroft",
    "tymczak", "tymczack", "honeyman", "honeymann",
]
_SX_QUERY = "rupert"  # encodes to R163, matching robert too
_SX_R163_IDXS = (0, 1)


# Refined Soundex (commons-codec RefinedSoundex via PhoneticFilter):
# braz/broz -> B1905; caren/caron -> C30908; lambert/lombard -> L7081096;
# hayers/heers -> H093
_RSX_LEX = [
    "braz", "broz", "caren", "caron",
    "lambert", "lombard", "hayers", "heers",
]
_RSX_QUERY = "bruz"  # an UNSEEN spelling; encodes to B1905 too
_RSX_B1905_IDXS = (0, 1)

# Caverphone 2.0 (commons-codec Caverphone2 via PhoneticFilter, Hood 2004):
# stevenson/stivenson -> STFNSN1111; peter/pieter -> PTA1111111;
# thompson/tompson -> TMPSN11111; lee/leigh -> LA11111111
_CV_LEX = [
    "stevenson", "stivenson", "peter", "pieter",
    "thompson", "tompson", "lee", "leigh",
]
_CV_QUERY = "stefanson"  # an UNSEEN spelling; encodes to STFNSN1111 too
_CV_STFNSN_IDXS = (0, 1)


# ICU folding (ICUFoldingFilter / UTR#30): Ångström/angstrom -> angstrom;
# ﬁle/file -> file (NFKC ligature); über/uber -> uber; ＳＰＡＲＫ/spark ->
# spark (fullwidth compatibility fold)
_ICU_LEX = [
    "Ångström", "angstrom", "ﬁle", "file",
    "über", "uber", "ＳＰＡＲＫ", "spark",
]
_ICU_QUERY = "ANGSTRÖM"  # folds to angstrom
_ICU_IDXS = (0, 1)


def _q_icu_folding(spark, sf_dir, k: int = 100000):
    s = Searcher(
        spark, _ensure_lex_index(spark, sf_dir, "icu", _ICU_LEX, "icu_folding"),
        analyzer="icu_folding", mode="double",
    )
    h = s.search(_ICU_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


# Double Metaphone (commons-codec DoubleMetaphone via DoubleMetaphoneFilter,
# Philips 2000): miller/muller -> MLR; taylor/tailor -> TLR;
# baker/becker -> PKR; carter/karter -> KRTR — every lexicon word's primary
# code EQUALS its alternate, so exactly one token per word (the differing-
# alternate posIncr-0 stack is exercised by tests/test_metaphone.py instead)
_DM_LEX = [
    "miller", "muller", "taylor", "tailor",
    "baker", "becker", "carter", "karter",
]
_DM_QUERY = "mealer"  # an UNSEEN spelling; encodes to MLR too
_DM_MLR_IDXS = (0, 1)


# NYSIIS (commons-codec Nysiis via PhoneticFilter, Taft 1970):
# john/jon -> JAN; knight/night -> NAGT; brown/braun -> BRAN;
# phillips/filips -> FALAP
_NY_LEX = [
    "john", "jon", "knight", "night",
    "brown", "braun", "phillips", "filips",
]
_NY_QUERY = "jahn"  # an UNSEEN spelling; H elides after the vowel -> JAN
_NY_JAN_IDXS = (0, 1)

# Kölner Phonetik (commons-codec ColognePhonetic via PhoneticFilter,
# Postel 1969): müller/muller -> 657; meyer/maier -> 67;
# schmidt/schmitt -> 862; heinz/hainz -> 068
_KP_LEX = [
    "müller", "muller", "meyer", "maier",
    "schmidt", "schmitt", "heinz", "hainz",
]
_KP_QUERY = "mueller"  # an UNSEEN spelling; encodes to 657 too
_KP_657_IDXS = (0, 1)


def _q_double_metaphone(spark, sf_dir, k: int = 100000):
    s = Searcher(
        spark, _ensure_lex_index(spark, sf_dir, "dm", _DM_LEX, "double_metaphone"),
        analyzer="double_metaphone", mode="double",
    )
    h = s.search(_DM_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _q_nysiis(spark, sf_dir, k: int = 100000):
    s = Searcher(
        spark, _ensure_lex_index(spark, sf_dir, "ny", _NY_LEX, "nysiis"),
        analyzer="nysiis", mode="double",
    )
    h = s.search(_NY_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _q_cologne(spark, sf_dir, k: int = 100000):
    s = Searcher(
        spark, _ensure_lex_index(spark, sf_dir, "kp", _KP_LEX, "cologne"),
        analyzer="cologne", mode="double",
    )
    h = s.search(_KP_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _q_refined_soundex(spark, sf_dir, k: int = 100000):
    s = Searcher(
        spark,
        _ensure_lex_index(spark, sf_dir, "rsx", _RSX_LEX, "refined_soundex"),
        analyzer="refined_soundex", mode="double",
    )
    h = s.search(_RSX_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _q_caverphone2(spark, sf_dir, k: int = 100000):
    s = Searcher(
        spark,
        _ensure_lex_index(spark, sf_dir, "cv2", _CV_LEX, "caverphone2"),
        analyzer="caverphone2", mode="double",
    )
    h = s.search(_CV_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


# Match Rating Approach (commons-codec MatchRatingApproachEncoder via
# PhoneticFilter; Western Airlines 1977): sean/senn -> SN, and the unseen
# query spelling "sen" encodes to SN too. The other names all code apart
# (karl KRL / carl CRL / brian BRN / williams WLMS / catherine CTHRN /
# auerbach ARBCH).
_MRA_LEX = [
    "sean", "senn", "karl", "carl",
    "brian", "williams", "catherine", "auerbach",
]
_MRA_QUERY = "sen"
_MRA_SN_IDXS = (0, 1)


def _q_match_rating(spark, sf_dir, k: int = 100000):
    s = Searcher(
        spark, _ensure_lex_index(spark, sf_dir, "mra", _MRA_LEX, "match_rating"),
        analyzer="match_rating", mode="double",
    )
    h = s.search(_MRA_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _q_soundex_stem(spark, sf_dir, k: int = 100000):
    s = Searcher(
        spark, _ensure_lex_index(spark, sf_dir, "sx", _SX_LEX, "soundex"),
        analyzer="soundex", mode="double",
    )
    h = s.search(_SX_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


# الكتاب/كتاب/والكتاب/كتابها -> كتاب (article+conjunction prefixes, ها
# suffix); المدرسة/مدرسة -> مدرس (teh marbuta normalizes to heh, then
# strips); مسلمون/مسلمين -> مسلم (plural suffixes)
_AR_LEX = [
    "الكتاب", "كتاب", "والكتاب", "كتابها",
    "المدرسة", "مدرسة", "مسلمون", "مسلمين",
]
_AR_QUERY = "الكتاب"  # analyzes to كتاب
_AR_KITAB_IDXS = (0, 1, 2, 3)


def _q_arabic_stem(spark, sf_dir, k: int = 100000):
    s = Searcher(
        spark, _ensure_lex_index(spark, sf_dir, "ar", _AR_LEX, "arabic"),
        analyzer="arabic", mode="double",
    )
    h = s.search(_AR_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


# Word-delimiter: mixed-case compounds split into parts; doc LENGTH varies
# with which lexicon words a doc draws (parts per word below), so the
# oracle recomputes both tf and dl from the doc_id arithmetic and runs the
# full variable-length BM25 (dl <= 18 < 41, under the SmallFloat-exact
# range, so the stored quantized norm equals the raw length).
_WD_LEX = [
    "PowerShot500", "WiFi", "DataBase", "OpenSource",
    "power", "shot", "wifi", "database",
]
_WD_PARTS = (3, 2, 2, 2, 1, 1, 1, 1)
_WD_QUERY = "shot"  # a PART: matches PowerShot500 (idx 0) and shot (idx 5)
_WD_SHOT_IDXS = (0, 5)


def _q_word_delimiter(spark, sf_dir, k: int = 100000):
    s = Searcher(
        spark,
        _ensure_lex_index(spark, sf_dir, "wd", _WD_LEX, "word_delimiter"),
        analyzer="word_delimiter", mode="double",
    )
    h = s.search(_WD_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _sql_word_delimiter(k: int = 100000) -> str:
    idf = _idf("d.df")
    widx = lambda i: f"((doc_id * 7 + {3 * i}) % 8)"  # noqa: E731
    part_case = lambda i: (  # noqa: E731
        "CASE "
        + " ".join(
            f"WHEN {widx(i)} = {j} THEN {p}" for j, p in enumerate(_WD_PARTS)
        )
        + " END"
    )
    idxs = ", ".join(str(i) for i in _WD_SHOT_IDXS)
    hits = " + ".join(
        f"(CASE WHEN {widx(i)} IN ({idxs}) THEN 1 ELSE 0 END)" for i in range(6)
    )
    dl = " + ".join(f"({part_case(i)})" for i in range(6))
    return f"""WITH cj AS (
  SELECT doc_id, ({hits})::BIGINT AS freq, ({dl})::BIGINT AS dl
  FROM documents
),
stats AS (
  SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs,
         (SELECT sum(dl) FROM cj)::DOUBLE
           / (SELECT count(*) FROM documents) AS avgdl
),
ps AS (
  SELECT t.doc_id,
         ({idf} - {idf} / {_tf_part('t.freq', 't.dl')}) AS score
  FROM cj t, stats s,
       (SELECT count(*)::BIGINT AS df FROM cj WHERE freq > 0) d
  WHERE t.freq > 0
)
""" + _topk_wrap("SELECT doc_id, score FROM ps", k)


# házak/ház -> haz; könyvek/könyv -> konyv (plural -ek, vowel fold);
# városban/város -> varos (case -ban); emberek/ember -> ember
_HU_LEX = [
    "házak", "ház", "könyvek", "könyv",
    "városban", "város", "emberek", "ember",
]
_HU_QUERY = "házak"  # analyzes to 'haz'
_HU_HAZ_IDXS = (0, 1)


def _q_hungarian_stem(spark, sf_dir, k: int = 100000):
    s = Searcher(
        spark, _ensure_lex_index(spark, sf_dir, "hu", _HU_LEX, "hungarian"),
        analyzer="hungarian", mode="double",
    )
    h = s.search(_HU_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


# Swedish UniNE light stems (analysis/sv/SwedishLightStemmer.java):
# flickor/flickorna -> flick; bilar/bilens -> bil; starkaste/starkast ->
# stark; hemligheten/hemlighet -> hemlig
_SV_LEX = [
    "flickor", "flickorna", "bilar", "bilens",
    "starkaste", "starkast", "hemligheten", "hemlighet",
]
_SV_QUERY = "flickors"  # an UNSEEN possessive form; analyzes to 'flick'
_SV_FLICK_IDXS = (0, 1)

# Norwegian Bokmål light stems (analysis/no/NorwegianLightStemmer.java):
# husene/huset -> hus; hemmeligheter/hemmeligheten -> hemmelig;
# finere/finest -> fin; følelser/følelsen -> føl
_NO_LEX = [
    "husene", "huset", "hemmeligheter", "hemmeligheten",
    "finere", "finest", "følelser", "følelsen",
]
_NO_QUERY = "husenes"  # an UNSEEN possessive form; analyzes to 'hus'
_NO_HUS_IDXS = (0, 1)

# Finnish UniNE light stems (analysis/fi/FinnishLightStemmer.java):
# kirjassa/kirjat -> kirj; talossa/taloja -> talo; autolla/autoja -> auto;
# nopeasti/nopea -> nop
_FI_LEX = [
    "kirjassa", "kirjat", "talossa", "taloja",
    "autolla", "autoja", "nopeasti", "nopea",
]
_FI_QUERY = "kirjaan"  # an UNSEEN illative form; analyzes to 'kirj'
_FI_KIRJ_IDXS = (0, 1)


# Czech light stems (analysis/cz/CzechStemmer.java): studentech/studenti
# -> student; pražského/pražský -> pražsk; matčin/matka -> matk (č->k
# palatalization); otcové/otci -> otk (c->k)
_CS_LEX = [
    "studentech", "studenti", "pražského", "pražský",
    "matčin", "matka", "otcové", "otci",
]
_CS_QUERY = "studentovi"  # an UNSEEN dative form; analyzes to 'student'
_CS_STUDENT_IDXS = (0, 1)

# Bulgarian BulStem light stems (analysis/bg/BulgarianStemmer.java):
# градът/градове -> град; книгата/книги -> книг; ученикът/ученици ->
# ученик (ци->к); хубава/хубаво -> хубав
_BG_LEX = [
    "градът", "градове", "книгата", "книги",
    "ученикът", "ученици", "хубава", "хубаво",
]
_BG_QUERY = "градовете"  # an UNSEEN plural-definite form -> 'град'
_BG_GRAD_IDXS = (0, 1)

# Persian normalization (analysis/fa/PersianNormalizer.java +
# ArabicNormalizer): farsi yeh علی ≡ yeh علي; keheh کتاب ≡ kaf كتاب;
# alef-madda آزاد ≡ ازاد; teh-marbuta خانة ≡ خانه. No stemmer — the chain
# is pure normalization, so the query is one of the variant spellings.
_FA_LEX = [
    "علی", "علي", "کتاب", "كتاب",
    "آزاد", "ازاد", "خانة", "خانه",
]
_FA_QUERY = "کتاب"  # keheh form; normalizes to the kaf form كتاب
_FA_KETAB_IDXS = (2, 3)


# Hindi light stems (analysis/hi/HindiStemmer.java + HindiNormalizer):
# लड़के/लड़का -> लडक (nukta fold + vowel strip); किताबें/किताब -> किताब;
# खेलते/खेलता -> खेल; बच्चों/बच्चा -> बचच
_HI_LEX = [
    "लड़के", "लड़का", "किताबें", "किताब",
    "खेलते", "खेलता", "बच्चों", "बच्चा",
]
_HI_QUERY = "लड़कों"  # an UNSEEN oblique plural; analyzes to 'लडक'
_HI_LADKA_IDXS = (0, 1)

# Indonesian stems (analysis/id/IndonesianStemmer.java, ATW 2005):
# bukunya/bukukah -> buku; mengukur/diukur -> ukur; makanan/makan ->
# makan; tersapu/penyapu -> sapu
_ID_LEX = [
    "bukunya", "bukukah", "mengukur", "diukur",
    "makanan", "makan", "tersapu", "penyapu",
]
_ID_QUERY = "bukumu"  # an UNSEEN possessive form; analyzes to 'buku'
_ID_BUKU_IDXS = (0, 1)

# Galician minimal stems (analysis/gl/GalicianMinimalStemmer.java — the
# RSLP Plural step only): xamós/xamón -> xamón; normais/normal -> normal;
# luces/luz -> luz; papéis/papel -> papel
_GL_LEX = [
    "xamós", "xamón", "normais", "normal",
    "luces", "luz", "papéis", "papel",
]
_GL_QUERY = "xamós"  # plural form; depluralizes to xamón
_GL_XAMON_IDXS = (0, 1)


def _q_add_indexes(spark, sf_dir, k: int = 100000):
    """IndexWriter.addIndexes(Directory...) (index/addindexes.py): two
    independently built halves of the corpus are absorbed into one index
    by partition-path rename — zero postings decoded — and the combined
    index must score EXACTLY like one build over the full corpus (global
    stats sum across the absorbed segments). k returns every match so the
    docid-vs-doc_id tie-break difference of the multi-index layout can
    never reorder a cut boundary."""
    import shutil

    name = sf_dir.strip("/").replace("/", "_") + "_addidx"
    base = f"{_GATE_ROOT}/{_FORMAT_V}/{name}"
    dst, src = f"{base}/dst", f"{base}/src"
    marker = f"{base}/.added"
    if not os.path.exists(marker):
        from .index.addindexes import add_indexes

        shutil.rmtree(base, ignore_errors=True)
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id",
            F.format_string("doc://%012d", F.col("doc_id")).alias("url"),
            "text",
        )
        build_index(
            spark, docs.filter("doc_id % 2 = 0").drop("doc_id"), dst,
            num_segments=2, analyzer="simple", stopwords=None,
            index_positions=True,
        )
        build_index(
            spark, docs.filter("doc_id % 2 = 1").drop("doc_id"), src,
            num_segments=2, analyzer="simple", stopwords=None,
            index_positions=True,
        )
        add_indexes(spark, dst, [src])
        with open(marker, "w") as fh:
            fh.write("ok")
    s = Searcher(spark, dst, analyzer="simple", mode="double")
    h = s.search("stream OR window", k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _q_simple_parser(spark, sf_dir, k: int = 10):
    """SimpleQueryParser dialect (queryparser/simple/SimpleQueryParser.java):
    'stream + window | "data stream"' parses — via the reference's
    operation-change tree wrap — to SHOULD(MUST(stream, window),
    PHRASE(data stream)); the oracle re-derives both clauses and sums in
    clause order."""
    s = _searcher(spark, sf_dir)
    h = s.search_simple('stream + window | "data stream"', k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _sql_simple_parser(k: int = 10) -> str:
    idf_a = _idf("(SELECT df FROM dft WHERE term = 'data')")
    idf_b = _idf("(SELECT df FROM dft WHERE term = 'stream')")
    ctes = ", ".join(
        [_term_scores_cte("s_0", "stream"), _term_scores_cte("s_1", "window")]
    )
    return f"""WITH {_BASE_CTES}, {ctes},
pf AS (
  SELECT a.doc_id, count(*)::BIGINT AS freq
  FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1 AND b.term = 'stream'
  WHERE a.term = 'data'
  GROUP BY a.doc_id
),
ps AS (
  SELECT pf.doc_id,
         (w.w - w.w / {_tf_part("pf.freq", "qdl.qdl")}) AS score
  FROM pf JOIN qdl USING (doc_id),
       stats s,
       (SELECT ({idf_a} + {idf_b}) AS w FROM stats s) w
),
andd AS (
  SELECT doc_id, ((0.0 + s_0.score) + s_1.score) AS score
  FROM s_0 JOIN s_1 USING (doc_id)
)
""" + _topk_wrap(
        """SELECT doc_id,
       ((0.0 + coalesce(andd.score, 0.0)) + coalesce(ps.score, 0.0)) AS score
  FROM andd FULL JOIN ps USING (doc_id)""",
        k,
    )


# StemmerOverride + KeywordMarker via the custom-analyzer extension point
# (miscellaneous/StemmerOverrideFilter.java:43-60,
# SetKeywordMarkerFilter.java): the override dict conflates mice with
# mouse's porter stem; 'running' is keyword-protected so it does NOT stem.
# runs/run pair through plain Porter; views/view likewise.
_OVR_LEX = [
    "mice", "mouse", "runs", "run",
    "running", "viewing", "views", "view",
]
_OVR_QUERY = "mice"  # override maps it onto mouse's porter stem 'mous'
_OVR_MOUS_IDXS = (0, 1)


def _q_stemmer_override(spark, sf_dir, k: int = 100000):
    from .analysis.custom import english_with_overrides, register_term_analyzer

    register_term_analyzer(
        "english_protected",
        english_with_overrides(
            overrides={"mice": "mous"}, keywords={"running"}
        ),
    )
    s = Searcher(
        spark,
        _ensure_lex_index(spark, sf_dir, "ovr", _OVR_LEX, "english_protected"),
        analyzer="english_protected", mode="double",
    )
    h = s.search(_OVR_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


# Greek stems (analysis/el/GreekStemmer.java — Ntais, via the
# GreekLowerCaseFilter fold): άνθρωπος/ανθρώπου -> ανθρωπ;
# πελάτης/πελάτες -> πελατ; ελέφαντας/ελέφαντα -> ελεφαντ;
# μαθητής/μαθητές -> μαθητ
_EL_LEX = [
    "άνθρωπος", "ανθρώπου", "πελάτης", "πελάτες",
    "ελέφαντας", "ελέφαντα", "μαθητής", "μαθητές",
]
_EL_QUERY = "ανθρώπους"  # an UNSEEN accusative plural -> 'ανθρωπ'
_EL_ANTHROP_IDXS = (0, 1)


def _q_greek_stem(spark, sf_dir, k: int = 100000):
    s = Searcher(
        spark, _ensure_lex_index(spark, sf_dir, "el", _EL_LEX, "greek"),
        analyzer="greek", mode="double",
    )
    h = s.search(_EL_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


# Latvian light stems (analysis/lv/LatvianStemmer.java, Kreslins):
# tēvs/tēvi -> tēv; lācis/lāči -> lāc (palatalized č -> c); akmens/akmeņi
# -> akmen (ņ -> n); kurmis/kurmji -> kurm (labial +j drop)
_LV_LEX = [
    "tēvs", "tēvi", "lācis", "lāči",
    "akmens", "akmeņi", "kurmis", "kurmji",
]
_LV_QUERY = "tēvam"  # an UNSEEN dative form; analyzes to 'tēv'
_LV_TEV_IDXS = (0, 1)


# Bengali chain (analysis/bn/BengaliAnalyzer.java:119 + BengaliNormalizer +
# BengaliStemmer): করেছিলাম/করি -> কর; মেয়েরা/মেয়েদের -> মে; একটি/এক -> এক;
# মানুষগুলি/মানুষ -> মানুস (ষ->স normalization + -গুলি strip)
_BN_LEX = [
    "\u0995\u09b0\u09c7\u099b\u09bf\u09b2\u09be\u09ae", "\u0995\u09b0\u09bf",
    "\u09ae\u09c7\u09df\u09c7\u09b0\u09be", "\u09ae\u09c7\u09df\u09c7\u09a6\u09c7\u09b0",
    "\u098f\u0995\u099f\u09bf", "\u098f\u0995",
    "\u09ae\u09be\u09a8\u09c1\u09b7\u0997\u09c1\u09b2\u09bf", "\u09ae\u09be\u09a8\u09c1\u09b7",
]
_BN_QUERY = "\u0995\u09b0\u09bf\u09a4\u09c7\u099b\u09bf\u09b2\u09c7"  # an UNSEEN verb form -> the same stem as lex 0/1
_BN_KOR_IDXS = (0, 1)


def _q_bengali_stem(spark, sf_dir, k: int = 100000):
    s = Searcher(
        spark, _ensure_lex_index(spark, sf_dir, "bn", _BN_LEX, "bengali"),
        analyzer="bengali", mode="double",
    )
    h = s.search(_BN_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


# Sorani Kurdish chain (analysis/ckb/SoraniAnalyzer.java:122 +
# SoraniNormalizer + SoraniStemmer): piyaw-êk/piyaw-an -> piyaw;
# derga-yek/derga-kan -> derga; hotêl-î/hotêl-êkî -> hotêl;
# pare-man/pare-tan -> pare (possessive strips)
_CKB_LEX = [
    "\u067e\u06cc\u0627\u0648\u06ce\u06a9", "\u067e\u06cc\u0627\u0648\u0627\u0646",
    "\u062f\u06d5\u0631\u06af\u0627\u06cc\u06d5\u06a9", "\u062f\u06d5\u0631\u06af\u0627\u06a9\u0627\u0646",
    "\u0647\u06c6\u062a\u06cc\u0644\u06cc", "\u0647\u06c6\u062a\u06cc\u0644\u06ce\u06a9\u06cc",
    "\u067e\u0627\u0631\u06d5\u0645\u0627\u0646", "\u067e\u0627\u0631\u06d5\u062a\u0627\u0646",
]
_CKB_QUERY = "\u067e\u06cc\u0627\u0648\u06d5\u06a9\u0627\u0646"  # an UNSEEN definite plural -> the lex-0/1 stem
_CKB_PIYAW_IDXS = (0, 1)


def _q_sorani_stem(spark, sf_dir, k: int = 100000):
    s = Searcher(
        spark, _ensure_lex_index(spark, sf_dir, "ckb", _CKB_LEX, "sorani"),
        analyzer="sorani", mode="double",
    )
    h = s.search(_CKB_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


# Telugu chain (analysis/te/TeluguAnalyzer.java:120 + TeluguNormalizer +
# TeluguStemmer): pustaka-mu/pustaka-kai -> pustaka; raamu-du/raamu-nu ->
# raamu; amma-di/amma-ki -> amma; vastuvu-lu/vastuvu-ki -> vastuvu
_TE_LEX = [
    "\u0c2a\u0c41\u0c38\u0c4d\u0c24\u0c15\u0c2e\u0c41", "\u0c2a\u0c41\u0c38\u0c4d\u0c24\u0c15\u0c15\u0c48",
    "\u0c30\u0c3e\u0c2e\u0c41\u0c21\u0c41", "\u0c30\u0c3e\u0c2e\u0c41\u0c28\u0c41",
    "\u0c05\u0c2e\u0c4d\u0c2e\u0c26\u0c3f", "\u0c05\u0c2e\u0c4d\u0c2e\u0c15\u0c3f",
    "\u0c35\u0c38\u0c4d\u0c24\u0c41\u0c35\u0c41\u0c32\u0c41", "\u0c35\u0c38\u0c4d\u0c24\u0c41\u0c35\u0c41\u0c15\u0c3f",
]
_TE_QUERY = "\u0c2a\u0c41\u0c38\u0c4d\u0c24\u0c15\u0c2a\u0c48"  # an UNSEEN case form (-pai) -> the lex-0/1 stem
_TE_PUSTAKA_IDXS = (0, 1)


def _q_telugu_stem(spark, sf_dir, k: int = 100000):
    s = Searcher(
        spark, _ensure_lex_index(spark, sf_dir, "te", _TE_LEX, "telugu"),
        analyzer="telugu", mode="double",
    )
    h = s.search(_TE_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


# Dutch chain (nl/DutchAnalyzer.java:150 + DEFAULT_STEM_DICT + snowball
# Dutch): lichamelijk/lichamen -> licham; kinderen -> kinder AND kind ->
# kinder via the override dict; fietsen -> fiets AND fiets -> fiets via
# the override; opheffen/opheffende -> opheff
_NL_LEX = [
    "lichamelijk", "lichamen", "kinderen", "kind",
    "fietsen", "fiets", "opheffen", "opheffende",
]
_NL_QUERY = "lichaam"  # an UNSEEN singular; long-vowel undouble -> licham
_NL_LICHAM_IDXS = (0, 1)


def _q_dutch_stem(spark, sf_dir, k: int = 100000):
    s = Searcher(
        spark, _ensure_lex_index(spark, sf_dir, "nl", _NL_LEX, "dutch"),
        analyzer="dutch", mode="double",
    )
    h = s.search(_NL_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


# Lithuanian chain (lt/LithuanianAnalyzer.java + snowball Lithuanian):
# vaikai/vaiko/vaikams/vaikuose -> vaik (noun decl. I across cases);
# kačių/katėmis -> kat (č->t fix); arkliai and šiandien keep themselves
_LT_LEX = [
    "vaikai", "vaiko", "vaikams", "vaikuose",
    "kačių", "katėmis", "arkliai", "šiandien",
]
_LT_QUERY = "vaikas"  # an UNSEEN nominative; step1 deletes -as in R1
_LT_VAIK_IDXS = (0, 1, 2, 3)


def _q_lithuanian_stem(spark, sf_dir, k: int = 100000):
    s = Searcher(
        spark, _ensure_lex_index(spark, sf_dir, "lt", _LT_LEX, "lithuanian"),
        analyzer="lithuanian", mode="double",
    )
    h = s.search(_LT_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


# Romanian chain (ro/RomanianAnalyzer.java:118 + RomanianNormalizer +
# snowball Romanian): absenți -> absenț and the CEDILLA spelling absenţi
# normalizes first, so both conflate with the query; copilul -> copil,
# casele -> cas, vorbește -> vorb, lucrare -> lucr stay distinct
_RO_LEX = [
    "absenți", "absenţi", "copilul", "casele",
    "vorbește", "lucrare", "ziua", "frumoasă",
]
_RO_QUERY = "absența"  # unseen form; vowel-suffix -a deletes in RV
_RO_ABSENT_IDXS = (0, 1)


def _q_romanian_stem(spark, sf_dir, k: int = 100000):
    s = Searcher(
        spark, _ensure_lex_index(spark, sf_dir, "ro", _RO_LEX, "romanian"),
        analyzer="romanian", mode="double",
    )
    h = s.search(_RO_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


# Estonian chain (et/EstonianAnalyzer.java + snowball Estonian):
# teadaolevalt/-vaid/-vatest/-va -> teadaole (the reference test's own
# paradigm); raamatud/raamatute -> raama, kirjutas -> kirjuta,
# laulsime -> laul stay distinct
_ET_LEX = [
    "teadaolevalt", "teadaolevaid", "teadaolevatest", "teadaoleva",
    "raamatud", "raamatute", "kirjutas", "laulsime",
]
_ET_QUERY = "teadaolevat"  # an UNSEEN case form; -t (len>=4) then -va
_ET_TEADAOLE_IDXS = (0, 1, 2, 3)


def _q_estonian_stem(spark, sf_dir, k: int = 100000):
    s = Searcher(
        spark, _ensure_lex_index(spark, sf_dir, "et", _ET_LEX, "estonian"),
        analyzer="estonian", mode="double",
    )
    h = s.search(_ET_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


# Basque chain (eu/BasqueAnalyzer.java + snowball Basque): zaldiak/
# zaldiari/zaldietan/zaldi -> zaldi (the reference test's noun);
# mendiari/mendietan -> mendi; etxea/liburuak keep their own stems
_EU_LEX = [
    "zaldiak", "zaldiari", "zaldietan", "zaldi",
    "mendiari", "mendietan", "etxea", "liburuak",
]
_EU_QUERY = "zaldien"  # an UNSEEN genitive plural; izenak -en in RV
_EU_ZALDI_IDXS = (0, 1, 2, 3)


def _q_basque_stem(spark, sf_dir, k: int = 100000):
    s = Searcher(
        spark, _ensure_lex_index(spark, sf_dir, "eu", _EU_LEX, "basque"),
        analyzer="basque", mode="double",
    )
    h = s.search(_EU_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


# Armenian chain (hy/ArmenianAnalyzer.java + snowball Armenian):
# արծիվ/արծիվներ/արծիվների/արծիվը -> արծ (the reference test's eagle
# paradigm); գիրք -> գիր, գրքեր/տուն/տների stay distinct
_HY_LEX = [
    "արծիվ", "արծիվներ", "արծիվների", "արծիվը",
    "գիրք", "գրքեր", "տուն", "տների",
]
_HY_QUERY = "արծիվին"  # an UNSEEN dative; case ending -ին starts in R2
_HY_ARC_IDXS = (0, 1, 2, 3)


def _q_armenian_stem(spark, sf_dir, k: int = 100000):
    s = Searcher(
        spark, _ensure_lex_index(spark, sf_dir, "hy", _HY_LEX, "armenian"),
        analyzer="armenian", mode="double",
    )
    h = s.search(_HY_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


# Brazilian chain (br/BrazilianAnalyzer.java + BrazilianStemmer.java):
# boataria/boate/boates/boatos -> boat (the reference test's own snowball-
# examples paradigm); bobeira/bobinho/quilate/quiosque keep distinct stems
_BR_LEX = [
    "boataria", "boate", "boates", "boatos",
    "bobeira", "bobinho", "quilate", "quiosque",
]
_BR_QUERY = "boatas"  # an UNSEEN plural; step4 -os/-a then step5 path
_BR_BOAT_IDXS = (0, 1, 2, 3)


def _q_brazilian_stem(spark, sf_dir, k: int = 100000):
    s = Searcher(
        spark, _ensure_lex_index(spark, sf_dir, "br", _BR_LEX, "brazilian"),
        analyzer="brazilian", mode="double",
    )
    h = s.search(_BR_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


# Catalan chain (ca/CatalanAnalyzer.java + snowball Catalan): llengües/
# llengua -> llengu (the reference test's pair); institut/estudis/catalans/
# diccionari stem per the testContractions vector; paraula/paraules -> par
_CA_LEX = [
    "llengües", "llengua", "institut", "estudis",
    "catalans", "diccionari", "paraula", "paraules",
]
_CA_QUERY = "llenguada"  # an UNSEEN derivation; -ada (R2) verb-suffix case
_CA_LLENGU_IDXS = (0, 1)


def _q_catalan_stem(spark, sf_dir, k: int = 100000):
    s = Searcher(
        spark, _ensure_lex_index(spark, sf_dir, "ca", _CA_LEX, "catalan"),
        analyzer="catalan", mode="double",
    )
    h = s.search(_CA_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


# Nepali chain (ne/NepaliAnalyzer.java + snowball Nepali): मित्रहरु/मित्रले/
# मित्रलाई/मित्रको -> मित्र (the reference test's friend paradigm);
# किताबहरु/घरमा/पानी/देशहरू keep their own stems
_NE_LEX = [
    "मित्रहरु", "मित्रले", "मित्रलाई", "मित्रको",
    "किताबहरु", "घरमा", "पानी", "देशहरू",
]
_NE_QUERY = "मित्रहरू"  # an UNSEEN long-ū plural; category-3 हरू
_NE_MITRA_IDXS = (0, 1, 2, 3)


def _q_nepali_stem(spark, sf_dir, k: int = 100000):
    s = Searcher(
        spark, _ensure_lex_index(spark, sf_dir, "ne", _NE_LEX, "nepali"),
        analyzer="nepali", mode="double",
    )
    h = s.search(_NE_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


# Serbian chain (sr/SerbianAnalyzer.java + snowball Serbian + normalization
# filter): decimalnim/decimalni/decimalna/decimalno -> decimaln (the
# reference test's own adjective); abdiciraće/đubrište stem per
# TestSerbianAnalyzer.testBasics; vojnik/gradovi stay distinct
_SR_LEX = [
    "decimalnim", "decimalni", "decimalna", "decimalno",
    "abdiciraće", "đubrište", "vojnik", "gradovi",
]
_SR_QUERY = "decimalnog"  # an UNSEEN genitive; Step_3 R1-gated delete
_SR_DECIMALN_IDXS = (0, 1, 2, 3)


def _q_serbian_stem(spark, sf_dir, k: int = 100000):
    s = Searcher(
        spark, _ensure_lex_index(spark, sf_dir, "sr", _SR_LEX, "serbian"),
        analyzer="serbian", mode="double",
    )
    h = s.search(_SR_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


# Danish chain (da/DanishAnalyzer.java + snowball Danish): huset/husene ->
# hus; bilens/bilerne -> bil; hoppen/hopperne -> hop (undouble);
# venlige/venligst -> ven (-e / -igst then -lig)
_DA_LEX = [
    "huset", "husene", "bilens", "bilerne",
    "hoppen", "hopperne", "venlige", "venligst",
]
_DA_QUERY = "huse"  # an UNSEEN plural -> 'hus'
_DA_HUS_IDXS = (0, 1)


def _q_danish_stem(spark, sf_dir, k: int = 100000):
    s = Searcher(
        spark, _ensure_lex_index(spark, sf_dir, "da", _DA_LEX, "danish"),
        analyzer="danish", mode="double",
    )
    h = s.search(_DA_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


# Turkish chain (analysis/tr/TurkishAnalyzer.java:110 — ApostropheFilter +
# TurkishLowerCaseFilter + snowball Turkish): ağacı/ağaç -> ağaç (possessive
# strip + c->ç devoicing); kitapları/kitap -> kitap; güzelliği/güzellik ->
# güzellik (ğ->k); Gölü'ne -> göl (apostrophe truncation + -(y)U strip)
_TR_LEX = [
    "ağacı", "ağaç", "kitapları", "kitap",
    "güzelliği", "güzellik", "Gölü'ne", "göl",
]
_TR_QUERY = "ağaçlar"  # an UNSEEN plural -> 'ağaç' (nominal-verb lAr strip)
_TR_AGAC_IDXS = (0, 1)


def _q_turkish_stem(spark, sf_dir, k: int = 100000):
    s = Searcher(
        spark, _ensure_lex_index(spark, sf_dir, "tr", _TR_LEX, "turkish"),
        analyzer="turkish", mode="double",
    )
    h = s.search(_TR_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


# Irish chain (analysis/ga/IrishAnalyzer.java:127 + snowball Irish):
# siopadóireacht(a)/siopadóir -> siopadóir (derivational -eacht(a) in R2);
# b'fhearr -> fearr (elision) / fearr; nAthair -> n-athair -> athair
# (IrishLowerCaseFilter prothesis + initial-mutation strip);
# síceapatacha/síceapaite -> síceapaite (-patacha rewrite)
_GA_LEX = [
    "siopadóireacht", "siopadóir", "b'fhearr", "fearr",
    "nAthair", "athair", "síceapatacha", "síceapaite",
]
_GA_QUERY = "siopadóireachta"  # an UNSEEN genitive form -> 'siopadóir'
_GA_SIOPADOIR_IDXS = (0, 1)


def _q_irish_stem(spark, sf_dir, k: int = 100000):
    s = Searcher(
        spark, _ensure_lex_index(spark, sf_dir, "ga", _GA_LEX, "irish"),
        analyzer="irish", mode="double",
    )
    h = s.search(_GA_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _q_latvian_stem(spark, sf_dir, k: int = 100000):
    s = Searcher(
        spark, _ensure_lex_index(spark, sf_dir, "lv", _LV_LEX, "latvian"),
        analyzer="latvian", mode="double",
    )
    h = s.search(_LV_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _q_hindi_stem(spark, sf_dir, k: int = 100000):
    s = Searcher(
        spark, _ensure_lex_index(spark, sf_dir, "hi", _HI_LEX, "hindi"),
        analyzer="hindi", mode="double",
    )
    h = s.search(_HI_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _q_indonesian_stem(spark, sf_dir, k: int = 100000):
    s = Searcher(
        spark, _ensure_lex_index(spark, sf_dir, "id", _ID_LEX, "indonesian"),
        analyzer="indonesian", mode="double",
    )
    h = s.search(_ID_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _q_galician_stem(spark, sf_dir, k: int = 100000):
    s = Searcher(
        spark,
        _ensure_lex_index(spark, sf_dir, "gl", _GL_LEX, "galician_minimal"),
        analyzer="galician_minimal", mode="double",
    )
    h = s.search(_GL_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _q_czech_stem(spark, sf_dir, k: int = 100000):
    s = Searcher(
        spark, _ensure_lex_index(spark, sf_dir, "cs", _CS_LEX, "czech"),
        analyzer="czech", mode="double",
    )
    h = s.search(_CS_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _q_bulgarian_stem(spark, sf_dir, k: int = 100000):
    s = Searcher(
        spark, _ensure_lex_index(spark, sf_dir, "bg", _BG_LEX, "bulgarian"),
        analyzer="bulgarian", mode="double",
    )
    h = s.search(_BG_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _q_persian_norm(spark, sf_dir, k: int = 100000):
    s = Searcher(
        spark, _ensure_lex_index(spark, sf_dir, "fa", _FA_LEX, "persian"),
        analyzer="persian", mode="double",
    )
    h = s.search(_FA_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _q_swedish_stem(spark, sf_dir, k: int = 100000):
    s = Searcher(
        spark, _ensure_lex_index(spark, sf_dir, "sv", _SV_LEX, "swedish"),
        analyzer="swedish", mode="double",
    )
    h = s.search(_SV_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _q_norwegian_stem(spark, sf_dir, k: int = 100000):
    s = Searcher(
        spark, _ensure_lex_index(spark, sf_dir, "no", _NO_LEX, "norwegian"),
        analyzer="norwegian", mode="double",
    )
    h = s.search(_NO_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _q_finnish_stem(spark, sf_dir, k: int = 100000):
    s = Searcher(
        spark, _ensure_lex_index(spark, sf_dir, "fi", _FI_LEX, "finnish"),
        analyzer="finnish", mode="double",
    )
    h = s.search(_FI_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _q_portuguese_stem(spark, sf_dir, k: int = 100000):
    s = Searcher(
        spark, _ensure_lex_index(spark, sf_dir, "pt", _PT_LEX, "portuguese"),
        analyzer="portuguese", mode="double",
    )
    h = s.search(_PT_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _q_tamil_stem(spark, sf_dir, k: int = 100000):
    s = Searcher(
        spark, _ensure_lex_index(spark, sf_dir, "ta", _TA_LEX, "tamil"),
        analyzer="tamil", mode="double",
    )
    h = s.search(_TA_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _q_russian_stem(spark, sf_dir, k: int = 100000):
    s = Searcher(
        spark, _ensure_lex_index(spark, sf_dir, "ru", _RU_LEX, "russian"),
        analyzer="russian", mode="double",
    )
    h = s.search(_RU_QUERY, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _ensure_syn_index(spark: SparkSession, sf_dir: str) -> str:
    """Index built with index-time synonym rules stream->flow and
    window->flow (keep_original): 'flow' becomes a real posting list whose
    docs are the union and freqs the sums; doc lengths stay the
    distinct-position counts, so base-corpus stats still apply."""
    name = sf_dir.strip("/").replace("/", "_") + "_syn"
    idx = f"{_GATE_ROOT}/{_FORMAT_V}/{name}"
    probe = os.path.join(idx, "segment_manifest")
    if not os.path.exists(probe):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            F.format_string("doc://%012d", F.col("doc_id")).alias("url"), "text"
        )
        build_index(
            spark, docs, idx, num_segments=1, analyzer="simple",
            stopwords=None, index_positions=True,
            synonyms={"stream": ("flow",), "window": ("flow",)},
        )
    return idx


def _ensure_syngraph_index(spark: SparkSession, sf_dir: str) -> str:
    """Index built with a MULTI-WORD synonym rule via the index-time graph
    chain (SynonymGraphFilter → FlattenGraphFilter, analysis/synonyms.py
    apply_synonym_graph): "data stream" => zqsynflow, keep_original. The
    originals path (2 tokens) is the longest alternative, so every
    original token keeps its position and zqsynflow stacks at the match
    start — doc lengths and base-corpus stats are UNCHANGED, making the
    flattened posting list exactly SQL-expressible: zqsynflow's postings
    are the adjacent (data, stream) bigram occurrences (greedy
    non-overlapping scan ≡ the bigram count for this self-overlap-free
    pattern)."""
    name = sf_dir.strip("/").replace("/", "_") + "_syngraph"
    idx = f"{_GATE_ROOT}/{_FORMAT_V}/{name}"
    probe = os.path.join(idx, "segment_manifest")
    if not os.path.exists(probe):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            F.format_string("doc://%012d", F.col("doc_id")).alias("url"), "text"
        )
        build_index(
            spark, docs, idx, num_segments=1, analyzer="simple",
            stopwords=None, index_positions=True,
            synonyms={"data stream": ("zqsynflow",)},
        )
    return idx


def _q_synonym_graph(spark, sf_dir):
    s = Searcher(
        spark, _ensure_syngraph_index(spark, sf_dir), analyzer="simple",
        mode="double",
    )
    h = s.search("zqsynflow", k=10, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _sql_synonym_graph(k: int = 10) -> str:
    """The flattened multi-word synonym posting list in SQL: one posting
    per adjacent data→stream pair; df/freq from the pair counts; norms
    and avgdl are the base corpus's (the stacked token adds no
    positions)."""
    idf = _idf("d.df")
    return f"""WITH {_BASE_CTES},
sf AS (
  SELECT t1.doc_id, count(*)::BIGINT AS freq
  FROM toks t1 JOIN toks t2
    ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
  WHERE t1.term = 'data' AND t2.term = 'stream'
  GROUP BY t1.doc_id
),
d AS (SELECT count(*)::BIGINT AS df FROM sf),
ss AS (
  SELECT sf.doc_id, ({idf} - {idf} / {_tf_part("sf.freq", "qdl.qdl")}) AS score
  FROM sf JOIN qdl USING (doc_id), stats s, d
)
""" + _topk_wrap("SELECT doc_id, score FROM ss", k)


def _q_synonym_expanded(spark, sf_dir):
    s = Searcher(
        spark, _ensure_syn_index(spark, sf_dir), analyzer="simple",
        mode="double",
    )
    h = s.search("flow", k=10, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _sql_synonym_expanded(terms=("stream", "window"), k: int = 10) -> str:
    """The synonym posting list in SQL: df = docs containing any source
    term, freq = summed occurrences; norms/avgdl unchanged (stacked
    positions add no positions)."""
    tlist = ", ".join(f"'{t}'" for t in terms)
    idf = _idf("d.df")
    return f"""WITH {_BASE_CTES},
sf AS (
  SELECT doc_id, count(*)::BIGINT AS freq FROM toks
  WHERE term IN ({tlist}) GROUP BY doc_id
),
d AS (SELECT count(*)::BIGINT AS df FROM sf),
ss AS (
  SELECT sf.doc_id, ({idf} - {idf} / {_tf_part("sf.freq", "qdl.qdl")}) AS score
  FROM sf JOIN qdl USING (doc_id), stats s, d
)
""" + _topk_wrap("SELECT doc_id, score FROM ss", k)


_SOLR_SYN_TEXT = """# gate rules, SolrSynonymParser grammar
stream => flow
window => flow
"""


def _q_solr_synonyms(spark, sf_dir):
    """Index-time synonyms from a Solr-format rules file
    (analysis/common/.../synonym/SolrSynonymParser.java): the parsed rules
    drive the same synonym chain as the dict form, so the posting list of
    'flow' is the union of stream+window — identical oracle to
    synonym_expanded_index."""
    from .analysis.synonyms import parse_solr_synonyms

    rules = parse_solr_synonyms(_SOLR_SYN_TEXT)
    name = sf_dir.strip("/").replace("/", "_") + "_synsolr"
    idx = f"{_GATE_ROOT}/{_FORMAT_V}/{name}"
    probe = os.path.join(idx, "segment_manifest")
    if not os.path.exists(probe):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            F.format_string("doc://%012d", F.col("doc_id")).alias("url"), "text"
        )
        build_index(
            spark, docs, idx, num_segments=1, analyzer="simple",
            stopwords=None, index_positions=True, synonyms=rules,
        )
    s = Searcher(spark, idx, analyzer="simple", mode="double")
    h = s.search("flow", k=10, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _mf_searcher(spark: SparkSession, sf_dir: str) -> Searcher:
    return Searcher(
        spark, _ensure_mf_index(spark, sf_dir), analyzer="simple", mode="double"
    )


def _mk_mf_topk(make_q, k: int = 10):
    """make_q(searcher) -> query string or AST."""

    def run(spark, sf_dir):
        s = _mf_searcher(spark, sf_dir)
        h = s.search(make_q(s), k=k, with_url=True)
        return h.select(
            F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
            F.round("score", 4).alias("score"),
        )

    return run


# per-field token/stat CTEs: t_* = title (pos < 8), b_* = body (aliases of
# the base CTEs, with field docCount = docs having >=1 token — the exists
# list's df, which is what the engine's per-field CollectionStatistics use)
_MF_CTES = f"""
t_toks AS (SELECT doc_id, term, pos FROM toks WHERE pos < {_TITLE_LEN}),
t_tf AS (SELECT doc_id, term, count(*)::BIGINT AS freq FROM t_toks GROUP BY doc_id, term),
t_dft AS (SELECT term, count(*)::BIGINT AS df FROM t_tf GROUP BY term),
t_dl AS (
  SELECT d.doc_id, count(t.term)::BIGINT AS dl
  FROM documents d LEFT JOIN t_toks t USING (doc_id) GROUP BY d.doc_id
),
t_qdl AS (
  SELECT doc_id, dl, (SELECT max(v) FROM norm_tbl WHERE v <= t_dl.dl) AS qdl
  FROM t_dl
),
t_stats AS (
  SELECT (count(*) FILTER (WHERE dl > 0))::BIGINT AS n_docs,
         coalesce(sum(dl), 0)::BIGINT AS sum_ttf,
         coalesce(sum(dl), 0)::DOUBLE
           / (count(*) FILTER (WHERE dl > 0)) AS avgdl
  FROM t_dl
),
b_tf AS (SELECT doc_id, term, freq FROM tf),
b_dft AS (SELECT term, df FROM dft),
b_qdl AS (SELECT doc_id, dl, qdl FROM qdl),
b_stats AS (
  SELECT (count(*) FILTER (WHERE dl > 0))::BIGINT AS n_docs,
         coalesce(sum(dl), 0)::BIGINT AS sum_ttf,
         coalesce(sum(dl), 0)::DOUBLE
           / (count(*) FILTER (WHERE dl > 0)) AS avgdl
  FROM dl
)"""


def _mf_term_scores_cte(name: str, term: str, pfx: str) -> str:
    """Per-doc BM25 of ``term`` in field ``pfx`` (t/b) against that field's
    CollectionStatistics — the engine's stats_for() per-field scoring."""
    idf = _idf("d.df")
    return f"""
{name} AS (
  SELECT tf.doc_id,
         ({idf} - {idf} / {_tf_part("tf.freq", "qdl.qdl")}) AS score
  FROM {pfx}_tf tf
  JOIN {pfx}_qdl qdl USING (doc_id),
       {pfx}_stats s,
       (SELECT df FROM {pfx}_dft WHERE term = '{term}') d
  WHERE tf.term = '{term}'
)"""


def _sql_field_term(term: str, k: int = 10) -> str:
    return (
        f"WITH {_BASE_CTES}, {_MF_CTES}, {_mf_term_scores_cte('s_a', term, 't')} "
        + _topk_wrap("SELECT doc_id, score FROM s_a", k)
    )


def _sql_multifield_bool(title_term: str, body_term: str, k: int = 10) -> str:
    # clause order: title leaf first, then body leaf — ((0+t)+b)
    ctes = ", ".join(
        [
            _mf_term_scores_cte("s_t", title_term, "t"),
            _mf_term_scores_cte("s_b", body_term, "b"),
        ]
    )
    inner = f"""SELECT doc_id, {_sum_chain(["s_t", "s_b"])} AS score
  FROM s_t FULL JOIN s_b USING (doc_id)"""
    return f"WITH {_BASE_CTES}, {_MF_CTES}, {ctes} " + _topk_wrap(inner, k)


def _sql_field_exists(k: int = 30) -> str:
    # constant score = boost (1.0) for every doc with >=1 title token;
    # tie-break docid ASC
    return f"""WITH {_BASE_CTES}, {_MF_CTES}
SELECT doc_id, round(1.0, 4) AS score FROM t_dl WHERE dl > 0
ORDER BY doc_id ASC LIMIT {k}"""


def _sql_bm25f(tokens: list[str], w_body: float, w_title: float, k: int = 10) -> str:
    """BM25F oracle (CombinedFieldQuery.java:273-315 + MultiNormsLeafSimScorer
    semantics, mirrored float-op-for-float-op in the engine's field order
    body→title):
      freq   = (0 + w_b·freq_b) + w_t·freq_t              (double)
      norm   = requantize(floor((0 + w_b·qdl_b) + w_t·qdl_t + 0.5))
      df     = max(df_b, df_t);  docCount = max(dc_b, dc_t)
      sumTTF = trunc(trunc(0 + w_b·sttf_b) + w_t·sttf_t)  (long += double)
      avgdl  = sumTTF / docCount
    tokens combine as SHOULD clauses in order."""
    wb, wt = float(w_body), float(w_title)
    ctes = [
        f"""cnorm AS (
  SELECT b.doc_id,
         (SELECT max(v) FROM norm_tbl
          WHERE v <= floor(((0.0 + {wb} * b.qdl::DOUBLE) + {wt} * t.qdl::DOUBLE) + 0.5)
         ) AS qdl
  FROM b_qdl b JOIN t_qdl t USING (doc_id)
)"""
    ]
    aliases = []
    for i, tok in enumerate(tokens):
        stats = f"""cs_{i} AS (
  SELECT greatest(
           coalesce((SELECT df FROM b_dft WHERE term = '{tok}'), 0),
           coalesce((SELECT df FROM t_dft WHERE term = '{tok}'), 0)
         )::BIGINT AS df,
         greatest((SELECT n_docs FROM b_stats), (SELECT n_docs FROM t_stats))::BIGINT AS n_docs,
         trunc(trunc(0.0 + {wb} * (SELECT sum_ttf FROM b_stats)::DOUBLE)
               + {wt} * (SELECT sum_ttf FROM t_stats)::DOUBLE)::BIGINT AS sttf
)"""
        freq = f"""cf_{i} AS (
  SELECT u.doc_id,
         ((0.0 + {wb} * coalesce(bf.freq, 0)::DOUBLE)
          + {wt} * coalesce(tf2.freq, 0)::DOUBLE) AS freq
  FROM (SELECT doc_id FROM b_tf WHERE term = '{tok}'
        UNION SELECT doc_id FROM t_tf WHERE term = '{tok}') u
  LEFT JOIN (SELECT doc_id, freq FROM b_tf WHERE term = '{tok}') bf USING (doc_id)
  LEFT JOIN (SELECT doc_id, freq FROM t_tf WHERE term = '{tok}') tf2 USING (doc_id)
)"""
        idf = _idf("s.df")
        score = f"""cfs_{i} AS (
  SELECT cf.doc_id,
         ({idf} - {idf} / (1.0 + cf.freq * (1.0 / ({K1} * ((1.0 - {B}) +
            ({B} * cn.qdl::DOUBLE) / (s.sttf::DOUBLE / s.n_docs::DOUBLE)))))) AS score
  FROM cf_{i} cf JOIN cnorm cn USING (doc_id), cs_{i} s
)"""
        ctes += [stats, freq, score]
        aliases.append(f"cfs_{i}")
    joins = aliases[0]
    for a in aliases[1:]:
        joins += f" FULL JOIN {a} USING (doc_id)"
    inner = f"SELECT doc_id, {_sum_chain(aliases)} AS score FROM {joins}"
    return (
        f"WITH {_BASE_CTES}, {_MF_CTES}, {', '.join(ctes)} " + _topk_wrap(inner, k)
    )


def _q_feature_rank(spark, sf_dir):
    """BM25(body term) + saturation feature (FeatureField ranking recipe):
    score = bm25 + w·(1 - pivot/(v + pivot)) with v = min(token_count, 255)."""
    from lucene_spark.search.query import BooleanQuery, FeatureQuery

    s = _mf_searcher(spark, sf_dir)
    q = BooleanQuery(
        should=(
            s.parse("stream"),
            FeatureQuery("quality", "saturation", weight=1.5, pivot=45.0),
        )
    )
    h = s.search(q, k=10, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _sql_feature_rank(term: str, weight: float, pivot: float, k: int = 10) -> str:
    ctes = _mf_term_scores_cte("s_t", term, "b")
    feat = f"""s_f AS (
  SELECT doc_id,
         ({weight} * (1.0 - {pivot} / (least(dl, 255)::DOUBLE + {pivot}))) AS score
  FROM dl WHERE dl > 0
)"""
    inner = f"""SELECT doc_id, {_sum_chain(["s_t", "s_f"])} AS score
  FROM s_t FULL JOIN s_f USING (doc_id)"""
    return f"WITH {_BASE_CTES}, {_MF_CTES}, {ctes}, {feat} " + _topk_wrap(inner, k)


def _q_bm25f(spark, sf_dir):
    s = _mf_searcher(spark, sf_dir)
    q = s.combined_field_query("stream merge", {"body": 1.0, "title": 2.0})
    h = s.search(q, k=10, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _q_common_terms(spark, sf_dir, k: int = 10):
    """CommonTermsQuery: dup/line classify low-freq (df ≤ ceil(.76·N)),
    scan classifies high-freq (df > ceil(.76·N)) at both gate SFs — low
    group is required, high group boosts (CommonTermsQuery.java:176-205)."""
    s = _searcher(spark, sf_dir)
    q = s.common_terms_query("dup line scan", max_term_frequency=0.76)
    h = s.search(q, k=k, with_url=True)
    return h.select(
        F.expr("cast(substring(url, 7) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _sql_common_terms(k: int = 10) -> str:
    ctes = ", ".join(
        [
            _term_scores_cte("s_d", "dup"),
            _term_scores_cte("s_l", "line"),
            _term_scores_cte("s_h", "scan"),
        ]
    )
    # engine order: outer ((0 + lowGroup) + highGroup); lowGroup is its own
    # ((0 + dup) + line) accumulation; the single-clause high group is
    # (0 + scan)
    inner = """SELECT doc_id,
       ((0.0 + low.score) + coalesce((0.0 + s_h.score), 0.0)) AS score
  FROM (
    SELECT doc_id,
           ((0.0 + coalesce(s_d.score, 0.0)) + coalesce(s_l.score, 0.0)) AS score
    FROM s_d FULL JOIN s_l USING (doc_id)
  ) low LEFT JOIN s_h USING (doc_id)"""
    return f"WITH {_BASE_CTES}, {ctes} " + _topk_wrap(inner, k)


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

# The driver's CORRECTNESS artifact records only the FIRST 50 entries of
# gate_queries(), so that window must stratify across operator families
# rather than sample the narrowest slice (round-4 verdict item #2). The
# names below span ~35 distinct families — bm25 core/phrase/fuzzy,
# intervals, spans, all four extra parsers, two similarity families,
# synonyms + graph, doc values + DV updates, feature/expression scoring,
# index-sort early termination, rescoring, both join kinds, facets,
# grouping, geo, geo3d (incl. the WGS84 arm), five analyzer families +
# per-doc language routing, phonetic, suggesters, spellcheck,
# highlighting, MLT, classification, monitor, three dedup families, both
# ANN stores, text stats, streaming sessionization, multimodal, and
# Bloom segment pruning. Keys are unchanged; only dict order moves.
_HARD_SIGNAL_FIRST_50 = [
    "bm25_single_hot", "bm25_phrase", "bm25_fuzzy", "interval_ordered",
    "span_near_ordered", "surround_infix_w", "xml_core_parser",
    "simple_query_parser", "complex_phrase_fuzzy", "lm_dirichlet_topk",
    "dfr_gb2_topk", "bm25_synonym", "synonym_graph_query", "blended_term",
    "docvalues_stats", "dv_update_sort", "feature_rank", "expression_score",
    "sorted_index_topk", "sort_rescore", "join_to_source", "block_join_avg",
    "facet_lang", "group_topk_lang", "geo_box", "geo3d_circle_wgs84",
    "geo3d_path", "japanese_index", "polish_stempel_index", "smartcn_index",
    "thai_index", "multilingual_routed_index", "word_delimiter_index",
    "double_metaphone_index", "suggest_fuzzy", "spellcheck_direct",
    "fvh_snippets", "mlt_topk", "classify_naive_bayes", "monitor_percolate",
    "dedup_exact", "minhash_lsh_pairs", "simhash", "knn_filtered_quantized",
    "ivf_cell_stats", "lang_id", "bpe_true_tokens", "events_sessionize",
    "multimodal_metadata", "bm25_bloom_pruned",
]


def _stratify_first_50(q: dict) -> dict:
    head = {k: q[k] for k in _HARD_SIGNAL_FIRST_50}
    head.update((k, v) for k, v in q.items() if k not in head)
    return head


def gate_queries() -> dict:
    return _stratify_first_50({
        "bm25_single_hot": _mk_topk("merge"),
        "bm25_single_mid": _mk_topk("customer"),
        "bm25_and2": _mk_topk("stream AND window"),
        "bm25_and3": _mk_topk("query AND scan AND merge"),
        "bm25_or2": _mk_topk("stream OR window"),
        "bm25_or5": _mk_topk("batch OR filter OR window OR stream OR agg"),
        "bm25_and_not": _mk_topk("scan AND NOT window"),
        "bm25_req_opt": _mk_topk("+scan window"),
        "bm25_phrase": _mk_topk('"data stream"'),
        "bm25_prefix": _mk_topk("s*"),
        "bm25_wildcard": _mk_topk("*or*"),
        "bm25_regexp": _mk_topk("/[bh]a(tch|sh)/"),
        "bm25_fuzzy": _mk_topk("sort~2"),
        "bm25_range": _mk_topk("[scan TO stream]"),
        "bm25_boosted_or": _mk_topk("stream^2.0 OR window"),
        "bm25_sloppy_phrase": _mk_topk('"data stream"~2'),
        "interval_ordered": _mk_topk_ast(_ast_interval_ordered),
        "interval_unordered": _mk_topk_ast(_ast_interval_unordered),
        "interval_or_slot": _mk_topk_ast(_ast_interval_or),
        "interval_phrase_slot": _mk_topk_ast(_ast_interval_phrase),
        "interval_containing": _mk_topk_ast(_ast_interval_containing),
        "interval_at_least": _mk_topk_ast(_ast_interval_at_least, k=30),
        "interval_defined_gaps": _mk_topk_ast(_ast_interval_defined_gaps),
        "interval_no_overlaps": _mk_topk_ast(_ast_interval_no_overlaps),
        "interval_not_containing": _mk_topk_ast(_ast_interval_not_containing),
        "interval_before": _mk_topk_ast(lambda: _ast_interval_relation("before")),
        "interval_after": _mk_topk_ast(lambda: _ast_interval_relation("after")),
        "interval_overlapping": _mk_topk_ast(lambda: _ast_interval_relation("overlapping")),
        "interval_non_overlapping": _mk_topk_ast(lambda: _ast_interval_relation("non_overlapping")),
        "interval_prefix_leaf": _mk_topk_ast(_ast_interval_prefix_leaf),
        "interval_wildcard_leaf": _mk_topk_ast(_ast_interval_wildcard_leaf),
        "interval_repeat_ordered": _mk_topk_ast(_ast_interval_repeat_ordered),
        "interval_repeat_unordered": _mk_topk_ast(_ast_interval_repeat_unordered),
        "span_near_ordered": _mk_topk_ast(_ast_span_near_ordered),
        "span_near_unordered": _mk_topk_ast(_ast_span_near_unordered),
        "span_or_near": _mk_topk_ast(_ast_span_or_near),
        "span_not_window": _mk_topk_ast(_ast_span_not),
        "span_first": _mk_topk_ast(_ast_span_first),
        "span_containing": _mk_topk_ast(_ast_span_containing),
        "span_within": _mk_topk_ast(_ast_span_within),
        "surround_infix_w": _mk_q_surround("data 3w stream"),
        "surround_prefix_n": _mk_q_surround("2N(data, stream)"),
        "surround_bool": _mk_q_surround("data AND (stream OR window)"),
        "xml_core_parser": _q_xml_parser,
        "bm25_multi_phrase": _mk_topk_ast(_ast_multi_phrase),
        "bm25_phrase_prefix": _mk_topk('"data s*"'),
        "covering_query": _q_covering,
        "lm_dirichlet_topk": _q_lm_dirichlet,
        "lm_jelinek_topk": _q_lm_jelinek,
        "boolean_sim_topk": _q_boolean_sim,
        "classic_topk": _make_q_similarity("classic"),
        "dfr_gb2_topk": _make_q_similarity("dfr_gb2"),
        "dfr_inl2_topk": _make_q_similarity("dfr_inl2"),
        "indri_and": _q_indri_and,
        "ib_ll_topk": _make_q_similarity("ib_ll"),
        "ib_spl_topk": _make_q_similarity("ib_spl"),
        "axiomatic_f1log_topk": _make_q_similarity("axiomatic_f1log"),
        "dfi_chi2_topk": _make_q_similarity("dfi_chi2"),
        "axiomatic_f2exp_topk": _make_q_similarity("axiomatic_f2exp"),
        "indri_dirichlet_topk": _make_q_similarity("indri_dirichlet"),
        "multi_sim_topk": _make_q_similarity("multi_bm25_classic"),
        "sweet_spot_topk": _make_q_similarity("sweet_spot"),
        "bm25_synonym": _mk_topk_ast(_ast_synonym),
        "bm25_dismax": _mk_topk_ast(_ast_dismax),
        "blended_term": _q_blended_term,
        "fuzzy_like_this": _q_fuzzy_like_this,
        "docvalues_stats": _q_docvalues_stats,
        "function_match": _q_function_match,
        "dv_numbers_query": _q_dv_numbers,
        "multi_range_query": _q_multi_range,
        "function_range": _q_function_range,
        "sort_rescore": _q_sort_rescore,
        "hybrid_rrf": _q_hybrid_rrf,
        "trending_terms": _q_trending_terms,
        "facet_long_values": _q_facet_long_values,
        "facet_sampled": _q_facet_sampled,
        "facet_dynamic_ranges": _q_facet_dynamic_ranges,
        "exact_substring_spans": _q_substring_spans,
        "exact_substring_clean": _q_substring_clean,
        "dsir_select": _q_dsir_select,
        "bm25_bloom_pruned": _q_bloom_pruned,
        "memory_index_percolate": _q_memory_percolate,
        "ccnet_perplexity": _q_ccnet_ppl,
        "percolate_presearcher": _q_percolate,
        "term_vectors": _q_term_vectors,
        "fvh_snippets": _q_fvh_snippets,
        "complex_phrase_fuzzy": _q_complex_phrase,
        "geo_distance_join": _q_geo_distance_join,
        "geo_distance_feature": _q_geo_distance_feature,
        "xy_box": _q_xy_box,
        "xy_distance": _q_xy_distance,
        "xy_polygon": _q_xy_polygon,
        "range_field_intersects": _q_range_field("intersects"),
        "range_field_within": _q_range_field("within"),
        "range_field_contains": _q_range_field("contains"),
        "range_field_crosses": _q_range_field("crosses"),
        "bm25_min_should": _mk_topk_ast(_ast_min_should),
        "bm25_constant_score": _mk_topk_ast(_ast_constant, k=30),
        "bm25_term_in_set": _mk_topk_ast(_ast_term_in_set, k=30),
        "bm25_search_after": _q_search_after,
        "spellcheck_direct": _q_spellcheck,
        "spellcheck_ngram": _q_spellcheck_ngram,
        "classic_highlight": _q_classic_highlight,
        "link_graph_hosts": _q_link_graph_hosts,
        "anchor_docs": _q_anchor_docs,
        "suggest_prefix": _q_suggest_prefix,
        "suggest_infix": _q_suggest_infix,
        "suggest_blended": _q_suggest_blended,
        "suggest_analyzing": _q_suggest_analyzing,
        "suggest_fuzzy": _q_suggest_fuzzy,
        "suggest_freetext": _q_suggest_freetext,
        "suggest_regex": _q_suggest_regex,
        "suggest_context": _q_suggest_context,
        "ngram_phrase_rewrite": _q_ngram_phrase,
        "span_field_masking": _q_span_field_masking,
        "word_breaks": _q_word_breaks,
        "synonym_expanded_index": _q_synonym_expanded,
        "synonym_graph_flattened_index": _q_synonym_graph,
        "solr_synonyms_index": _q_solr_synonyms,
        "ascii_folded_index": _q_folded,
        "classic_analyzer_index": _q_classic_analyzer,
        "path_hierarchy_index": _q_path_hierarchy,
        "cjk_bigram_index": _q_cjk_bigram,
        "german_light_index": _q_german_stem,
        "japanese_index": _q_japanese,
        "korean_index": _q_korean,
        "thai_index": _q_thai,
        "smartcn_index": _q_smartcn,
        "multilingual_routed_index": _q_multilingual_routed,
        "url_email_url_index": _mk_q_url_email(
            "https://spark.example.com/docs?q=1"
        ),
        "url_email_email_index": _mk_q_url_email("alice+dev@example.co.uk"),
        "filters_chain_index": _q_filters_chain,
        "fingerprint_index": _q_fingerprint_index,
        "compound_index": _q_compound_index,
        "polish_stempel_index": _mk_q_lex_filter(
            "plstem", _PL_LEX, "polish", "kot"
        ),
        "reverse_index": _mk_q_lex_filter(
            "rev", _REV_LEX, "gate_reverse", "gnimaerts"
        ),
        "mapping_charfilter_index": _mk_q_lex_filter(
            "map", _MAP_LEX, "gate_mapping", "fone"
        ),
        "spanish_light_index": _q_spanish_stem,
        "italian_light_index": _q_italian_stem,
        "portuguese_light_index": _q_portuguese_stem,
        "tamil_snowball_index": _q_tamil_stem,
        "hunspell_stem_index": _q_hunspell_stem,
        "swedish_light_index": _q_swedish_stem,
        "norwegian_light_index": _q_norwegian_stem,
        "finnish_light_index": _q_finnish_stem,
        "czech_light_index": _q_czech_stem,
        "bulgarian_light_index": _q_bulgarian_stem,
        "persian_norm_index": _q_persian_norm,
        "refined_soundex_index": _q_refined_soundex,
        "nysiis_index": _q_nysiis,
        "double_metaphone_index": _q_double_metaphone,
        "icu_folded_index": _q_icu_folding,
        "cologne_index": _q_cologne,
        "caverphone2_index": _q_caverphone2,
        "common_grams_index": _q_common_grams,
        "hindi_light_index": _q_hindi_stem,
        "indonesian_index": _q_indonesian_stem,
        "galician_minimal_index": _q_galician_stem,
        "latvian_light_index": _q_latvian_stem,
        "greek_index": _q_greek_stem,
        "irish_index": _q_irish_stem,
        "turkish_index": _q_turkish_stem,
        "bengali_index": _q_bengali_stem,
        "sorani_index": _q_sorani_stem,
        "telugu_index": _q_telugu_stem,
        "danish_index": _q_danish_stem,
        "dutch_index": _q_dutch_stem,
        "lithuanian_index": _q_lithuanian_stem,
        "romanian_index": _q_romanian_stem,
        "estonian_index": _q_estonian_stem,
        "basque_index": _q_basque_stem,
        "armenian_index": _q_armenian_stem,
        "brazilian_index": _q_brazilian_stem,
        "catalan_index": _q_catalan_stem,
        "nepali_index": _q_nepali_stem,
        "serbian_index": _q_serbian_stem,
        "stemmer_override_index": _q_stemmer_override,
        "simple_query_parser": _q_simple_parser,
        "add_indexes_search": _q_add_indexes,
        "russian_light_index": _q_russian_stem,
        "hungarian_light_index": _q_hungarian_stem,
        "word_delimiter_index": _q_word_delimiter,
        "arabic_light_index": _q_arabic_stem,
        "phonetic_soundex_index": _q_soundex_stem,
        "match_rating_index": _q_match_rating,
        "french_light_index": _q_french_stem,
        "mlt_topk": _q_mlt,
        "mlt_terms": _q_mlt_terms,
        # multi-field index (body + derived title)
        "bm25_field_term": _mk_mf_topk(lambda s: "title:stream"),
        "bm25_multifield_bool": _mk_mf_topk(lambda s: "title:data OR merge"),
        "bm25f_combined": _q_bm25f,
        "common_terms_rank": _q_common_terms,
        "field_exists": _mk_mf_topk(lambda s: "_exists_:title", k=30),
        "feature_rank": _q_feature_rank,
        "sort_by_field": _q_sort_by_field,
        "sorted_index_topk": _q_sorted_index_topk,
        "sort_page2": _q_sort_page2,
        "rescore_topk": _q_rescore,
        "function_score": _q_function_score,
        "join_to_source": _q_join_max,
        "block_join_avg": _q_block_join,
        "parent_children_join": _q_parent_children,
        "hits_count_and": _mk_count("stream AND window"),
        "hits_count_or": _mk_count("stream OR window OR batch"),
        "monitor_percolate": _q_monitor,
        "classify_naive_bayes": _q_classify_nb,
        "classify_knn": _q_classify_knn,
        "classify_knn_mlt": _q_classify_knn_mlt,
        "classify_perceptron": _q_classify_perceptron,
        "quality_eval": _q_quality_eval,
        "dv_update_sort": _q_dv_update_sort,
        "geo_box": _q_geo_box,
        "geo_polygon": _q_geo_polygon,
        "geo3d_circle": _q_geo3d_circle,
        "geo3d_circle_wgs84": _q_geo3d_circle_wgs84,
        "geo3d_xyz_box": _q_geo3d_xyz_box,
        "geo3d_exact_circle": _q_geo3d_exact_circle,
        "geo3d_polygon": _q_geo3d_polygon,
        "geo3d_path": _q_geo3d_path,
        "geo_nearest": _q_geo_nearest,
        "term_stats": _q_term_stats,
        "high_freq_terms": _q_high_freq_terms,
        "collection_stats": _q_collection_stats,
        "doc_lengths": _q_doc_lengths,
        "facet_lang": _q_facet_lang,
        "facet_assoc_sum": _q_facet_assoc,
        "facet_ranges": _q_facet_ranges,
        "facet_drill_sideways": _q_facet_drill_sideways,
        "facet_taxonomy": _q_facet_taxonomy,
        "group_topk_lang": _q_group_topk_lang,
        "diversified_topk": _q_diversified,
        "group_heads": _q_group_heads,
        "all_groups_count": _q_all_groups,
        "group_distinct_counts": _q_distinct_values,
        # training-data pipeline
        "dedup_exact": _q_dedup_exact,
        "dedup_chunks": _q_dedup_chunks,
        "url_dedup": _q_url_dedup,
        "source_stats": _q_source_stats,
        "budget_sample": _q_budget_sample,
        "mixture_sample": _q_mixture_sample,
        "pack_sequences": _q_pack_sequences,
        "dedup_ngram_jaccard": _q_jaccard,
        "contamination_ngrams": _q_contamination,
        "semantic_dedup": _q_semantic_dedup,
        "semantic_dedup_ivf": _q_semantic_dedup_ivf,
        "dedup_components": _q_dedup_components,
        "stratified_sample": _q_stratified_sample,
        "minhash_signatures": _q_minhash,
        "minhash_lsh_pairs": _q_lsh_pairs,
        "streaming_dedup": _q_streaming_dedup,
        "simhash": _q_simhash,
        "lang_id": _q_lang_id,
        "quality_scores": _q_quality,
        "length_percentiles": _q_length_percentiles,
        "lm_doc_quality": _q_lm_quality,
        "bpe_token_counts": _q_bpe_tokens,
        "bpe_true_tokens": _q_bpe_true,
        "repetition_stats": _q_repetition,
        "pii_scrub": _q_pii_scrub,
        "c4_line_clean": _q_c4_line_clean,
        "highlight_unified": _q_highlight,
        "doc_fingerprints": _q_fingerprint,
        "simsearch_cosine": _q_simsearch,
        "knn_filtered": _q_knn_filtered,
        "simsearch_signbucket": _q_simsearch_bucket,
        "simsearch_ivf": _q_simsearch_ivf,
        "simsearch_ivf_persisted": _q_simsearch_ivf_persisted,
        "ivf_cell_stats": _q_ivf_cell_stats,
        "simsearch_ivf_appended": _q_simsearch_ivf_appended,
        "simsearch_hnsw": _q_simsearch_hnsw,
        "simsearch_hnsw_persisted": _q_simsearch_hnsw_persisted,
        "simsearch_hnsw_quantized": _q_simsearch_hnsw_quantized,
        "simsearch_hnsw_appended": _q_simsearch_hnsw_appended,
        "knn_filtered_hnsw": _q_knn_filtered_hnsw,
        "knn_filtered_quantized": _q_knn_filtered_quantized,
        "simsearch_hnsw_seeded": _q_simsearch_hnsw_seeded,
        "simsearch_hnsw_patience": _q_simsearch_hnsw_patience,
        "vector_similarity_float": _q_vector_similarity,
        "vector_similarity_graph": _q_vector_similarity_graph,
        "vector_similarity_byte": _q_byte_vector_similarity,
        "knn_byte_topk": _q_byte_vector_topk,
        "knn_diversified_children": _q_knn_diversified_children,
        "payload_score": _q_payload_score,
        "span_payload_check": _q_span_payload_check,
        "payload_score_span": _q_payload_score_span,
        "sort_by_docvalue": _q_sort_by_docvalue,
        "function_score_dv": _q_function_score_dv,
        "distance_feature_rank": _q_distance_feature,
        "expression_score": _q_expression_score,
        "term_automaton": _q_term_automaton,
        "synonym_graph_query": _q_synonym_graph,
        "bm25_wildcard_phrase": _mk_topk('"s* window"'),
        "events_hourly": _q_events_hourly,
        "events_sliding": _q_events_sliding,
        "events_sessionize": _q_sessionize,
        "events_props_rollup": _q_props_rollup,
        "multimodal_metadata": _q_multimodal,
    })


def gate_oracle_sql() -> dict:
    return {
        "bm25_single_hot": _sql_single("merge"),
        "bm25_single_mid": _sql_single("customer"),
        "bm25_and2": _sql_and(["stream", "window"]),
        "bm25_and3": _sql_and(["query", "scan", "merge"]),
        "bm25_or2": _sql_or(["stream", "window"]),
        "bm25_or5": _sql_or(["batch", "filter", "window", "stream", "agg"]),
        "bm25_and_not": _sql_and_not("scan", "window"),
        "bm25_req_opt": _sql_req_opt("scan", "window"),
        "bm25_phrase": _sql_phrase("data", "stream"),
        "bm25_prefix": _sql_prefix("s"),
        "bm25_wildcard": _sql_wildcard("%or%"),
        "bm25_regexp": _sql_regexp("[bh]a(tch|sh)"),
        "bm25_fuzzy": _sql_fuzzy("sort", 2),
        "bm25_range": _sql_range("scan", "stream", incl=True),
        "bm25_boosted_or": _sql_boost_or([("stream", 2.0), ("window", 1.0)]),
        "bm25_sloppy_phrase": _sql_sloppy_phrase("data", "stream", 2),
        "interval_ordered": _sql_interval("data", "stream", True, 3),
        "interval_unordered": _sql_interval("stream", "window", False, 4),
        "interval_repeat_ordered": _sql_interval_repeat_ordered(),
        "interval_repeat_unordered": _sql_interval_repeat_unordered(),
        "span_near_ordered": _sql_span_near_ordered(),
        "span_near_unordered": _sql_span_near_unordered(),
        "span_or_near": _sql_span_or_near(),
        "span_not_window": _sql_span_not(),
        "span_first": _sql_span_first(),
        "span_containing": _sql_span_contain(within=False),
        "span_within": _sql_span_contain(within=True),
        "surround_infix_w": _sql_span_score(
            _sql_span_ordered_cte("data", "stream", 2),
            range(0, 3),
            ["data", "stream"],
        ),
        "surround_prefix_n": _sql_span_near_unordered(slop=1),
        "surround_bool": _sql_surround_bool_or_span(),
        "xml_core_parser": _sql_span_score(
            _sql_span_ordered_cte("data", "stream", 3),
            range(0, 4),
            ["data", "stream"],
        ),
        "interval_or_slot": _sql_interval("data", ("stream", "window"), True, 3),
        "interval_phrase_slot": _sql_interval_phrase(),
        "interval_containing": _sql_interval_containing(),
        "interval_at_least": _sql_interval_at_least(
            ["data", "stream", "window"], m=2, boost=1.5, k=30
        ),
        "interval_defined_gaps": _sql_interval_defined_gaps(),
        "interval_no_overlaps": _sql_interval_no_overlaps(),
        "interval_not_containing": _sql_interval_not_containing(),
        "interval_before": _sql_interval_relation("before"),
        "interval_after": _sql_interval_relation("after"),
        "interval_overlapping": _sql_interval_relation("overlapping"),
        "interval_non_overlapping": _sql_interval_relation("non_overlapping"),
        "interval_prefix_leaf": _sql_interval_multiterm(
            "term = 'data'", "term LIKE 's%'", 3
        ),
        "interval_wildcard_leaf": _sql_interval_multiterm(
            "regexp_matches(term, '^s.a.*$')", "term = 'key'", 4
        ),
        "bm25_multi_phrase": _sql_multi_phrase(),
        "bm25_phrase_prefix": _sql_phrase_prefix("data", "s"),
        "covering_query": _sql_covering(["stream", "window", "scan"]),
        "lm_dirichlet_topk": _sql_lm_dirichlet(["stream", "window"]),
        "lm_jelinek_topk": _sql_lm_jelinek(["stream", "window"]),
        "boolean_sim_topk": _sql_boolean_sim(["stream", "window"]),
        "classic_topk": _sql_similarity("classic", ["stream", "window"]),
        "dfr_gb2_topk": _sql_similarity("dfr_gb2", ["stream", "window"]),
        "dfr_inl2_topk": _sql_similarity("dfr_inl2", ["stream", "window"]),
        "indri_and": _sql_indri_and(["stream", "window"], [1.5, 1.0]),
        "ib_ll_topk": _sql_similarity("ib_ll", ["stream", "window"]),
        "ib_spl_topk": _sql_similarity("ib_spl", ["stream", "window"]),
        "axiomatic_f1log_topk": _sql_similarity(
            "axiomatic_f1log", ["stream", "window"]
        ),
        "dfi_chi2_topk": _sql_similarity("dfi_chi2", ["stream", "window"]),
        "axiomatic_f2exp_topk": _sql_similarity(
            "axiomatic_f2exp", ["stream", "window"]
        ),
        "indri_dirichlet_topk": _sql_similarity(
            "indri_dirichlet", ["stream", "window"]
        ),
        "multi_sim_topk": _sql_similarity(
            "multi_bm25_classic", ["stream", "window"]
        ),
        "sweet_spot_topk": _sql_similarity("sweet_spot", ["stream", "window"]),
        "bm25_synonym": _sql_synonym(["stream", "window"]),
        "bm25_dismax": _sql_dismax(["stream", "window", "batch"], tie=0.3),
        "blended_term": _sql_blended_term(["data", "stream"]),
        "fuzzy_like_this": _sql_fuzzy_like_this(["strean", "windoq"]),
        "docvalues_stats": _SQL_DOCVALUES_STATS,
        "function_match": _SQL_FUNCTION_MATCH,
        "dv_numbers_query": _SQL_DV_NUMBERS,
        "multi_range_query": _SQL_MULTI_RANGE,
        "function_range": _SQL_FUNCTION_RANGE,
        "sort_rescore": _sql_sort_rescore(),
        "hybrid_rrf": _sql_hybrid_rrf(),
        "trending_terms": _sql_trending_terms(),
        "facet_long_values": _SQL_FACET_LONG_VALUES,
        "facet_sampled": _SQL_FACET_SAMPLED,
        "facet_dynamic_ranges": _SQL_FACET_DYNAMIC_RANGES,
        "exact_substring_spans": _SQL_SUBSTR_SPANS,
        "exact_substring_clean": _SQL_SUBSTR_CLEAN,
        "dsir_select": _sql_dsir_select(),
        "bm25_bloom_pruned": _sql_bloom_pruned(),
        "memory_index_percolate": _SQL_MEMORY_PERCOLATE,
        "ccnet_perplexity": _sql_ccnet_ppl(),
        "percolate_presearcher": _SQL_MEMORY_PERCOLATE,
        "term_vectors": _SQL_TERM_VECTORS,
        "fvh_snippets": _SQL_FVH_SNIPPETS,
        "complex_phrase_fuzzy": _sql_complex_phrase(),
        "geo_distance_join": _sql_geo_distance_join(),
        "geo_distance_feature": _sql_geo_distance_feature(),
        "xy_box": _sql_xy_box(),
        "xy_distance": _sql_xy_distance(),
        "xy_polygon": _sql_xy_polygon(),
        "range_field_intersects": _sql_range_field("intersects"),
        "range_field_within": _sql_range_field("within"),
        "range_field_contains": _sql_range_field("contains"),
        "range_field_crosses": _sql_range_field("crosses"),
        "bm25_min_should": _sql_min_should(["batch", "filter", "window"], msm=2),
        "bm25_constant_score": _sql_constant_and(["stream", "window"], boost=2.5, k=30),
        "bm25_term_in_set": _sql_term_in_set(["scan", "merge", "nosuchterm"], k=30),
        "bm25_search_after": _sql_search_after(["stream", "window", "batch"]),
        "spellcheck_direct": _sql_spellcheck("scal"),
        "spellcheck_ngram": _sql_spellcheck_ngram("strean"),
        "classic_highlight": _SQL_CLASSIC_HIGHLIGHT,
        "link_graph_hosts": _SQL_LINK_GRAPH_HOSTS,
        "anchor_docs": _SQL_ANCHOR_DOCS,
        "suggest_prefix": _sql_suggest_prefix("s"),
        "suggest_infix": _sql_suggest_infix(),
        "suggest_blended": _sql_suggest_blended(),
        "suggest_analyzing": _sql_suggest_analyzing(),
        "suggest_fuzzy": _sql_suggest_fuzzy(),
        "suggest_freetext": _SQL_SUGGEST_FREETEXT,
        "suggest_regex": _sql_suggest_regex(),
        "suggest_context": _sql_suggest_context(),
        "ngram_phrase_rewrite": _sql_ngram_phrase(),
        "span_field_masking": _sql_span_field_masking(),
        "word_breaks": _sql_word_breaks(),
        "synonym_expanded_index": _sql_synonym_expanded(),
        "synonym_graph_flattened_index": _sql_synonym_graph(),
        "solr_synonyms_index": _sql_synonym_expanded(),
        "ascii_folded_index": _sql_or(["data", "stream"]),
        "classic_analyzer_index": _sql_lex_stem((0, 7)),
        "path_hierarchy_index": _sql_path_hierarchy(0),
        "cjk_bigram_index": _sql_cjk_bigram(),
        "german_light_index": _sql_german_stem(),
        "japanese_index": _sql_morph_index(1),
        "thai_index": _sql_morph_index(1),
        "smartcn_index": _sql_morph_index(1),
        "multilingual_routed_index": _sql_multilingual_routed(),
        "korean_index": _sql_morph_index(3),
        "url_email_url_index": _sql_lex_stem((0,)),
        "url_email_email_index": _sql_lex_stem((5,)),
        "filters_chain_index": _sql_lex_stem((0, 1)),
        "fingerprint_index": _sql_fingerprint_index(),
        "compound_index": _sql_lex_stem((1, 3)),
        "reverse_index": _sql_lex_stem((0,)),
        "polish_stempel_index": _sql_lex_stem((0, 1, 2)),
        "mapping_charfilter_index": _sql_lex_stem((0, 1)),
        "spanish_light_index": _sql_lex_stem(_ES_LIBR_IDXS),
        "italian_light_index": _sql_lex_stem(_IT_STOR_IDXS),
        "portuguese_light_index": _sql_lex_stem(_PT_LIVR_IDXS),
        "tamil_snowball_index": _sql_lex_stem(_TA_NAN_IDXS),
        "hunspell_stem_index": _sql_lex_stem(_HUNS_WALK_IDXS),
        "swedish_light_index": _sql_lex_stem(_SV_FLICK_IDXS),
        "norwegian_light_index": _sql_lex_stem(_NO_HUS_IDXS),
        "finnish_light_index": _sql_lex_stem(_FI_KIRJ_IDXS),
        "czech_light_index": _sql_lex_stem(_CS_STUDENT_IDXS),
        "bulgarian_light_index": _sql_lex_stem(_BG_GRAD_IDXS),
        "persian_norm_index": _sql_lex_stem(_FA_KETAB_IDXS),
        "refined_soundex_index": _sql_lex_stem(_RSX_B1905_IDXS),
        "nysiis_index": _sql_lex_stem(_NY_JAN_IDXS),
        "double_metaphone_index": _sql_lex_stem(_DM_MLR_IDXS),
        "icu_folded_index": _sql_lex_stem(_ICU_IDXS),
        "cologne_index": _sql_lex_stem(_KP_657_IDXS),
        "caverphone2_index": _sql_lex_stem(_CV_STFNSN_IDXS),
        "common_grams_index": _sql_lex_gram(0),
        "hindi_light_index": _sql_lex_stem(_HI_LADKA_IDXS),
        "indonesian_index": _sql_lex_stem(_ID_BUKU_IDXS),
        "galician_minimal_index": _sql_lex_stem(_GL_XAMON_IDXS),
        "latvian_light_index": _sql_lex_stem(_LV_TEV_IDXS),
        "greek_index": _sql_lex_stem(_EL_ANTHROP_IDXS),
        "irish_index": _sql_lex_stem(_GA_SIOPADOIR_IDXS),
        "turkish_index": _sql_lex_stem(_TR_AGAC_IDXS),
        "bengali_index": _sql_lex_stem(_BN_KOR_IDXS),
        "sorani_index": _sql_lex_stem(_CKB_PIYAW_IDXS),
        "telugu_index": _sql_lex_stem(_TE_PUSTAKA_IDXS),
        "danish_index": _sql_lex_stem(_DA_HUS_IDXS),
        "dutch_index": _sql_lex_stem(_NL_LICHAM_IDXS),
        "lithuanian_index": _sql_lex_stem(_LT_VAIK_IDXS),
        "romanian_index": _sql_lex_stem(_RO_ABSENT_IDXS),
        "estonian_index": _sql_lex_stem(_ET_TEADAOLE_IDXS),
        "basque_index": _sql_lex_stem(_EU_ZALDI_IDXS),
        "armenian_index": _sql_lex_stem(_HY_ARC_IDXS),
        "brazilian_index": _sql_lex_stem(_BR_BOAT_IDXS),
        "catalan_index": _sql_lex_stem(_CA_LLENGU_IDXS),
        "nepali_index": _sql_lex_stem(_NE_MITRA_IDXS),
        "serbian_index": _sql_lex_stem(_SR_DECIMALN_IDXS),
        "stemmer_override_index": _sql_lex_stem(_OVR_MOUS_IDXS),
        "simple_query_parser": _sql_simple_parser(),
        "add_indexes_search": _sql_or(["stream", "window"], k=100000),
        "russian_light_index": _sql_lex_stem(_RU_KNIG_IDXS),
        "hungarian_light_index": _sql_lex_stem(_HU_HAZ_IDXS),
        "word_delimiter_index": _sql_word_delimiter(),
        "arabic_light_index": _sql_lex_stem(_AR_KITAB_IDXS),
        "phonetic_soundex_index": _sql_lex_stem(_SX_R163_IDXS),
        "match_rating_index": _sql_lex_stem(_MRA_SN_IDXS),
        "french_light_index": _sql_french_stem(),
        "mlt_topk": _sql_mlt(0),
        "mlt_terms": _sql_mlt_terms(0),
        "bm25_field_term": _sql_field_term("stream"),
        "bm25_multifield_bool": _sql_multifield_bool("data", "merge"),
        "bm25f_combined": _sql_bm25f(["stream", "merge"], w_body=1.0, w_title=2.0),
        "common_terms_rank": _sql_common_terms(),
        "field_exists": _sql_field_exists(k=30),
        "feature_rank": _sql_feature_rank("stream", weight=1.5, pivot=45.0),
        "sort_by_field": _SQL_SORT_BY_FIELD,
        "sorted_index_topk": _SQL_SORTED_INDEX_TOPK,
        "sort_page2": _SQL_SORT_PAGE2,
        "rescore_topk": _sql_rescore(),
        "function_score": _sql_function_score(),
        "block_join_avg": _sql_block_join(),
        "parent_children_join": _sql_parent_children(),
        "join_to_source": _sql_join_max(["stream", "window"]),
        "hits_count_and": _sql_count_and(["stream", "window"]),
        "hits_count_or": _sql_count_or(["stream", "window", "batch"]),
        "monitor_percolate": _SQL_MONITOR,
        "classify_naive_bayes": _SQL_CLASSIFY_NB,
        "classify_knn": _sql_classify_knn(),
        "classify_knn_mlt": _sql_classify_knn_mlt(),
        "classify_perceptron": _SQL_CLASSIFY_PERCEPTRON,
        "quality_eval": _SQL_QUALITY_EVAL,
        "dv_update_sort": _sql_dv_update_sort(),
        "geo_box": _sql_geo_box(),
        "geo_polygon": _sql_geo_polygon(),
        "geo3d_circle": _sql_geo3d_circle(),
        "geo3d_circle_wgs84": _sql_geo3d_circle_wgs84(),
        "geo3d_xyz_box": _sql_geo3d_xyz_box(),
        "geo3d_exact_circle": _sql_geo3d_exact_circle(),
        "geo3d_polygon": _sql_geo3d_polygon(),
        "geo3d_path": _sql_geo3d_path(),
        "geo_nearest": _sql_geo_nearest(),
        "term_stats": _SQL_TERM_STATS,
        "high_freq_terms": _SQL_HIGH_FREQ_TERMS,
        "collection_stats": _SQL_COLLECTION_STATS,
        "doc_lengths": _SQL_DOC_LENGTHS,
        "facet_lang": _SQL_FACET_LANG,
        "facet_assoc_sum": _SQL_FACET_ASSOC,
        "facet_ranges": _sql_facet_ranges(),
        "facet_drill_sideways": _sql_drill_sideways(),
        "facet_taxonomy": _sql_facet_taxonomy(),
        "group_topk_lang": _SQL_GROUP_TOPK_LANG,
        "diversified_topk": _SQL_DIVERSIFIED,
        "group_heads": _SQL_GROUP_HEADS,
        "all_groups_count": _SQL_ALL_GROUPS,
        "group_distinct_counts": _SQL_DISTINCT_VALUES,
        "dedup_exact": _SQL_DEDUP_EXACT,
        "dedup_chunks": _SQL_DEDUP_CHUNKS,
        "url_dedup": _SQL_URL_DEDUP,
        "source_stats": _SQL_SOURCE_STATS,
        "budget_sample": _sql_budget_sample(),
        "mixture_sample": _sql_mixture_sample(),
        "pack_sequences": _sql_pack_sequences(),
        "dedup_ngram_jaccard": _SQL_JACCARD,
        "contamination_ngrams": _SQL_CONTAMINATION,
        "semantic_dedup": _sql_semantic_dedup(),
        "semantic_dedup_ivf": _sql_semantic_dedup_ivf(),
        "dedup_components": _SQL_COMPONENTS,
        "stratified_sample": _sql_stratified_sample(),
        "minhash_signatures": _sql_minhash(),
        "minhash_lsh_pairs": _sql_lsh_pairs(),
        "streaming_dedup": _sql_streaming_dedup(),
        "simhash": _SQL_SIMHASH,
        "lang_id": _SQL_LANG_ID,
        "quality_scores": _SQL_QUALITY,
        "length_percentiles": _SQL_LENGTH_PCT,
        "lm_doc_quality": _SQL_LM_QUALITY,
        "bpe_token_counts": _sql_bpe_tokens(),
        "bpe_true_tokens": _sql_bpe_true(),
        "repetition_stats": _SQL_REPETITION,
        "pii_scrub": _sql_pii_scrub(),
        "c4_line_clean": _sql_c4_line_clean(),
        "highlight_unified": _sql_highlight(),
        "doc_fingerprints": _SQL_FINGERPRINT,
        "simsearch_cosine": _SQL_SIMSEARCH,
        "knn_filtered": _SQL_KNN_FILTERED,
        "simsearch_signbucket": _SQL_SIMSEARCH_BUCKET,
        "simsearch_ivf": _sql_simsearch_ivf(),
        "simsearch_ivf_persisted": _sql_simsearch_ivf(),
        "ivf_cell_stats": _sql_ivf_cell_stats(),
        "simsearch_ivf_appended": _sql_simsearch_ivf(),
        "simsearch_hnsw": _SQL_SIMSEARCH,
        "simsearch_hnsw_persisted": _SQL_SIMSEARCH,
        "simsearch_hnsw_quantized": _SQL_SIMSEARCH,
        "simsearch_hnsw_appended": _SQL_SIMSEARCH,
        "knn_filtered_hnsw": _SQL_KNN_FILTERED,
        "knn_filtered_quantized": _SQL_KNN_FILTERED_QUANTIZED.format(cos=_COS_SQL),
        "simsearch_hnsw_seeded": _SQL_SIMSEARCH,
        "simsearch_hnsw_patience": _SQL_SIMSEARCH,
        "vector_similarity_float": _SQL_VECTOR_SIMILARITY,
        "vector_similarity_graph": _SQL_VECTOR_SIMILARITY,
        "vector_similarity_byte": _SQL_BYTE_VECTOR_SIMILARITY,
        "knn_byte_topk": _SQL_BYTE_VECTOR_TOPK,
        "knn_diversified_children": _SQL_KNN_DIVERSIFIED,
        "payload_score": _sql_payload_score(),
        "span_payload_check": _sql_span_payload_check(),
        "payload_score_span": _sql_payload_score_span(),
        "sort_by_docvalue": _sql_sort_by_docvalue(),
        "function_score_dv": _sql_function_score_dv(),
        "distance_feature_rank": _sql_distance_feature(),
        "expression_score": _sql_expression_score(),
        "term_automaton": _sql_term_automaton(),
        "synonym_graph_query": _sql_synonym_graph(),
        "bm25_wildcard_phrase": _sql_wildcard_phrase("s%", "window"),
        "events_hourly": _SQL_EVENTS_HOURLY,
        "events_sliding": _SQL_EVENTS_SLIDING,
        "events_sessionize": _SQL_SESSIONIZE,
        "events_props_rollup": _SQL_PROPS_ROLLUP,
        "multimodal_metadata": _SQL_MULTIMODAL,
    }


def entry_query(spark: SparkSession) -> DataFrame:
    """Flagship: disjunctive BM25 top-10 over sf0.001 documents."""
    return _mk_topk("stream OR window OR batch")(spark, "/root/testdata/sf0.001")
