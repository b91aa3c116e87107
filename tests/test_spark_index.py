"""End-to-end: Spark index build + distributed search vs the pure-python
golden oracle (CheckHits analog, FIXTURES.md §5): rank-identical docids AND
bit-identical float32 BM25 scores for every reference query."""

import numpy as np
import pytest

from lucene_spark.analysis.tokenizer import analyze
from lucene_spark.constants import ENGLISH_STOP_WORDS
from lucene_spark.fixtures import generate_webtext, reference_queries
from lucene_spark.index import build_index
from lucene_spark.oracle.pyindex import PyIndex
from lucene_spark.search import Searcher
from lucene_spark.search.query import parse_query

N_DOCS = 400
N_SEGMENTS = 5
STOP = ENGLISH_STOP_WORDS


@pytest.fixture(scope="module")
def corpus():
    return generate_webtext(N_DOCS)


@pytest.fixture(scope="module")
def index_dir(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("index"))
    df = spark.createDataFrame(
        [(r["url"], r["text"]) for r in corpus], "url string, text string"
    )
    metrics = build_index(
        spark, df, d, num_segments=N_SEGMENTS, analyzer="standard", stopwords=STOP
    )
    assert metrics["n_docs"] == N_DOCS
    assert metrics["num_segments"] == N_SEGMENTS
    return d


@pytest.fixture(scope="module")
def oracle(spark, corpus, index_dir):
    """PyIndex keyed by the engine's global docids (docid assignment is an
    engine-internal detail, like Lucene's)."""
    from lucene_spark.search.searcher import Searcher as S

    searcher = S(spark, index_dir, stopwords=STOP)
    dm = searcher._docmap_global().select("url", "docid").collect()
    url_to_docid = {r["url"]: r["docid"] for r in dm}
    idx = PyIndex(stopwords=STOP)
    for r in corpus:
        idx.add(url_to_docid[r["url"]], r["text"])
    return idx


@pytest.fixture(scope="module")
def searcher(spark, index_dir):
    return Searcher(spark, index_dir, stopwords=STOP)


def _an(text, stopwords=STOP):
    return analyze(text, stopwords=stopwords)


def test_docmap_complete(spark, index_dir, corpus):
    from lucene_spark.index.reader import IndexReader

    dm = IndexReader(spark, index_dir).docmap
    assert dm.count() == N_DOCS
    urls = {r["url"] for r in dm.select("url").collect()}
    assert urls == {r["url"] for r in corpus}


@pytest.mark.parametrize("qid,qs", reference_queries())
def test_reference_query_rank_identity(searcher, oracle, qid, qs):
    q = parse_query(qs, lambda t: _an(t))
    expected = oracle.search_query(q, k=10)
    got = searcher.search(qs, k=10).collect()
    got_pairs = [(r["docid"], r["score"]) for r in got]
    assert [d for d, _ in got_pairs] == [d for d, _ in expected], (
        f"{qid}: docids diverge\n got={got_pairs}\n exp={expected}"
    )
    for (gd, gs), (ed, es) in zip(got_pairs, expected):
        assert np.float32(gs) == np.float32(es), (qid, gd, gs, es)


def test_pruned_equals_exhaustive(searcher, oracle):
    """CheckHits analog: ``search()`` returns exactly the brute-force
    oracle's top-k (docids and float32 bits), and exactly what the batched
    ``search_many()`` path returns. The fixture's slices are one block-max
    window wide, so both run the exhaustive evaluator; the windowed
    block-max top-k is run on the same tasks for every term and term-dismax
    query and checked against the oracle too."""
    from lucene_spark.index.reader import read_slice
    from lucene_spark.index.schemas import POSTINGS_COLS
    from lucene_spark.search.query import (
        BooleanQuery,
        DisjunctionMaxQuery,
        PhraseQuery,
        TermQuery,
        collect_terms,
    )
    from lucene_spark.search.searcher import plan_slices
    from lucene_spark.search.segment import SegmentContext, _SegmentSearcher, _topk

    queries = [
        # terms
        "w0000",
        "w0350",
        TermQuery("w0001", boost=2.0),
        # disjunctions
        "w0000 OR w0001",
        "w0001 OR w0002 OR w0100 OR w0203 OR w9999",
        "the OR w0350",
        "w8000 OR w9100",
        # conjunctions
        "w0000 AND w0001",
        "w0000 AND w0001 AND w0002",
        "w0000 AND w9999",
        # MUST+SHOULD (req-opt), NOT
        "+w0000 w0001",
        "+w0000 +w0001 w0002 w0100",
        "w0000 AND NOT w0001",
        # minShouldMatch > 1 (no string syntax: AST-built)
        BooleanQuery(
            should=(TermQuery("w0000"), TermQuery("w0001"), TermQuery("w0002"),
                    TermQuery("w0100")),
            min_should_match=2,
        ),
        BooleanQuery(
            must=(TermQuery("w0000"),),
            should=(TermQuery("w0001"), TermQuery("w0002"), TermQuery("w0100")),
            min_should_match=2,
        ),
        BooleanQuery(
            should=(TermQuery("w0000"), TermQuery("w0001"), TermQuery("w0002")),
            must_not=(TermQuery("w9999"),),
            min_should_match=2,
        ),
        # dismax over terms (windowed dismax UB)
        DisjunctionMaxQuery(
            disjuncts=(TermQuery("w0000"), TermQuery("w0001")), tie_breaker=0.3
        ),
        DisjunctionMaxQuery(
            disjuncts=(TermQuery("the"), TermQuery("w0350"), TermQuery("w9999")),
            tie_breaker=0.0,
        ),
        DisjunctionMaxQuery(
            disjuncts=(TermQuery("w0001"), TermQuery("w0002"), TermQuery("w0100")),
            tie_breaker=1.0,
        ),
        DisjunctionMaxQuery(
            disjuncts=(TermQuery("w0000", boost=2.0), TermQuery("w8000")),
            tie_breaker=0.5,
        ),
        # nested clauses of the boolean accumulators
        "(w0000 OR w0001) AND w0100",
        "+(w0000 w0001) +w0100 -w0002",
        DisjunctionMaxQuery(
            disjuncts=(
                BooleanQuery(should=(TermQuery("w0000"), TermQuery("w0001"))),
                BooleanQuery(must=(TermQuery("w0002"), TermQuery("w0100"))),
            ),
            tie_breaker=0.2,
        ),
        BooleanQuery(
            must=(TermQuery("w0001"),),
            should=(PhraseQuery(("w0000", "w0001")), TermQuery("w0100")),
        ),
    ]
    batch = searcher.search_many(
        {f"q{i}": q for i, q in enumerate(queries)}, k=10
    ).collect()
    many: dict[str, list] = {}
    for r in sorted(batch, key=lambda r: (r["query_id"], -r["score"], r["docid"])):
        many.setdefault(r["query_id"], []).append(
            (r["docid"], np.float32(r["score"]))
        )
    for i, q in enumerate(queries):
        ast = parse_query(q, lambda t: _an(t)) if isinstance(q, str) else q
        want = [(d, np.float32(s)) for d, s in oracle.search_query(ast, k=10)]
        got = [(r["docid"], np.float32(r["score"])) for r in searcher.search(q, k=10).collect()]
        assert got == want, q
        assert many.get(f"q{i}", []) == want, q
        ast = searcher._prepared(q)
        if isinstance(ast, TermQuery):
            term_qs, tie = [ast], 0.0
        elif isinstance(ast, DisjunctionMaxQuery) and all(
            isinstance(c, TermQuery) for c in ast.disjuncts
        ):
            term_qs, tie = list(ast.disjuncts), ast.tie_breaker
        else:
            continue
        terms = sorted(collect_terms(ast))
        tstats, singles = searcher.reader.term_plan(terms)
        scorers = searcher._make_scorers([ast], {t: tstats.get(t, (0, 0)) for t in terms})
        meta = searcher._seg_meta()
        ds, ss = [], []
        for seg, lo, hi in plan_slices(meta, searcher._slice_span()):
            cols, deleted, _docs = read_slice(
                searcher.reader.index_dir, None, seg, lo, hi, terms, POSTINGS_COLS,
                singles=singles,
            )
            ctx = SegmentContext.from_columns(cols, scorers, lo, hi)
            ctx.deleted = deleted
            d, s = _SegmentSearcher(ctx, 10).blockmax_topk(term_qs, tie, 10)
            ds.append(d + meta[seg][0])
            ss.append(s)
        d, s = _topk(np.concatenate(ds), np.concatenate(ss), 10)
        assert list(zip(d.tolist(), s.astype(np.float32))) == want, q


def test_windowed_topk_contract_on_skew(spark, tmp_path_factory, monkeypatch):
    """Under impact skew (a few very-high-freq docs, the real-web-text
    shape), the windowed block-max top-k that ``search_segment`` runs for a
    term and for a term dismax must (a) return exactly the exhaustive
    evaluator's top-k and (b) gather and score fewer than half of its
    blocks: the distinct (term, block) pairs read through ``decode_blocks``
    / ``decode_all``. A conjunction runs the exhaustive evaluator itself."""
    import glob

    import pyarrow.parquet as pq

    from lucene_spark.search.query import (
        BooleanQuery,
        DisjunctionMaxQuery,
        TermQuery,
    )
    from lucene_spark.search.scorers import build_scorers
    from lucene_spark.search.segment import (
        SegmentContext,
        _SegmentSearcher,
        _TermPostings,
        _topk,
        search_segment,
    )

    n = 40960  # 10 block-max windows of 4096 docs
    rows = []
    for i in range(n):
        if i in (7, 100, 300, 500, 1000, 2000):  # skew inside window 0
            text = " ".join(["wa"] * 60 + ["wb"] * 60)
        else:
            text = "wa wb filler%d" % i
        rows.append((f"doc://{i:06d}", text))
    d = str(tmp_path_factory.mktemp("idx_skew"))
    build_index(
        spark,
        spark.createDataFrame(rows, "url string, text string"),
        d,
        num_segments=1,
        stopwords=None,
    )
    pdf = pq.read_table(glob.glob(f"{d}/data/kind=2/segment_id=*")[0]).to_pandas()
    sub = pdf[pdf["term"].isin(["wa", "wb"])].copy()
    sub["segment_id"] = 0
    term = TermQuery("wa")
    dismax = DisjunctionMaxQuery(
        disjuncts=(TermQuery("wa"), TermQuery("wb")), tie_breaker=0.1
    )
    conj = BooleanQuery(must=(TermQuery("wa"), TermQuery("wb")))
    scorers = build_scorers(
        [term, dismax, conj], {"wa": (n, n), "wb": (n, n)}, n, 3 * n, "lucene"
    )

    gathered: set = set()

    def decode_blocks(tp, idxs):
        gathered.update((tp.lo, int(i)) for i in idxs)
        return blocks(tp, idxs)

    def decode_all(tp):
        gathered.update((tp.lo, i) for i in range(tp.n_blocks))
        return every(tp)

    blocks, every = _TermPostings.decode_blocks, _TermPostings.decode_all
    monkeypatch.setattr(_TermPostings, "decode_blocks", decode_blocks)
    monkeypatch.setattr(_TermPostings, "decode_all", decode_all)

    def run(q, fn):
        ctx = SegmentContext.from_pdf(sub, scorers, 0, n)
        gathered.clear()
        dd, ss = fn(ctx, q)
        return (list(dd), [np.float32(x) for x in ss]), len(gathered)

    def exhaustive(ctx, q):
        return _topk(*_SegmentSearcher(ctx, 5).evaluate(q), 5)

    def kept(ctx, q):
        return search_segment(ctx, q, 5)

    for q in (term, dismax, conj):
        got, dec_kept = run(q, kept)
        want, dec_exh = run(q, exhaustive)
        assert len(got[0]) == 5
        assert got == want, q
        if q is not conj:
            assert dec_kept < dec_exh * 0.5, (q, dec_kept, dec_exh)


def test_prefix_query(searcher, oracle):
    got = searcher.search("w000*", k=10).collect()
    # oracle: expand prefix manually over the oracle's term space
    terms = sorted(t for t in oracle.postings if t.startswith("w000"))
    from lucene_spark.search.query import BooleanQuery, TermQuery

    q = BooleanQuery(should=tuple(TermQuery(t) for t in terms))
    expected = oracle.search_query(q, k=10)
    assert [r["docid"] for r in got] == [d for d, _ in expected]


def test_with_url(searcher, corpus):
    got = searcher.search("w0000", k=5, with_url=True).collect()
    assert len(got) == 5
    by_url = {r["url"]: r for r in got}
    assert all(u.startswith("https://site") for u in by_url)


def test_html_build_matches_text_build(spark, tmp_path_factory):
    """html_input=True: the DemoHTMLParser-rule extraction chain inside the
    build produces the same index as building from the pre-extracted text
    (the per-row byte-identity invariant, end to end)."""
    from lucene_spark.fixtures import generate_webtext

    rows = generate_webtext(120)
    d_html = str(tmp_path_factory.mktemp("idx_html"))
    d_text = str(tmp_path_factory.mktemp("idx_text"))
    df_html = spark.createDataFrame(
        [(r["url"], bytearray(r["html"])) for r in rows], "url string, html binary"
    )
    df_text = spark.createDataFrame(
        [(r["url"], r["text"]) for r in rows], "url string, text string"
    )
    build_index(spark, df_html, d_html, num_segments=3, stopwords=STOP, html_input=True)
    build_index(spark, df_text, d_text, num_segments=3, stopwords=STOP)
    s_h = Searcher(spark, d_html, stopwords=STOP)
    s_t = Searcher(spark, d_text, stopwords=STOP)
    for qs in ["w0000", "w0000 OR w0001", "w0000 AND w0001", '"w0000 w0001"']:
        a = [(r["docid"], np.float32(r["score"])) for r in s_h.search(qs, k=10).collect()]
        b = [(r["docid"], np.float32(r["score"])) for r in s_t.search(qs, k=10).collect()]
        assert a == b, qs
    from lucene_spark.index.reader import IndexReader

    assert (
        IndexReader(spark, d_html).global_stats
        == IndexReader(spark, d_text).global_stats
    )


def test_resume_skips_done_segments(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("index_resume"))
    df = spark.createDataFrame(
        [(r["url"], r["text"]) for r in corpus[:100]], "url string, text string"
    )
    m1 = build_index(spark, df, d, num_segments=3, stopwords=STOP)
    assert m1["resumed_segments"] == 0
    m2 = build_index(spark, df, d, num_segments=3, stopwords=STOP, resume=True)
    assert m2["resumed_segments"] == 3  # nothing left to build
    assert m2["n_docs"] == 100


# --- invariants + merge -----------------------------------------------------

def test_checkindex_invariants(spark, index_dir):
    from lucene_spark.index.invariants import check_index

    viols = check_index(spark, index_dir)
    assert viols == [], viols


@pytest.fixture(scope="module")
def merged_dir(spark, index_dir, tmp_path_factory):
    from lucene_spark.index.merge import merge_segments

    out = str(tmp_path_factory.mktemp("merged"))
    m = merge_segments(spark, index_dir, out, target_segments=1)
    assert m["merged_segments"] == N_SEGMENTS
    assert m["n_docs"] == N_DOCS
    return out


def test_merged_invariants(spark, merged_dir):
    from lucene_spark.index.invariants import check_index

    viols = check_index(spark, merged_dir)
    assert viols == [], viols


def test_merged_search_identical(spark, index_dir, merged_dir):
    """forceMerge(1) must not change any result (docids are global in both)."""
    s_multi = Searcher(spark, index_dir, stopwords=STOP)
    s_merged = Searcher(spark, merged_dir, stopwords=STOP)
    for qid, qs in reference_queries():
        a = [(r["docid"], np.float32(r["score"])) for r in s_multi.search(qs, k=10).collect()]
        b = [(r["docid"], np.float32(r["score"])) for r in s_merged.search(qs, k=10).collect()]
        assert a == b, (qid, qs, a, b)


def test_merged_global_stats_preserved(spark, index_dir, merged_dir):
    from lucene_spark.index.reader import IndexReader

    assert (
        IndexReader(spark, index_dir).global_stats
        == IndexReader(spark, merged_dir).global_stats
    )


def test_search_many_matches_single(spark, index_dir, searcher):
    """Batched execution must return exactly the per-query results."""
    qs = dict(reference_queries()[:12], all="*")
    batched = searcher.search_many(qs, k=10).collect()
    by_q = {}
    for r in batched:
        by_q.setdefault(r["query_id"], []).append((r["docid"], np.float32(r["score"])))
    for qid, q in qs.items():
        single = [
            (r["docid"], np.float32(r["score"]))
            for r in searcher.search(q, k=10).collect()
        ]
        assert by_q.get(qid, []) == single, qid


def test_merge_to_k_segments(spark, index_dir, tmp_path_factory):
    """target_segments=2: contiguous groups, global docids, identical results."""
    from lucene_spark.index.invariants import check_index
    from lucene_spark.index.merge import merge_segments

    out = str(tmp_path_factory.mktemp("merged_k2"))
    m = merge_segments(spark, index_dir, out, target_segments=2)
    assert m["target_segments"] == 2
    viols = check_index(spark, out)
    assert viols == [], viols
    s_multi = Searcher(spark, index_dir, stopwords=STOP)
    s_k2 = Searcher(spark, out, stopwords=STOP)
    for qid, qs in reference_queries():
        a = [(r["docid"], np.float32(r["score"])) for r in s_multi.search(qs, k=10).collect()]
        b = [(r["docid"], np.float32(r["score"])) for r in s_k2.search(qs, k=10).collect()]
        assert a == b, (qid, qs)
