"""A search task's read (``index.reader.read_slice``) against a pyarrow
reference of the same parquet rows: block rows that overlap the task's
docid range (straddling ones included) and the pulsed singletons inside
it, taken from the plan's term-dictionary read (``IndexReader.term_plan``),
plus the range's deletes; and a column an older index lacks reads as
nulls."""

import glob
import shutil

import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest

from lucene_spark.constants import ENGLISH_STOP_WORDS as STOP
from lucene_spark.fixtures import generate_webtext
from lucene_spark.index.builder import build_index
from lucene_spark.index.deletes import add_deletes_by_url
from lucene_spark.index.reader import IndexReader, read_slice
from lucene_spark.index.schemas import KIND_BLOCK, KIND_DOC, KIND_TERM, POSTINGS_COLS
from lucene_spark.search.searcher import Searcher

_payfn = lambda pos, doc: (pos * 31 + 7) % 97  # noqa: E731
SPAN = 37  # docs per slice: most blocks straddle a slice edge


def _partition(index_dir: str, kind: int, seg: int) -> list[dict]:
    path = f"{index_dir}/data/kind={kind}/segment_id={seg}"
    return ds.dataset(path, format="parquet").to_table().to_pylist()


def _want(blocks, term_dict, lo, hi, terms, cols) -> list[tuple]:
    """The rows ``read_slice`` should return, from a segment's whole
    ``blocks`` and ``term_dict`` partitions filtered in Python."""
    out = []
    for r in blocks:
        if r["term"] in terms and r["last_docid"] >= lo and r["first_docid"] < hi:
            out.append(tuple(
                tuple(r.get(c) or ()) if c.startswith("impact_") else r.get(c) for c in cols
            ))
    for r in term_dict:
        d = r["singleton_docid"]
        if r["term"] in terms and d is not None and lo <= d < hi:
            pseudo = {
                "term": r["term"], "block_no": 0, "n_docs": 1, "base_docid": d - 1,
                "first_docid": d, "last_docid": d, "encoding": 4,
                "positions_enc": r.get("singleton_positions"),
                "payloads_enc": r.get("singleton_payloads"),
                "impact_freqs": (r["singleton_freq"],), "impact_norms": (r["singleton_norm"],),
            }
            out.append(tuple(pseudo.get(c) for c in cols))
    return sorted(out, key=lambda t: (t[0], t[1]))


def _got(got: dict, cols) -> list[tuple]:
    off = got["impact_off"]
    rows = []
    for i in range(len(got["term"])):
        row = []
        for c in cols:
            v = got[c]
            if c.startswith("impact_"):
                row.append(tuple(v[off[i] : off[i + 1]].tolist()))
            else:
                row.append(v[i].item() if isinstance(v[i], np.generic) else v[i])
        rows.append(tuple(row))
    return sorted(rows, key=lambda t: (t[0], t[1]))


def _check_index(index_dir: str, deletes_dir, *, positions: bool, payloads: bool) -> dict:
    """read_slice of every slice of every segment equals the reference,
    for a sample of the index's terms that holds block and pulsed ones;
    returns what the slices covered."""
    r = IndexReader(None, index_dir)
    cols = [
        c for c in POSTINGS_COLS[1:]
        if (c != "positions_enc" or positions) and (c != "payloads_enc" or payloads)
    ]
    seen = {"straddling": 0, "singles_in": 0, "singles_out": 0, "deleted": 0}
    for seg, (lo0, hi0) in sorted(r.segment_bounds.items()):
        td = _partition(index_dir, KIND_TERM, seg)
        blocks = _partition(index_dir, KIND_BLOCK, seg)
        pulsed = sorted(t["term"] for t in td if t["singleton_docid"] is not None)
        blocked = sorted(t["term"] for t in td if t["singleton_docid"] is None)
        terms = pulsed[::7] + blocked[::11] + ["zzzz-absent"]
        stats, singles = r.term_plan(terms, positions, payloads)
        # its per-term sums equal term_stats' pyarrow group_by
        assert stats == r.term_stats(terms)
        dels = set()
        if deletes_dir is not None:
            dels = {
                x["docid"] for x in ds.dataset(deletes_dir).to_table().to_pylist()
                if x["segment_id"] == seg
            }
        for lo in range(lo0, hi0 + 1, SPAN):
            hi = min(lo + SPAN, hi0 + 1)
            got, deleted, docs = read_slice(
                index_dir, deletes_dir, seg, lo, hi, terms, ["segment_id", *cols],
                singles=singles,
            )
            assert list(got) == [*cols, "impact_off"]
            want = _want(blocks, td, lo, hi, set(terms), cols)
            assert _got(got, cols) == want, (seg, lo, hi)
            assert docs is None
            in_range = sorted(d for d in dels if lo <= d < hi)
            assert (deleted is None and not in_range) or list(deleted) == in_range
            seen["deleted"] += len(in_range)
            seen["straddling"] += sum(
                1 for w in want if w[4] < lo or w[5] >= hi  # first / last docid
            )
            n_in = sum(1 for w in want if w[6] == 4)
            seen["singles_in"] += n_in
            seen["singles_out"] += len(singles.get(seg, {}).get("docid", [])) - n_in
    return seen


@pytest.fixture(scope="module")
def corpus():
    return generate_webtext(300)


def _df(spark, rows):
    return spark.createDataFrame([(r["url"], r["text"]) for r in rows], "url string, text string")


def test_read_slice_equals_parquet_rows(spark, corpus, tmp_path_factory):
    """Positions, payloads, deletes and a compacted segment: every slice's
    read equals the reference rows, straddling blocks kept and pulsed
    singletons outside the slice dropped, and its deletes are the
    range's."""
    from lucene_spark.index.compaction import compact_deletes

    d = str(tmp_path_factory.mktemp("idx_read_slice"))
    build_index(spark, _df(spark, corpus), d, num_segments=2, analyzer="simple",
                payload_fn=_payfn)
    first, second = (
        sorted(x["url"] for x in _partition(d, KIND_DOC, seg))
        for seg in sorted(IndexReader(spark, d).segment_bounds)
    )

    def delete(urls):
        add_deletes_by_url(spark, d, spark.createDataFrame([(u,) for u in urls], "url string"))

    delete(first[::3])  # compacted away below
    assert compact_deletes(spark, d, max_deletes_pct=20.0)["compacted_segments"] == 1
    delete(first[1::7] + second[::7])  # live deletes in both segments
    r = IndexReader(spark, d)
    seen = _check_index(d, r.deletes_dir, positions=True, payloads=True)
    assert r.deletes_dir is not None and seen["deleted"] > 0
    assert seen["straddling"] > 0 and seen["singles_in"] > 0 and seen["singles_out"] > 0
    # without positions and payloads, neither column is read
    seen = _check_index(d, None, positions=False, payloads=False)
    assert seen["straddling"] > 0


def test_read_slice_equals_parquet_rows_multifield(spark, corpus, tmp_path_factory):
    """The same on a multi-field index, whose keys carry their field."""
    d = str(tmp_path_factory.mktemp("idx_read_slice_mf"))
    df = spark.createDataFrame(
        [(r["url"], r["text"], " ".join(r["text"].split()[:6])) for r in corpus],
        "url string, text string, title string",
    )
    build_index(spark, df, d, num_segments=2, stopwords=STOP,
                fields={"body": "text", "title": "title"})
    seen = _check_index(d, None, positions=True, payloads=False)
    assert seen["straddling"] > 0 and seen["singles_in"] > 0 and seen["singles_out"] > 0


def test_older_index_reads_missing_columns_as_nulls(spark, corpus, tmp_path_factory):
    """An index written before payloads existed lacks ``payloads_enc`` and
    ``singleton_payloads``: a task that reads payloads gets nulls, the
    plan's singletons too, and searches answer as on the same index with
    the columns present."""
    d = str(tmp_path_factory.mktemp("idx_new"))
    build_index(spark, _df(spark, corpus[:150]), d, num_segments=2, stopwords=STOP)
    old = str(tmp_path_factory.mktemp("idx_old")) + "/idx"
    shutil.copytree(d, old)
    drop = {KIND_BLOCK: "payloads_enc", KIND_TERM: "singleton_payloads"}
    for kind, col in drop.items():
        for f in glob.glob(f"{old}/data/kind={kind}/segment_id=*/*.parquet"):
            t = pq.read_table(f)
            pq.write_table(t.drop_columns([col]), f)
            assert col not in pq.read_schema(f).names
    r = IndexReader(spark, old)
    seg = min(r.segment_bounds)
    lo, hi = r.segment_bounds[seg]
    terms = sorted(t["term"] for t in _partition(old, KIND_TERM, seg))[:200]
    _stats, singles = r.term_plan(terms, positions=True, payloads=True)
    assert singles[seg]["payloads_enc"].tolist() == [None] * len(singles[seg]["docid"])
    got, _deleted, _docs = read_slice(old, None, seg, lo, hi + 1, terms, POSTINGS_COLS,
                                      singles=singles)
    assert len(got["term"]) > 0
    assert got["payloads_enc"].tolist() == [None] * len(got["term"])
    _stats, singles_new = IndexReader(spark, d).term_plan(terms, positions=True, payloads=True)
    new, _deleted, _docs = read_slice(d, None, seg, lo, hi + 1, terms, POSTINGS_COLS,
                                      singles=singles_new)
    for c in new:
        if c != "payloads_enc":
            assert np.array_equal(got[c], new[c]), c
    s_old = Searcher(spark, old, stopwords=STOP)
    s_new = Searcher(spark, d, stopwords=STOP)
    for q in ("w0000 OR w0001", '"w0000 w0001"', "w0100 AND w0002"):
        assert s_old.search(q, k=10).collect() == s_new.search(q, k=10).collect(), q
