"""connected_components (hash-min label propagation): path graphs that
need multiple propagation rounds, multi-component graphs, and the
cluster-contract invariants (every edge internal, component = min member)."""

import pytest

from lucene_spark.pipeline.dedup import connected_components


def _cc(spark, pairs):
    df = spark.createDataFrame(pairs, "a long, b long")
    return {
        r["node"]: r["component"]
        for r in connected_components(df).collect()
    }


def test_path_graph_needs_propagation(spark):
    # 0-1-2-3-4-5: diameter 5, min label must travel the whole path
    got = _cc(spark, [(i, i + 1) for i in range(5)])
    assert got == {i: 0 for i in range(6)}


def test_two_components_and_reversed_edges(spark):
    got = _cc(spark, [(3, 1), (2, 1), (10, 20), (30, 20)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 20: 10, 30: 10}


def test_invariants_on_random_graph(spark):
    import numpy as np

    rng = np.random.default_rng(5)
    pairs = [
        (int(a), int(b))
        for a, b in rng.integers(0, 40, size=(60, 2))
        if a != b
    ]
    got = _cc(spark, pairs)
    # every edge is internal to one component
    for a, b in pairs:
        assert got[a] == got[b], (a, b, got)
    # each component's label is its minimum member
    comps: dict[int, list[int]] = {}
    for n, c in got.items():
        comps.setdefault(c, []).append(n)
    for c, members in comps.items():
        assert c == min(members)


def test_read_webtext_adapter(spark, tmp_path):
    """Input adapter: path and catalog-table forms, schema validation,
    binary html -> string normalization (BASELINE input_hint shape)."""
    import datetime

    from lucene_spark.io import read_webtext

    rows = [
        ("http://a", datetime.datetime(2026, 1, 1), b"<p>hi</p>", "hi", "en"),
    ]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    p = str(tmp_path / "webtext.parquet")
    df.write.parquet(p)
    got = read_webtext(spark, p)
    assert dict(got.dtypes)["html"] == "string"
    assert got.collect()[0]["html"] == "<p>hi</p>"
    # catalog-table form
    df.createOrReplaceTempView("webtext_tmp")
    got2 = read_webtext(spark, "webtext_tmp")
    assert got2.count() == 1
    import pytest as _pytest

    with _pytest.raises(ValueError, match="required columns"):
        read_webtext(spark, p, require=("url", "nope"))


@pytest.fixture(scope="module")
def escape_index(spark, tmp_path_factory):
    """A tiny two-segment multi-field index whose term keys
    (``field\\x1ftoken``) hold a quote, a backslash (an index-time
    synonym) and non-ASCII letters."""
    from lucene_spark.index import build_index

    d = str(tmp_path_factory.mktemp("escape_idx"))
    rows = [
        ("u1", "o'neil went to the café", "naïve o'neil"),
        ("u2", "a slash and a café", "slash"),
        ("u3", "o'neil wrote slash fiction", "café naïve"),
        ("u4", "plain words only", "plain"),
    ]
    df = spark.createDataFrame(rows, "url string, text string, title string")
    build_index(
        spark, df, d, num_segments=2,
        fields={"body": "text", "title": "title"},
        synonyms={"slash": "back\\slash"},
    )
    return d


def _escape_keys():
    from lucene_spark.index.builder import field_term

    return [
        field_term("body", "o'neil"), field_term("title", "o'neil"),
        field_term("body", "back\\slash"), field_term("title", "back\\slash"),
        field_term("body", "café"), field_term("title", "naïve"),
    ]


def test_term_stats_escapes(spark, escape_index):
    """The driver's pyarrow term-stats read sums exactly what a Spark
    groupBy over ``term_dict`` sums, for keys with \\x1f, quotes,
    backslashes and non-ASCII letters; an absent term is missing."""
    from pyspark.sql import functions as F

    from lucene_spark.index.builder import field_term
    from lucene_spark.index.reader import IndexReader

    keys = _escape_keys()
    r = IndexReader(spark, escape_index)
    want = {
        row["term"]: (row["sum(df)"], row["sum(ttf)"])
        for row in r.term_dict.filter(F.col("term").isin(keys))
        .groupBy("term").sum("df", "ttf").collect()
    }
    assert sorted(want) == sorted(keys)
    absent = field_term("body", "o'brien")
    got = r.term_stats(keys + [absent])
    assert got == want
    assert absent not in got


def test_driver_reads_respect_commit_point(spark, escape_index, tmp_path):
    """Partitions and stats rows of a segment no manifest lists (an orphan
    left by a crash before the manifest swap) change no driver read."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from lucene_spark.index.reader import IndexReader
    from lucene_spark.index.smallio import FIELD_STATS_SCHEMA

    d = str(tmp_path / "idx")
    shutil.copytree(escape_index, d)
    keys = _escape_keys()

    def reads():
        r = IndexReader(spark, d)
        return r.term_stats(keys), r.global_stats, r.segment_bounds, r.doc_counts

    before = reads()
    seg = IndexReader(spark, d).manifest_rows[0]["segment_id"]
    shutil.copytree(f"{d}/data/kind=1/segment_id={seg}", f"{d}/data/kind=1/segment_id=999")
    orphan = {"segment_id": [999], "doc_count": [7], "sum_ttf": [70],
              "max_docid": [6], "min_docid": [0]}
    pq.write_table(
        pa.table(orphan, schema=FIELD_STATS_SCHEMA), f"{d}/field_stats/orphan.parquet"
    )
    assert reads() == before
