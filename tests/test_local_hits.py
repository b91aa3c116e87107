"""Results held in the driver (``searcher.LocalHits``): a call's merged
rows answer ``collect``, ``toPandas``, ``count``, ``take``/``head``/
``first``, ``schema`` and ``columns`` exactly as Spark answers them for a
DataFrame made from the same Arrow table, and every other operation runs
on that DataFrame, built on first use."""

import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from lucene_spark.constants import ENGLISH_STOP_WORDS
from lucene_spark.fixtures import generate_webtext
from lucene_spark.index import build_index
from lucene_spark.search import Searcher
from lucene_spark.search.searcher import LocalHits

STOP = ENGLISH_STOP_WORDS
CALLS = {
    "search": lambda s: s.search("w0002 OR w0003", k=7),
    "search_url": lambda s: s.search("w0002 OR w0003", k=7, with_url=True),
    "search_many": lambda s: s.search_many({"a": "w0006", "b": "w0007 w0008", "c": "*"}, k=4),
    "search_all": lambda s: s.search_all("w0004 AND w0005"),
    "empty": lambda s: s.search("zzzznotaterm", k=5),
    "empty_many": lambda s: s.search_many({"a": "zzzznotaterm"}, k=5),
}


@pytest.fixture(scope="module")
def searcher(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("local_hits"))
    rows = [(r["url"], r["text"]) for r in generate_webtext(150)]
    build_index(
        spark, spark.createDataFrame(rows, "url string, text string"), d,
        num_segments=2, stopwords=STOP,
    )
    return Searcher(spark, d, stopwords=STOP)


def _twin(res):
    """``spark.createDataFrame`` of the Arrow table of ``res``' rows."""
    table = pa.Table.from_pandas(
        res.toPandas(), schema=to_arrow_schema(res.schema), preserve_index=False
    )
    return res.sparkSession.createDataFrame(table, res.schema)


def _typed(rows):
    return [(r.asDict(), [type(v) for v in r]) for r in rows]


@pytest.mark.parametrize("call", sorted(CALLS))
def test_local_answers_equal_spark(spark, searcher, call):
    res = CALLS[call](searcher)
    assert isinstance(res, LocalHits)
    twin = _twin(res)
    assert res.schema == twin.schema
    assert res.columns == twin.columns and res.dtypes == twin.dtypes
    assert _typed(res.collect()) == _typed(twin.collect())
    assert (len(res.collect()) > 0) == (not call.startswith("empty"))
    got, want = res.toPandas(), twin.toPandas()
    pd.testing.assert_frame_equal(got, want)
    got["docid"] = -1  # a copy: the held rows do not change
    pd.testing.assert_frame_equal(res.toPandas(), want)
    assert res.count() == twin.count()
    assert res.isEmpty() == twin.isEmpty()
    assert _typed(res.take(2)) == _typed(twin.take(2))
    assert res.head(3) == twin.head(3)
    assert res.first() == twin.first() and res.head() == twin.head()
    # Spark operations run on the rows' relation, built once
    assert res._jdf is res._jdf
    ids = spark.range(0, 120).withColumnRenamed("id", "docid")
    for op in (
        lambda df: df.select("docid", "score"),
        lambda df: df.filter(F.col("score") > 0.5),
        lambda df: df.withColumnRenamed("score", "s"),
        lambda df: df.join(ids, "docid"),
        lambda df: df.orderBy("docid", F.desc("score")),
    ):
        assert sorted(op(res).collect()) == sorted(op(twin).collect())
    assert res.orderBy("docid", F.desc("score")).collect() == (
        twin.orderBy("docid", F.desc("score")).collect()
    )


def test_local_answers_build_no_relation(searcher, monkeypatch):
    """With no way to build a Spark DataFrame, ``collect``, ``toPandas``
    and ``count`` still answer; a Spark operation is what builds one."""
    want = {call: CALLS[call](searcher).collect() for call in CALLS}

    def refuse(*args, **kwargs):
        raise RuntimeError("createDataFrame called")

    monkeypatch.setattr(searcher.spark, "createDataFrame", refuse)
    for call, rows in want.items():
        res = CALLS[call](searcher)
        assert res.collect() == rows
        assert res.toPandas().shape == (len(rows), len(res.columns))
        assert res.count() == len(rows)
    with pytest.raises(RuntimeError, match="createDataFrame called"):
        CALLS["search"](searcher).select("docid").collect()


def test_search_many_query_ids_are_strings(searcher):
    """``query_id`` is a string column: a non-string id is refused before
    any work, as it could not be a value of that column."""
    with pytest.raises(TypeError):
        searcher.search_many({1: "w0001", "b": "w0002"}, k=2)
