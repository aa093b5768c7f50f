"""The resident backend's result frame (searchengine_spark/heldframe.py).

A warm resident ``search`` / ``search_batch`` returns a ``HeldFrame``:
its rows stay in the driver, so reading them (``collect``, ``toPandas``,
``toArrow``, ``count``, ``schema``, ``columns``) makes no py4j call and
starts no Spark job, and gives what the same frame built by Spark gives,
field for field. Any other use builds the JVM frame once.
"""

from __future__ import annotations

import struct

import pandas as pd
import py4j.clientserver
import py4j.java_gateway
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame

from searchengine_spark.engine import SearchEngine
from searchengine_spark.heldframe import HeldFrame
from searchengine_spark.operators import wand
from searchengine_spark.pipeline import run_build
from searchengine_spark.sources.synth import vocab


@pytest.fixture(scope="module")
def engine(spark, small, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("heldidx"))
    run_build(spark, small, out, num_doc_partitions=3, layouts=("doc",))
    eng = SearchEngine.load(spark, out)
    eng.search(vocab()[0], k=1)  # builds the resident copy
    assert eng.last_search_mode == "resident"
    return eng


@pytest.fixture(scope="module")
def spark_engine(spark, engine):
    """The same index on the Spark plan (budget forced to zero while the
    backend choice is made and cached)."""
    eng = SearchEngine.load(spark, engine.index_dir)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(wand, "_budget_postings", lambda: 0)
        eng.search(vocab()[0], k=1)
    assert eng.last_search_mode == "wand"
    return eng


def _queries():
    w = vocab()
    return [
        f"{w[0]} {w[3]}",
        f"{w[1]} {w[1]} {w[7]} zzznope",
        "zzznope qqqneverseen",  # every term out of vocabulary: no rows
        w[4990],  # a rare term: k is past its candidates
    ]


def _bits(rows):
    """Rows as (field, Python type, value) with floats as their bits."""
    return [[(k, type(v), struct.pack("<d", v) if isinstance(v, float) else v)
             for k, v in r.asDict().items()] for r in rows]


def _same_as_spark(held: HeldFrame) -> None:
    """``held``'s Python answers equal the JVM's for the same rows."""
    built = DataFrame(held._jdf, held.sparkSession)
    rows, want = held.collect(), built.collect()
    assert all(type(r) is Row for r in rows)
    assert rows == want and _bits(rows) == _bits(want)
    assert [r.asDict() for r in rows] == [r.asDict() for r in want]
    got_pd, want_pd = held.toPandas(), built.toPandas()
    assert got_pd.dtypes.to_dict() == want_pd.dtypes.to_dict()
    pd.testing.assert_frame_equal(got_pd, want_pd, check_exact=True)
    assert held.toArrow().equals(built.toArrow(), check_metadata=True)
    assert held.count() == built.count() == len(rows)
    assert held.schema == built.schema
    assert held.columns == built.columns and held.dtypes == built.dtypes
    # every attribute pyspark's own constructor sets is set on the held
    # frame too (_jdf is its property)
    fresh = DataFrame(held._jdf, held.sparkSession)
    assert set(vars(fresh)) - {"_jdf"} <= set(vars(held))


def test_warm_reads_make_no_jvm_call(spark, engine, monkeypatch):
    """A warm resident search / search_batch and every read of their
    results run with py4j and ``createDataFrame`` made to fail, and
    start no Spark job."""
    qs = list(enumerate(_queries()))
    want = [[(r.doc_id, r.score) for r in engine.search(q, k=10).collect()]
            for _, q in qs]
    sc = spark.sparkContext
    sc.setJobGroup("held-frame-reads", "warm resident reads")
    calls = []

    def no_py4j(self, command, *args, **kwargs):
        if not command.startswith("m\nd\n"):  # a finalizer's release
            calls.append(command.split("\n", 1)[0])
            raise AssertionError("py4j call on the warm resident path")

    def no_create(*args, **kwargs):
        raise AssertionError("createDataFrame on the warm resident path")

    try:
        with monkeypatch.context() as mp:
            for conn in (py4j.clientserver.ClientServerConnection,
                         py4j.java_gateway.GatewayConnection):
                mp.setattr(conn, "send_command", no_py4j)
            mp.setattr(spark, "createDataFrame", no_create)
            for (_, q), rows in zip(qs, want):
                out = engine.search(q, k=10)
                assert [(r.doc_id, r.score) for r in out.collect()] == rows
                assert len(out.toPandas()) == out.count() == len(rows)
                assert out.toArrow().num_rows == len(rows)
                assert out.columns == ["doc_id", "score"]
                assert engine.last_search_mode == "resident"
            batch = engine.search_batch(qs, k=10)
            got = sorted(batch.collect())
            assert [[(r.doc_id, r.score) for r in got if r.query_id == i]
                    for i, _ in qs] == want
            assert batch.toPandas().shape == (sum(map(len, want)), 4)
            assert engine.last_search_mode == "resident"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert calls == []
    assert sc.statusTracker().getJobIdsForGroup("held-frame-reads") == []


def test_held_frame_equals_spark_built_frame(engine, spark_engine):
    """Single results (an all-OOV query, k past the candidates), a batch
    and an empty batch: rows, ``asDict()``, Python types, float bits,
    pandas dtypes, Arrow table, count and schema equal those Spark gives
    for the same frame; the rows equal the Spark plan's."""
    for q in _queries():
        for k in (10, 10_000):
            held = engine.search(q, k=k)
            assert isinstance(held, HeldFrame)
            _same_as_spark(held)
            assert held.collect() == spark_engine.search(q, k=k).collect()
    assert engine.search(_queries()[2]).count() == 0
    assert engine.search(_queries()[3], k=10_000).count() < 10_000
    qs = list(enumerate(_queries()))
    held = engine.search_batch(qs, k=10)
    _same_as_spark(held)
    assert sorted(held.collect()) == sorted(
        spark_engine.search_batch(qs, k=10).collect())
    _same_as_spark(engine.search_batch([(0, "zzznope")], k=10))


def test_spark_plans_over_the_held_frame(spark, engine, monkeypatch):
    """``select``, ``orderBy``, a join with the doc store (and its
    ``F.broadcast``), the facet path and ``search_with_docs`` give the
    rows they give over the frame Spark builds from the same result,
    and the held frame builds its JVM frame once."""
    q = _queries()[0]
    held = engine.search(q, k=10)
    today = spark.createDataFrame(held.toPandas(), held.schema)
    real, made = spark.createDataFrame, []

    def counting(*args, **kwargs):
        made.append(args[0])
        return real(*args, **kwargs)

    monkeypatch.setattr(spark, "createDataFrame", counting)
    docs = engine.doc_map.select("doc_id", "conv_id")
    for plan in (
        lambda df: df.select("doc_id"),
        lambda df: df.orderBy(F.asc("doc_id")),
        lambda df: df.join(docs, "doc_id").orderBy("doc_id"),
        lambda df: docs.join(F.broadcast(df), "doc_id").orderBy("doc_id"),
        lambda df: df.filter(F.col("score") > 0).limit(3),
    ):
        assert plan(held).collect() == plan(today).collect()
    assert len(made) == 1
    assert held.doc_id is not None and len(made) == 1
    monkeypatch.undo()
    with_docs = engine.search_with_docs(q, k=10).collect()
    assert [r.doc_id for r in with_docs] == [r.doc_id for r in held.collect()]
    facets = engine.search_facets(q, "role", k=10).collect()
    assert sum(r.n for r in facets) == held.count()
