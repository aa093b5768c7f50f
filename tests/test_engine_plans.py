"""Query-engine API over a persisted index + physical-plan hygiene checks
(the .explain discipline: filters reach the parquet scan, small sides
broadcast, the segment build is a single shuffle)."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from searchengine_spark.engine import SearchEngine
from searchengine_spark.operators import wand
from searchengine_spark.pipeline import run_build
from searchengine_spark.sources.synth import vocab


@pytest.fixture(scope="module")
def engine(spark, small, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("engidx"))
    run_build(spark, small, out, num_doc_partitions=3, layouts=("doc",))
    return SearchEngine.load(spark, out)


@pytest.fixture(scope="module")
def spark_engine(spark, engine):
    """The same index served by the Spark plan: the driver memory budget
    is forced to zero while the engine makes its (cached) backend
    choice."""
    eng = SearchEngine.load(spark, engine.index_dir)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(wand, "_budget_postings", lambda: 0)
        assert _resident(eng) is None
    return eng


def _resident(eng):
    """The engine's driver-resident copy (built on first use), or None
    when the Spark plan serves it."""
    return wand.resident_for(eng.doc_segments, eng.term_stats,
                             eng.scalars.n_docs, eng.scalars.avgdl)


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_modes_agree(engine):
    w = vocab()
    for q in (w[0], f"{w[1]} {w[1]}", f"{w[0]} {w[4999]}", "zzznope"):
        a = [(r.doc_id, round(r.score, 9)) for r in engine.search(q, k=5).collect()]
        b = [(r.doc_id, round(r.score, 9))
             for r in engine.search(q, k=5, mode="exhaustive").collect()]
        assert [x[0] for x in a] == [x[0] for x in b]
        for (_, sa), (_, sb) in zip(a, b):
            assert sa == pytest.approx(sb, rel=1e-9)


def test_search_batch(engine):
    w = vocab()
    out = engine.search_batch([(0, w[0]), (1, f"{w[2]} {w[7]}")], k=3).collect()
    assert {r["query_id"] for r in out} == {0, 1}
    for qid in (0, 1):
        ranks = [r["rank"] for r in out if r["query_id"] == qid]
        assert ranks == list(range(1, len(ranks) + 1))


def test_fetch_and_join(engine):
    w = vocab()
    res = engine.search_with_docs(w[0], k=3).collect()
    assert 0 < len(res) <= 3
    assert all(r["text"] is not None for r in res)
    got = engine.fetch([r["doc_id"] for r in res]).collect()
    assert {r["doc_id"] for r in got} == {r["doc_id"] for r in res}


def test_reference_mode(engine):
    w = vocab()
    out = engine.search(w[0], k=5, mode="reference").collect()
    assert len(out) > 0


# ---------------------------------------------------------------------------
# plan hygiene
# ---------------------------------------------------------------------------

def test_wand_scan_pushes_term_filter(spark_engine):
    """The query-term predicate must reach the segment parquet scan
    (PushedFilters: In(term, ...)) — the Spark analog of the reference's
    radix-directory point lookup (Engine.cs:100-122)."""
    w = vocab()
    plan = _plan(spark_engine.search(f"{w[0]} {w[1]}", k=5))
    assert "PushedFilters" in plan
    assert "In(term" in plan.replace("term#", "term")


def test_doc_fetch_pushes_filter(engine):
    plan = _plan(engine.fetch([1, 2, 3]))
    assert "PushedFilters" in plan and "In(doc_id" in plan


def test_result_join_broadcasts_topk(engine):
    """search_with_docs must broadcast the k-row side, never shuffle the
    doc store (SURVEY §2.5 J2)."""
    w = vocab()
    plan = _plan(engine.search_with_docs(w[0], k=3))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_segment_build_is_single_shuffle(spark, engine):
    """The flagship claim of SURVEY §2.8: the reverse-index build is ONE
    shuffle (the groupBy agg exchange) — the reference needed P full
    rescans of the forward index."""
    from searchengine_spark.operators.ingest import tf_from_doc_map
    from searchengine_spark.operators.segments import build_doc_segments

    tf = tf_from_doc_map(engine.doc_map)
    segs = build_doc_segments(tf, engine.term_stats, engine.scalars.n_docs,
                              engine.scalars.avgdl, n_shards=4)
    plan = _plan(segs)
    # formatted mode prints each operator in the tree AND a details section;
    # count shuffles in the tree only
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1, plan


def test_stats_scan_prunes_columns(engine):
    """Scalar agg over the doc store must read only the needed column
    (ReadSchema pruned to dl), not the text/terms payload."""
    plan = _plan(engine.doc_map.agg(F.sum("dl")))
    readschema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert readschema and "dl" in readschema[0]
    assert "text" not in readschema[0] and "terms" not in readschema[0]


def test_significant_terms_surfaces_query_topic(engine):
    """Every scored term occurs in at least min_doc_count hits, scores
    rank descending, and the joins stay broadcast. The query term itself
    is present in every hit (fg_pct = 1) but may rank low — it is also
    corpus-frequent, which is exactly the lift JLH discounts — so assert
    its membership in the un-truncated output, not the top-10."""
    w = vocab()
    df = engine.significant_terms(w[0], k=20, n_top=10, min_doc_count=2)
    plan = _plan(df)
    assert "SortMergeJoin" not in plan
    rows = df.collect()
    assert rows
    full = engine.significant_terms(w[0], k=20, n_top=100000,
                                    min_doc_count=2).collect()
    qrow = {r.term: r for r in full}[w[0]]
    assert qrow.fg_df == 20  # in every hit
    assert all(r.fg_df >= 2 and r.fg_df <= 20 for r in rows)
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_facet_histogram_covers_hits(engine):
    """Hourly histogram bucket counts over the top-k hit set sum to the
    number of hits, and bucket_start is bucket * interval."""
    w = vocab()
    n_hits = engine.search(w[0], k=20).count()
    rows = engine.facet_histogram(w[0], 3600.0, k=20).collect()
    assert sum(r.n for r in rows) == n_hits
    for r in rows:
        if r.bucket is not None:
            assert r.bucket_start == r.bucket * 3600.0


# ---------------------------------------------------------------------------
# auto mode selection + warm stats cache (round 4)
# ---------------------------------------------------------------------------

def test_auto_mode_picks_indexed_path_and_warms_cache(spark_engine):
    """search() with NO mode argument serves the doc-sharded WAND layout
    (ES-like default), records it in last_search_mode, and memoizes the
    query terms' df so the repeat query costs zero stats lookups — proven
    the hard way: the stats table is removed and the repeat still runs.
    Spark backend (an index over the driver memory budget)."""
    engine = spark_engine
    w = vocab()
    q = f"{w[0]} {w[3]} zzznope"
    first = engine.search(q, k=5)
    assert engine.last_search_mode == "wand"
    # the served plan is the grouped-map WAND kernel, not the relational
    # exhaustive path
    assert "FlatMapGroupsInPandas" in \
        first._jdf.queryExecution().executedPlan().toString()
    a = [(r.doc_id, round(r.score, 9)) for r in first.collect()]
    assert a
    assert engine._df_memo.get("zzznope") == 0  # OOV memoized too
    assert engine._df_memo[w[0]] > 0
    saved = engine.term_stats
    engine.term_stats = None  # any stats lookup would now crash
    try:
        b = [(r.doc_id, round(r.score, 9))
             for r in engine.search(q, k=5).collect()]
    finally:
        engine.term_stats = saved
    assert a == b


def test_auto_mode_serves_resident_without_stats(engine, spark_engine):
    """The resident twin: an index that fits the driver memory budget is
    scored in the driver (last_search_mode "resident"), its plan reads no
    segment file and runs no grouped map, and its df dict answers idf —
    with the stats table removed, never-seen out-of-vocabulary terms are
    still served, single and batch. Results are bit-identical to the
    Spark backend."""
    w = vocab()
    q = f"{w[0]} {w[3]} zzznope"
    first = engine.search(q, k=5)
    assert engine.last_search_mode == "resident"
    plan = first._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan and "FileScan" not in plan
    a = [(r.doc_id, r.score) for r in first.collect()]
    assert a == [(r.doc_id, r.score)
                 for r in spark_engine.search(q, k=5).collect()]
    assert not engine._df_memo  # the resident path never fills it
    saved = engine.term_stats
    engine.term_stats = None  # any stats lookup would now crash
    try:
        b = [(r.doc_id, r.score)
             for r in engine.search(f"{q} qqqneverseen", k=5).collect()]
        batch = sorted(engine.search_batch(
            [(0, q), (1, "qqqneverseen zzznope")], k=5).collect())
    finally:
        engine.term_stats = saved
    assert a == b
    assert [(r.doc_id, r.score) for r in batch if r.query_id == 0] == a
    assert [r for r in batch if r.query_id == 1] == []
    for eng, mode in ((engine, "resident"), (spark_engine, "wand")):
        eng.last_search_mode = None
        eng.search_batch([(0, q)], k=5)
        assert eng.last_search_mode == mode


def test_failed_resident_build_falls_back_to_spark(spark, engine,
                                                   monkeypatch):
    """A resident build whose collect fails (as past
    spark.driver.maxResultSize) leaves the index to the Spark plan: the
    query is served, with the same rows as the resident engine, and the
    failed build is not retried on the next query or batch."""
    from pyspark.sql.classic.dataframe import DataFrame

    calls = []

    def failing_to_arrow(df):
        calls.append(df)
        spark._jvm.java.lang.Long.parseLong("maxResultSize")  # raises

    eng = SearchEngine.load(spark, engine.index_dir)
    monkeypatch.setattr(DataFrame, "toArrow", failing_to_arrow)
    q = " ".join(vocab()[:3])
    with pytest.warns(RuntimeWarning, match="Spark plan"):
        got = [(r.doc_id, r.score) for r in eng.search(q, k=5).collect()]
    assert eng.last_search_mode == "wand" and len(calls) == 1
    assert got == [(r.doc_id, r.score) for r in engine.search(q, k=5).collect()]
    assert eng.search(q, k=5).collect() and eng.last_search_mode == "wand"
    assert eng.search_batch([(0, q)], k=5).collect() and len(calls) == 1


def test_resident_needs_room_in_one_collect(spark, engine, monkeypatch):
    """An index whose Arrow size does not fit one collect
    (maxResultSize, driver heap) is never collected: the Spark plan
    serves it, however much driver memory is free."""
    from pyspark.sql.classic.dataframe import DataFrame

    eng = SearchEngine.load(spark, engine.index_dir)
    monkeypatch.setattr(wand, "_collect_budget_bytes", lambda spark: 0)
    monkeypatch.setattr(DataFrame, "toArrow", lambda df: pytest.fail(
        "collected an index over the collect budget"))
    assert _resident(eng) is None
    eng.search(vocab()[0], k=5).collect()
    assert eng.last_search_mode == "wand"


def test_memory_budget_reads_cgroup_limit(tmp_path, monkeypatch):
    """The driver memory budget takes the room left under the process's
    cgroup limit (v2 memory.max, v1 memory.limit_in_bytes) when it is
    below the OS's free memory; no limit ("max", or v1's near-2^63
    value) or no readable file leaves the OS figure."""
    def layout(proc_line, files):
        root = tmp_path / str(len(list(tmp_path.iterdir())))
        for rel, text in files.items():
            (root / rel).parent.mkdir(parents=True, exist_ok=True)
            (root / rel).write_text(text)
        (root / "cgroup").write_text(proc_line)
        return str(root / "cgroup"), str(root / "fs")

    v2 = layout("0::/job\n", {"fs/job/memory.max": "1000\n",
                               "fs/job/memory.current": "400\n"})
    v1 = layout("4:memory:/job\n1:cpu:/\n", {
        "fs/memory/memory.limit_in_bytes": "5000\n",
        "fs/memory/memory.usage_in_bytes": "1000\n"})
    unlimited = layout("0::/job\n", {"fs/job/memory.max": "max\n",
                                      "fs/job/memory.current": "4\n"})
    v1_unlimited = layout("4:memory:/job\n", {
        "fs/memory/job/memory.limit_in_bytes": "9223372036854771712\n",
        "fs/memory/job/memory.usage_in_bytes": "1\n"})
    assert wand._cgroup_headroom(*v2) == 600
    assert wand._cgroup_headroom(*v1) == 4000  # namespace root fallback
    assert wand._cgroup_headroom(*unlimited) is None
    assert wand._cgroup_headroom(*v1_unlimited) is None
    assert wand._cgroup_headroom(str(tmp_path / "none"), "/") is None

    # a quarter of the cgroup room, less the build's fixed cost, at the
    # per-posting cost
    monkeypatch.setattr(wand, "_cgroup_headroom", lambda: 1 << 30)
    assert wand._budget_postings() == ((256 - 16) << 20) // 32
    monkeypatch.setattr(wand, "_cgroup_headroom", lambda: 4 * (
        wand._BUILD_FIXED_BYTES + 10 * wand._POSTING_BYTES) + 3)
    assert wand._budget_postings() == 10
    for room in (4 * wand._BUILD_FIXED_BYTES, 1000, 0):  # fixed cost only
        monkeypatch.setattr(wand, "_cgroup_headroom", lambda r=room: r)
        assert wand._budget_postings() == 0
    monkeypatch.setattr(wand, "_cgroup_headroom", lambda: None)
    assert 0 < wand._budget_postings() <= wand._RESIDENT_MAX_POSTINGS


def test_search_batch_uses_warm_stats_cache(spark_engine):
    """search_batch takes idf from the same warm df cache as search():
    a batch whose terms (OOV included) are all memoized runs with the
    stats table removed, and returns the same rows. Spark backend."""
    engine = spark_engine
    w = vocab()
    qs = [(0, f"{w[0]} {w[3]}"), (1, f"{w[5]} zzznope {w[5]}")]
    a = sorted(engine.search_batch(qs, k=5).collect())
    assert a
    saved = engine.term_stats
    engine.term_stats = None  # any stats lookup would now crash
    try:
        b = sorted(engine.search_batch(qs, k=5).collect())
    finally:
        engine.term_stats = saved
    assert a == b


def test_auto_mode_falls_back_to_exhaustive(engine):
    """An index with no segment layout at all (doc store only) serves
    the relational exhaustive scorer under auto mode instead of raising
    — same ranking as asking for exhaustive explicitly."""
    import dataclasses

    w = vocab()
    engine.search(w[0], k=5)
    assert engine.last_search_mode == "resident"  # a resident copy exists
    bare = dataclasses.replace(engine, doc_segments=None,
                               term_segments=None)
    got = [(r.doc_id, round(r.score, 9))
           for r in bare.search(w[0], k=5).collect()]
    assert bare.last_search_mode == "exhaustive"
    want = [(r.doc_id, round(r.score, 9))
            for r in engine.search(w[0], k=5, mode="exhaustive").collect()]
    assert got == want and got
