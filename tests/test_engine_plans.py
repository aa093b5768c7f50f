"""Query-engine API over a persisted index + physical-plan hygiene checks
(the .explain discipline: filters reach the parquet scan, small sides
broadcast, the segment build is a single shuffle)."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from searchengine_spark.engine import SearchEngine
from searchengine_spark.pipeline import run_build
from searchengine_spark.sources.synth import vocab


@pytest.fixture(scope="module")
def engine(spark, small, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("engidx"))
    run_build(spark, small, out, num_doc_partitions=3, layouts=("doc",))
    return SearchEngine.load(spark, out)


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

def test_wand_scan_pushes_term_filter(engine):
    """The query-term predicate must reach the segment parquet scan
    (PushedFilters: In(term, ...)) — the Spark analog of the reference's
    radix-directory point lookup (Engine.cs:100-122)."""
    w = vocab()
    plan = _plan(engine.search(f"{w[0]} {w[1]}", k=5))
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

def test_auto_mode_picks_indexed_path_and_warms_cache(engine):
    """search() with NO mode argument serves the doc-sharded WAND layout
    (ES-like default), records it in last_search_mode, and memoizes the
    query terms' df so the repeat query costs zero stats lookups — proven
    the hard way: the stats table is removed and the repeat still runs."""
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


def test_search_batch_uses_warm_stats_cache(engine):
    """search_batch takes idf from the same warm df cache as search():
    a batch whose terms (OOV included) are all memoized runs with the
    stats table removed, and returns the same rows."""
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
    bare = dataclasses.replace(engine, doc_segments=None,
                               term_segments=None)
    got = [(r.doc_id, round(r.score, 9))
           for r in bare.search(w[0], k=5).collect()]
    assert bare.last_search_mode == "exhaustive"
    want = [(r.doc_id, round(r.score, 9))
            for r in engine.search(w[0], k=5, mode="exhaustive").collect()]
    assert got == want and got
