"""Round-3c operators: sub-aggregations (facet_stats, facet_top_hits),
dis_max multi-field scoring, function_score field-value-factor, and
cross-slice federated search with merged global statistics."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from searchengine_spark.operators.docids import assign_doc_ids
from searchengine_spark.operators.forward import (
    CorpusScalars,
    build_forward,
    build_term_stats,
    explode_forward,
)


@pytest.fixture(scope="module")
def built(spark, small):
    doc_map = assign_doc_ids(small, num_partitions=4).cache()
    forward = build_forward(doc_map).cache()
    tf_table = explode_forward(forward)
    stats = build_term_stats(tf_table).cache()
    scalars = CorpusScalars.compute(forward)
    return doc_map, forward, tf_table, stats, scalars


@pytest.fixture(scope="module")
def q2(built):
    """Two frequent corpus terms (the synth vocabulary is seed-derived,
    so query terms are looked up, not hardcoded)."""
    _, _, _, stats, _ = built
    rows = stats.orderBy(F.desc("df"), F.asc("term")).limit(2).collect()
    return f"{rows[0].term} {rows[1].term}"


# ---------------------------------------------------------------------------
# facet sub-aggregations
# ---------------------------------------------------------------------------


def test_facet_stats_null_attr_counted_in_n_only(spark):
    """ES doc_count vs sub-agg count: a NULL numeric value still counts
    in n but contributes to no statistic."""
    from searchengine_spark.operators.facets import facet_stats

    hits = spark.createDataFrame([(i,) for i in range(4)], "doc_id long")
    attrs = spark.createDataFrame(
        [(0, "a", 10.0), (1, "a", None), (2, "b", 4.0), (3, "b", 6.0),
         (9, "a", 99.0)],  # doc 9 not in hits -> ignored
        "doc_id long, src string, v double",
    )
    out = {r.value: r for r in
           facet_stats(hits, attrs, by="src", attr="v").collect()}
    assert out["a"].n == 2 and out["a"].sum_v == 10.0 \
        and out["a"].avg_v == 10.0
    assert out["b"].n == 2 and out["b"].min_v == 4.0 \
        and out["b"].max_v == 6.0 and out["b"].avg_v == 5.0


def test_facet_top_hits_per_bucket_cutoff(spark):
    from searchengine_spark.operators.facets import facet_top_hits

    hits = spark.createDataFrame(
        [(i, float(10 - i)) for i in range(6)], "doc_id long, score double")
    attrs = spark.createDataFrame(
        [(i, "a" if i < 4 else "b") for i in range(6)],
        "doc_id long, src string")
    rows = facet_top_hits(hits, attrs, by="src", per_bucket=2).collect()
    got = [(r.value, r.rank, r.doc_id) for r in rows]
    # bucket a: docs 0..3 scores 10..7 -> top2 = 0,1; bucket b: 4,5
    assert got == [("a", 1, 0), ("a", 2, 1), ("b", 1, 4), ("b", 2, 5)]


# ---------------------------------------------------------------------------
# dis_max
# ---------------------------------------------------------------------------


def _per_field_scores(ftf, stats, n_docs, query, field):
    from searchengine_spark.operators.fielded import dis_max_topk

    one = ftf.filter(F.col("field") == field)
    return {
        r.doc_id: r.score
        for r in dis_max_topk(one, stats, n_docs, query, k=1000,
                              tie_breaker=0.0).collect()
    }


def test_dis_max_tiebreaker_envelope(built, spark, q2):
    """tie_breaker=0 -> per-doc max of single-field scores;
    tie_breaker=1 -> their sum (both computed by running dis_max on one
    field at a time, which degenerates to plain per-field BM25)."""
    from searchengine_spark.operators.fielded import (
        build_split_field_tf, dis_max_topk,
    )

    doc_map, _, _, stats, scalars = built
    ftf = build_split_field_tf(doc_map, title_len=4).cache()
    q = q2
    t = _per_field_scores(ftf, stats, scalars.n_docs, q, "title")
    b = _per_field_scores(ftf, stats, scalars.n_docs, q, "body")
    best = {r.doc_id: r.score
            for r in dis_max_topk(ftf, stats, scalars.n_docs, q, k=1000,
                                  tie_breaker=0.0).collect()}
    summed = {r.doc_id: r.score
              for r in dis_max_topk(ftf, stats, scalars.n_docs, q, k=1000,
                                    tie_breaker=1.0).collect()}
    assert best, "query must match"
    for d, s in best.items():
        want = max(t.get(d, 0.0), b.get(d, 0.0))
        assert s == pytest.approx(want, abs=2e-6)
    for d, s in summed.items():
        want = t.get(d, 0.0) + b.get(d, 0.0)
        assert s == pytest.approx(want, abs=2e-6)
    ftf.unpersist()


# ---------------------------------------------------------------------------
# function_score
# ---------------------------------------------------------------------------


def test_function_score_modifiers_and_missing(built, spark, q2):
    from searchengine_spark.operators.topk import function_score_topk, score_topk

    doc_map, _, tf_table, stats, scalars = built
    q = q2.split()[0]
    base = {r.doc_id: r.score
            for r in score_topk(tf_table, stats, scalars, q, k=1000).collect()}
    # attr only for half the candidates; missing=2.0, modifier none,
    # multiply -> score * factor*attr (or *2.0 when absent)
    some = spark.createDataFrame(
        [(d, 3.0) for d in list(base)[: len(base) // 2]],
        "doc_id long, popularity double")
    out = function_score_topk(
        tf_table, stats, scalars, some, q, attr="popularity",
        factor=1.0, modifier="none", missing=2.0, k=1000)
    got = {r.doc_id: r.score for r in out.collect()}
    have = set(r.doc_id for r in some.collect())
    assert set(got) == set(base)  # nobody dropped
    for d, s in got.items():
        mult = 3.0 if d in have else 2.0
        assert s == pytest.approx(round(base[d] * mult, 6), abs=2e-6)


def test_function_score_rejects_unknown_modifier(built):
    from searchengine_spark.operators.topk import function_score_topk

    _, _, tf_table, stats, scalars = built
    with pytest.raises(ValueError):
        function_score_topk(tf_table, stats, scalars,
                            tf_table.select("doc_id").limit(1),
                            "x", attr="doc_id", modifier="cube")


# ---------------------------------------------------------------------------
# federation
# ---------------------------------------------------------------------------


def _sliced(doc_map, n_slices):
    slices, st, sc = [], [], []
    for i in range(n_slices):
        sdocs = doc_map.filter(F.col("doc_id") % n_slices == i)
        fwd = build_forward(sdocs)
        tf = explode_forward(fwd)
        slices.append((f"s{i}", tf))
        st.append(build_term_stats(tf))
        sc.append(CorpusScalars.compute(fwd))
    return slices, st, sc


def test_federated_slice_invariance(built, q2):
    """The flagship property: querying 3 independently-built slices with
    MERGED stats is bit-identical to one monolithic index."""
    from searchengine_spark.operators.federation import federated_topk
    from searchengine_spark.operators.topk import score_topk

    doc_map, _, tf_table, stats, scalars = built
    slices, st, sc = _sliced(doc_map, 3)
    fed = federated_topk(slices, st, sc, q2, k=10_000)
    mono = (
        score_topk(tf_table, stats, scalars, q2, k=10_000)
        .select("doc_id", F.round("score", 6).alias("score"))
    )
    f = {r.doc_id: r.score for r in fed.collect()}
    m = {r.doc_id: r.score for r in mono.collect()}
    assert f and f == m


def test_federated_local_stats_would_differ(built, q2):
    """Negative control: scoring one slice with its LOCAL stats diverges
    from the global-stats scores — the statistics merge is load-bearing,
    not decorative."""
    from searchengine_spark.operators.federation import (
        federated_topk, merge_slice_scalars, merge_slice_stats,
    )

    doc_map, *_ = built
    slices, st, sc = _sliced(doc_map, 3)
    # global-stats scores restricted to slice 0's docs
    glob = federated_topk(slices, st, sc, q2, k=1000,
                          slice_filter=["s0"])
    # local-stats scores of slice 0 alone (a 1-slice federation)
    loc = federated_topk(slices[:1], st[:1], sc[:1], q2, k=1000)
    g = {r.doc_id: r.score for r in glob.collect()}
    l = {r.doc_id: r.score for r in loc.collect()}
    assert set(g) == set(l)  # same candidate docs...
    assert any(abs(g[d] - l[d]) > 1e-6 for d in g)  # ...different scores


def test_federated_slice_filter_prunes_scan(built):
    """A slice filter must fold to a plan that never scans the excluded
    slices: the literal slice tag makes the filter constant-foldable, so
    the pruned union has fewer scan nodes."""
    from searchengine_spark.operators.federation import federated_tf

    doc_map, *_ = built
    slices, _, _ = _sliced(doc_map, 3)
    tf = federated_tf(slices)
    pruned = tf.filter(F.col("slice") == "s1")
    plan = pruned._jdf.queryExecution().optimizedPlan().toString()
    # constant-folding rewrites s0/s2 branches to empty relations: the
    # optimized plan keeps at most one non-empty scan branch
    assert plan.count("LocalRelation <empty>") >= 2 or "Union" not in plan


# ---------------------------------------------------------------------------
# engine surface: delete_by_query, dis_max serving path
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def eng_idx(spark, small, tmp_path_factory):
    from searchengine_spark.pipeline import run_build

    out = str(tmp_path_factory.mktemp("r3cidx"))
    run_build(spark, small, out, num_doc_partitions=3, layouts=("doc",),
              n_shards=4)
    return out


def test_delete_by_query_masks_all_matches(spark, eng_idx, q2):
    from searchengine_spark.engine import SearchEngine

    eng = SearchEngine.load(spark, eng_idx)
    term = q2.split()[0]
    before = eng.search(term, k=5, mode="exhaustive").collect()
    assert before
    dead = eng.delete_by_query(term)
    assert len(dead) >= len(before)
    # every match of the term is now tombstoned -> zero hits
    assert eng.search(term, k=5, mode="exhaustive").count() == 0
    assert eng.search(term, k=5, mode="wand").count() == 0
    os.remove(eng._tombstone_path())


def test_delete_by_query_drains_past_batch_size(spark, eng_idx, q2):
    """batch_size smaller than the match count forces the drain loop:
    every pass tombstones a batch, masking it out of the next search,
    until no matches remain — a partial delete is never silent."""
    from searchengine_spark.engine import SearchEngine

    eng = SearchEngine.load(spark, eng_idx)
    term = q2.split()[0]
    n = eng.search(term, k=100_000, mode="exhaustive").count()
    assert n > 1
    dead = eng.delete_by_query(term, batch_size=(n + 1) // 2)
    assert len(dead) >= n
    assert eng.search(term, k=5, mode="exhaustive").count() == 0
    os.remove(eng._tombstone_path())


def test_delete_by_query_max_docs_is_total_cap(spark, eng_idx, q2):
    """max_docs is the ES semantic — a TOTAL-deletions cap, not a batch
    size: with max_docs=1 (< match count) exactly one doc is tombstoned
    even when batch_size would allow more per pass."""
    from searchengine_spark.engine import SearchEngine

    eng = SearchEngine.load(spark, eng_idx)
    term = q2.split()[0]
    n = eng.search(term, k=100_000, mode="exhaustive").count()
    assert n > 1
    dead = eng.delete_by_query(term, max_docs=1, batch_size=10_000)
    assert len(dead) == 1
    assert eng.search(term, k=100_000, mode="exhaustive").count() == n - 1
    os.remove(eng._tombstone_path())


def test_engine_dis_max_vs_operator(spark, eng_idx, q2):
    """Serving path == direct operator over the same layout, and the
    layout cache is shared with search_bm25f (built once)."""
    from searchengine_spark.engine import SearchEngine
    from searchengine_spark.operators.fielded import (
        build_split_field_tf, dis_max_topk,
    )

    eng = SearchEngine.load(spark, eng_idx)
    got = [(r.doc_id, r.score)
           for r in eng.search_dis_max(q2, k=5, tie_breaker=0.3).collect()]
    ftf = build_split_field_tf(eng.doc_map.select("doc_id", "text"), 8)
    want = [(r.doc_id, r.score)
            for r in dis_max_topk(ftf, eng.term_stats, eng.scalars.n_docs,
                                  q2, k=5, tie_breaker=0.3).collect()]
    assert got == want and got
    # bm25f reuses the cached layout object
    cache1 = eng._bm25f_cache[1]
    eng.search_bm25f(q2, k=3).collect()
    assert eng._bm25f_cache[1] is cache1


def test_federated_wand_cross_slice_admissibility(built, q2):
    """Federated WAND over per-slice SEGMENT layouts == exhaustive
    global BM25, with slices deliberately split by document length so
    the slices' own avgdl diverges from the global one: every slice
    must be scored with the global avgdl, not its own."""
    from searchengine_spark.operators.federation import (
        federated_wand_topk, merge_slice_scalars,
    )
    from searchengine_spark.operators.segments import build_doc_segments
    from searchengine_spark.operators.topk import score_topk

    doc_map, forward, tf_table, stats, scalars = built
    med = forward.approxQuantile("dl", [0.5], 0.0)[0]
    slice_segments, slice_stats, slice_scalars = [], [], []
    for name, cond in [("short", F.col("dl") <= med),
                       ("long", F.col("dl") > med)]:
        fwd_s = forward.filter(cond)
        tf_s = explode_forward(fwd_s)
        st_s = build_term_stats(tf_s)
        sc_s = CorpusScalars.compute(fwd_s)
        segs = build_doc_segments(tf_s, st_s, sc_s.n_docs, sc_s.avgdl,
                                  n_shards=3)
        slice_segments.append((name, segs))
        slice_stats.append(st_s)
        slice_scalars.append(sc_s)
    g = merge_slice_scalars(slice_scalars)
    # the setup must actually make the slice and global avgdl differ
    assert g.avgdl / slice_scalars[0].avgdl > 1.001
    fed = federated_wand_topk(slice_segments, slice_stats, slice_scalars,
                              q2, k=10)
    mono = score_topk(tf_table, stats, scalars, q2, k=10)
    got = [(r.doc_id, round(r.score, 6)) for r in fed.collect()]
    want = [(r.doc_id, round(r.score, 6)) for r in mono.collect()]
    assert got == want and got


def test_facet_percentiles_exact_vs_sketch(spark):
    """Exact percentiles interpolate (quantile_cont semantics); the GK
    sketch twin returns a member value within its rank tolerance —
    both over the same broadcast-hits join."""
    from searchengine_spark.operators.facets import facet_percentiles

    hits = spark.createDataFrame([(i,) for i in range(100)], "doc_id long")
    attrs = spark.createDataFrame(
        [(i, "a" if i < 50 else "b", float(i % 50)) for i in range(100)],
        "doc_id long, src string, v double")
    exact = {(r.value, r.pct): r.v
             for r in facet_percentiles(hits, attrs, "src", "v",
                                        probs=(0.5,)).collect()}
    # both buckets hold 0..49 -> exact median 24.5
    assert exact[("a", 0.5)] == 24.5 and exact[("b", 0.5)] == 24.5
    approx = {(r.value, r.pct): r.v
              for r in facet_percentiles(hits, attrs, "src", "v",
                                         probs=(0.5,),
                                         approx=True).collect()}
    for key, v in approx.items():
        assert abs(v - exact[key]) <= 2.0  # GK rank tolerance on 50 values


def test_federated_engine_two_persisted_slices(spark, small, q2,
                                               tmp_path_factory):
    """FederatedEngine over two INDEPENDENT run_build outputs with
    disjoint doc-id bases == one monolithic engine over the union
    corpus. Slicing at the (conv_id, turn_idx) rank boundary makes the
    base-offset federation ids equal the monolithic dense assignment,
    so the comparison is bit-identical ids AND scores. Also pins the
    load-time overlap rejection and cross-slice tombstone masking."""
    from searchengine_spark.engine import SearchEngine
    from searchengine_spark.operators.federation import FederatedEngine
    from searchengine_spark.pipeline import run_build

    convs = sorted(r.conv_id for r in
                   small.select("conv_id").distinct().collect())
    cut = convs[len(convs) // 2]
    first = small.filter(F.col("conv_id") < cut)
    rest = small.filter(F.col("conv_id") >= cut)
    n_first = first.count()

    root = tmp_path_factory.mktemp("fedidx")
    d0, d1, dmono = str(root / "s0"), str(root / "s1"), str(root / "mono")
    run_build(spark, first, d0, num_doc_partitions=2, layouts=("doc",),
              n_shards=2)
    run_build(spark, rest, d1, num_doc_partitions=2, layouts=("doc",),
              n_shards=2, doc_id_base=n_first)
    run_build(spark, small, dmono, num_doc_partitions=3, layouts=("doc",),
              n_shards=3)

    fed = FederatedEngine.load(spark, [d0, d1])
    mono = SearchEngine.load(spark, dmono)
    assert fed.index_stats()["n_docs"] == mono.scalars.n_docs
    assert abs(fed.scalars.avgdl - mono.scalars.avgdl) < 1e-9

    got = [(r.doc_id, round(r.score, 9))
           for r in fed.search(q2, k=10).collect()]
    want = [(r.doc_id, round(r.score, 9))
            for r in mono.search(q2, k=10, mode="exhaustive").collect()]
    assert got == want and got

    # cross-slice tombstones: delete the top hit (whichever slice owns
    # it) -> it vanishes from the federated results
    top = got[0][0]
    owner = fed.engines[0] if top < n_first else fed.engines[1]
    owner.delete_docs([top])
    try:
        after = [r.doc_id for r in fed.search(q2, k=10).collect()]
        assert top not in after
    finally:
        os.remove(owner._tombstone_path())

    # overlapping id ranges must be rejected at load
    with pytest.raises(ValueError, match="overlap"):
        FederatedEngine.load(spark, [d0, dmono])


def test_ltr_features_consistency(spark, built, q2):
    """Feature invariants: candidate ranking == batch BM25 ranking;
    matched_terms <= q_terms; max_partial <= bm25 (partials are
    non-negative); dl matches the forward index."""
    from searchengine_spark.operators.ltr import ltr_features
    from searchengine_spark.operators.topk import score_topk

    doc_map, forward, tf_table, stats, scalars = built
    queries = spark.createDataFrame([(0, q2)], "query_id int, query string")
    rows = ltr_features(queries, tf_table, stats, scalars, k=15).collect()
    assert rows and len(rows) <= 15
    want = [(r.doc_id, round(r.score, 6)) for r in
            score_topk(tf_table, stats, scalars, q2, k=15)
            .select("doc_id", F.round("score", 6).alias("score")).collect()]
    got = [(r.doc_id, r.bm25) for r in sorted(rows, key=lambda r: r.rank)]
    assert got == want
    dls = {r.doc_id: r.dl for r in forward.select("doc_id", "dl").collect()}
    for r in rows:
        assert 1 <= r.matched_terms <= r.q_terms
        assert r.max_partial <= r.bm25 + 1e-9
        assert r.tf_sum >= r.matched_terms
        assert r.dl == dls[r.doc_id]


def test_federated_engine_streaming_slice_joins(spark, small, q2,
                                                tmp_path_factory):
    """Full federation lifecycle: a BATCH-built doc-layout slice and a
    STREAMING-built term-layout slice (incremental ingest with a
    doc_id_base -> compact -> export_for_serving) served together by
    one FederatedEngine, results == exhaustive global BM25 over the
    union corpus. The doc slice runs the federated union and the term
    slice wand_topk_terms, both with the merged stats — the routing
    must be invisible in the scores."""
    from searchengine_spark.engine import SearchEngine
    from searchengine_spark.operators.federation import FederatedEngine
    from searchengine_spark.operators.forward import (
        CorpusScalars as CS,
    )
    from searchengine_spark.operators.topk import score_all
    from searchengine_spark.pipeline import run_build
    from searchengine_spark.streaming.incremental import (
        compact,
        export_for_serving,
        start_incremental,
    )

    convs = sorted(r.conv_id for r in
                   small.select("conv_id").distinct().collect())
    cut = convs[len(convs) // 2]
    first = small.filter(F.col("conv_id") < cut)
    rest = small.filter(F.col("conv_id") >= cut)
    n_first = first.count()

    root = tmp_path_factory.mktemp("fedstream")
    d0 = str(root / "batch_slice")
    run_build(spark, first, d0, num_doc_partitions=2, layouts=("doc",),
              n_shards=2)
    # streaming slice: ids continue AFTER the batch slice's range
    inp = root / "in"
    inp.mkdir()
    rest.coalesce(1).write.parquet(str(inp / "b0.parquet"))
    inc = str(root / "inc_idx")
    q = start_incremental(spark, f"{inp}/*/", inc, str(root / "ckpt"),
                          available_now=True, df_target=64,
                          doc_id_base=n_first)
    q.awaitTermination(300)
    compact(spark, inc, df_target=64)
    d1 = str(root / "stream_slice")
    export_for_serving(spark, inc, d1)
    assert SearchEngine.load(spark, d1).doc_segments is None  # term-only

    fed = FederatedEngine.load(spark, [d0, d1])
    got = [(r.doc_id, round(r.score, 9))
           for r in fed.search(q2, k=10).collect()]

    # oracle: exhaustive BM25 over the union corpus with the SAME ids
    # (dense rank == base-offset by the conv-boundary slicing)
    doc_map = assign_doc_ids(small, num_partitions=3)
    fwd = build_forward(doc_map)
    tf = explode_forward(fwd)
    stats = build_term_stats(tf)
    sc = CS.compute(fwd)
    want = [
        (r.doc_id, round(r.score, 9))
        for r in score_all(tf, stats, sc, q2)
        .orderBy(F.desc("score"), F.asc("doc_id")).limit(10).collect()
    ]
    assert got == want and got


def test_federated_search_batch(spark, built, q2, tmp_path_factory):
    """Batch WAND across two persisted slices == per-query federated
    search for every query in the batch."""
    from searchengine_spark.operators.federation import FederatedEngine
    from searchengine_spark.pipeline import run_build

    doc_map, *_ = built
    # reuse the conv-boundary split fixture shape inline
    convs = sorted(r.conv_id for r in
                   doc_map.select("conv_id").distinct().collect())
    cut = convs[len(convs) // 2]
    root = tmp_path_factory.mktemp("fedbatch")
    d0, d1 = str(root / "a"), str(root / "b")
    small0 = doc_map.filter(F.col("conv_id") < cut).drop("doc_id")
    small1 = doc_map.filter(F.col("conv_id") >= cut).drop("doc_id")
    run_build(spark, small0, d0, num_doc_partitions=2, layouts=("doc",),
              n_shards=2)
    run_build(spark, small1, d1, num_doc_partitions=2, layouts=("doc",),
              n_shards=2, doc_id_base=small0.count())
    fed = FederatedEngine.load(spark, [d0, d1])

    qs = [(0, q2), (1, q2.split()[0])]
    batch = {(r.query_id, r.rank): (r.doc_id, round(r.score, 9))
             for r in fed.search_batch(qs, k=5).collect()}
    for qid, q in qs:
        single = [(r.doc_id, round(r.score, 9))
                  for r in fed.search(q, k=5).collect()]
        got = [batch[(qid, rk)] for rk in range(1, len(single) + 1)]
        assert got == single and single


def test_rescore_window_semantics(built, q2):
    """rescore_weight=0 degenerates to plain BM25 top-k; k > window is
    rejected; the combined score equals bm25 + w*lm for every result."""
    from searchengine_spark.operators.topk import (
        lm_dirichlet_topk, rescore_topk, score_topk,
    )

    _, _, tf, stats, scalars = built
    base = [(r.doc_id, round(r.score, 6)) for r in
            score_topk(tf, stats, scalars, q2, k=8)
            .select("doc_id", F.round("score", 6).alias("score")).collect()]
    zero = [(r.doc_id, r.score) for r in
            rescore_topk(tf, stats, scalars, q2, k=8, window=30,
                         rescore_weight=0.0).collect()]
    assert zero == base
    got = {r.doc_id: r.score for r in
           rescore_topk(tf, stats, scalars, q2, k=8, window=30,
                        rescore_weight=0.5).collect()}
    bm25 = {r.doc_id: round(r.score, 6) for r in
            score_topk(tf, stats, scalars, q2, k=30)
            .select("doc_id", F.round("score", 6).alias("score")).collect()}
    lm = {r.doc_id: r.score for r in
          lm_dirichlet_topk(tf, stats, scalars, q2, k=100000).collect()}
    for d, s in got.items():
        assert s == pytest.approx(
            round(bm25[d] + 0.5 * lm[d], 6), abs=2e-6)
    with pytest.raises(ValueError):
        rescore_topk(tf, stats, scalars, q2, k=50, window=10)


def test_consolidation_bit_identity_and_span_check(spark, small, q2,
                                                   tmp_path_factory):
    """Slice retirement policy (consolidate_slices): federating
    [consolidated(cold0, cold1), hot] returns BIT-IDENTICAL (doc_id,
    score) rows to federating the three original slices — including a
    tombstone in a cold slice, physically purged during the merge with
    build-time stats pinned (Lucene delete semantics). Also pins the
    span-aware disjointness check: a consolidation of NON-adjacent
    slices records doc_id_end, so a slice whose id range falls inside
    the consolidated span is rejected at load even though base + n_docs
    alone would not cover it."""
    from searchengine_spark.engine import SearchEngine
    from searchengine_spark.operators.federation import (
        FederatedEngine,
        consolidate_slices,
    )
    from searchengine_spark.pipeline import run_build

    convs = sorted(r.conv_id for r in
                   small.select("conv_id").distinct().collect())
    c1, c2 = convs[len(convs) // 3], convs[2 * len(convs) // 3]
    p0 = small.filter(F.col("conv_id") < c1)
    p1 = small.filter((F.col("conv_id") >= c1) & (F.col("conv_id") < c2))
    p2 = small.filter(F.col("conv_id") >= c2)
    n0, n1 = p0.count(), p1.count()
    B1, B2 = 1 << 20, 1 << 30  # deliberately NON-contiguous id ranges

    root = tmp_path_factory.mktemp("consol")
    d0, d1, d2 = str(root / "s0"), str(root / "s1"), str(root / "s2")
    run_build(spark, p0, d0, num_doc_partitions=2, layouts=("doc",),
              n_shards=2)
    run_build(spark, p1, d1, num_doc_partitions=2, layouts=("doc",),
              n_shards=2, doc_id_base=B1)
    run_build(spark, p2, d2, num_doc_partitions=2, layouts=("doc",),
              n_shards=2, doc_id_base=B2)

    fed3 = FederatedEngine.load(spark, [d0, d1, d2])
    hits = [(r.doc_id, round(r.score, 9))
            for r in fed3.search(q2, k=10).collect()]
    assert hits
    # tombstone a cold-slice hit (consolidation must purge it)
    victim = next(d for d, _ in hits if d < B2)
    owner = fed3.engines[0] if victim < B1 else fed3.engines[1]
    owner.delete_docs([victim])
    before = [(r.doc_id, round(r.score, 9))
              for r in fed3.search(q2, k=10).collect()]
    assert victim not in [d for d, _ in before]

    dc = consolidate_slices(spark, [d0, d1], str(root / "cold"))
    os.remove(owner._tombstone_path())

    cold = SearchEngine.load(spark, dc)
    assert cold.doc_segments is None and cold.term_segments is not None
    assert cold.scalars.n_docs == n0 + n1  # stats pinned despite purge
    # the purged doc is physically gone from every layout
    assert cold.doc_map.filter(F.col("doc_id") == victim).count() == 0

    fed2 = FederatedEngine.load(spark, [dc, d2])
    after = [(r.doc_id, round(r.score, 9))
             for r in fed2.search(q2, k=10).collect()]
    assert after == before

    # non-adjacent consolidation: [s0, s2] leaves s1's range in the GAP
    # between the recorded constituent ranges — the exact range-set
    # check must ACCEPT [cold02, s1] (an envelope check would falsely
    # reject it) and the three-way results must be reproduced
    dc02 = consolidate_slices(spark, [d0, d2], str(root / "cold02"))
    import json
    with open(os.path.join(dc02, "scalars.json")) as f:
        sj = json.load(f)
    assert len(sj["doc_id_ranges"]) == 2  # non-contiguous, both kept
    fed_gap = FederatedEngine.load(spark, [dc02, d1])
    gap_hits = [(r.doc_id, round(r.score, 9))
                for r in fed_gap.search(q2, k=10).collect()]
    assert gap_hits == hits  # tombstone was removed above -> pre-delete rows
    # a slice that truly overlaps a CONSTITUENT range is still rejected
    with pytest.raises(ValueError, match="overlap"):
        FederatedEngine.load(spark, [dc02, d0])


def test_maybe_consolidate_policy(spark, small, q2, tmp_path_factory):
    """FederatedEngine.maybe_consolidate: the tiered_compact-shaped
    retirement policy. Over max_slices it merges the COLDEST (lowest
    doc-id base) slices, keeps ``keep_hot`` newest un-merged, and the
    returned federation serves BIT-IDENTICAL (doc_id, score) rows; at
    or under the threshold it is a no-op (None). The consolidated dir
    name is deterministic so a crashed retry overwrites its orphan."""
    from searchengine_spark.engine import SearchEngine
    from searchengine_spark.operators.federation import FederatedEngine
    from searchengine_spark.pipeline import run_build

    convs = sorted(r.conv_id for r in
                   small.select("conv_id").distinct().collect())
    cuts = [convs[i * len(convs) // 4] for i in (1, 2, 3)]
    parts = [
        small.filter(F.col("conv_id") < cuts[0]),
        small.filter((F.col("conv_id") >= cuts[0])
                     & (F.col("conv_id") < cuts[1])),
        small.filter((F.col("conv_id") >= cuts[1])
                     & (F.col("conv_id") < cuts[2])),
        small.filter(F.col("conv_id") >= cuts[2]),
    ]
    root = tmp_path_factory.mktemp("maybe_consol")
    dirs = []
    for i, p in enumerate(parts):  # bases monotone = slice age
        d = str(root / f"day{i}")
        run_build(spark, p, d, num_doc_partitions=2, layouts=("doc",),
                  n_shards=2, doc_id_base=i << 30)
        dirs.append(d)

    fed4 = FederatedEngine.load(spark, dirs)
    before = [(r.doc_id, round(r.score, 9))
              for r in fed4.search(q2, k=10).collect()]
    assert before

    # under threshold: no-op
    assert fed4.maybe_consolidate(str(root), max_slices=4) is None
    # nothing worth merging (only 1 cold slice): no-op
    assert fed4.maybe_consolidate(str(root), max_slices=3,
                                  keep_hot=3) is None

    fed2 = fed4.maybe_consolidate(str(root), max_slices=3, keep_hot=2)
    assert fed2 is not None and len(fed2.engines) == 3  # merged + 2 hot
    # the cold pair (day0, day1) merged; the 2 newest stayed hot
    hot_left = {e.index_dir for e in fed2.engines}
    assert dirs[2] in hot_left and dirs[3] in hot_left
    cons_dir = next(d for d in hot_left if d not in dirs)
    assert os.path.basename(cons_dir) == f"consolidated_0_{(1 << 30) + parts[1].count()}"
    cold = SearchEngine.load(spark, cons_dir)
    assert cold.scalars.n_docs == parts[0].count() + parts[1].count()

    after = [(r.doc_id, round(r.score, 9))
             for r in fed2.search(q2, k=10).collect()]
    assert after == before
