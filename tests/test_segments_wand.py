"""M2/M3/M4 tests: segment codec round-trips, block-max admissibility,
salting activation, and WAND-vs-exhaustive rank identity (the adversarial
agreement check from SURVEY.md §7 M4)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from searchengine_spark.build import build_index
from searchengine_spark.engine import SearchEngine
from searchengine_spark.operators import wand
from searchengine_spark.operators.segments import (
    BLOCK,
    bm25_core_np,
    decode_payload,
    salt_plan,
    segments_to_tf,
)
from searchengine_spark.operators.topk import score_topk
from searchengine_spark.sources.synth import vocab


@pytest.fixture(scope="module")
def index(spark, small):
    idx = build_index(
        small, num_doc_partitions=4, n_shards=5, layouts=("doc", "term"),
        df_target=40,
    )
    idx.doc_segments.count()
    idx.term_segments.count()
    return idx


@pytest.fixture(scope="module")
def backends(spark, index, tmp_path_factory):
    """The index served by both SearchEngine backends, keyed by the
    ``last_search_mode`` each records: "resident" (decoded in the driver)
    and "wand" (the Spark plan; the driver memory budget is forced to
    zero while the engine makes its cached backend choice)."""
    out = {}
    for mode in ("resident", "wand"):
        eng = SearchEngine(
            spark=spark, index_dir=str(tmp_path_factory.mktemp(mode)),
            doc_map=index.doc_map, term_stats=index.term_stats,
            scalars=index.scalars,
            # a frame of its own: the backend choice is cached per frame
            doc_segments=index.doc_segments.alias(mode))
        with pytest.MonkeyPatch.context() as mp:
            if mode == "wand":
                mp.setattr(wand, "_budget_postings", lambda: 0)
            assert (wand.resident_for(
                eng.doc_segments, eng.term_stats, eng.scalars.n_docs,
                eng.scalars.avgdl) is None) == (mode == "wand")
        out[mode] = eng
    return out


def _served(backends, query, k):
    """(doc_id, score) rows of ``query`` from each backend; asserts each
    backend served and that both return the same rows, float bits
    included."""
    got = {}
    for mode, eng in backends.items():
        got[mode] = [(r.doc_id, r.score) for r in eng.search(query, k=k).collect()]
        assert eng.last_search_mode == mode
    assert got["resident"] == got["wand"], query
    return got["wand"]


def _served_batch(backends, queries, k):
    """Sorted (query_id, rank, doc_id, score) of a batch, equal across
    both backends, float bits included."""
    got = {mode: sorted(eng.search_batch(queries, k=k).collect())
           for mode, eng in backends.items()}
    assert got["resident"] == got["wand"]
    return got["wand"]


def _tf_set(df):
    return set(map(tuple, df.select("term", "doc_id", "tf", "dl").collect()))


def test_per_turn_text_equality_fused(index, small):
    """BASELINE.json invariant on the PRODUCTION ingest path: the fused doc
    map (doc store) reproduces (conv_id, turn_idx, text) exactly under
    stable turn ordering."""
    src = small.select("conv_id", "turn_idx", "text").orderBy("conv_id", "turn_idx")
    rebuilt = index.doc_map.select("conv_id", "turn_idx", "text").orderBy(
        "conv_id", "turn_idx"
    )
    assert src.collect() == rebuilt.collect()


def test_doc_segments_roundtrip(index):
    assert _tf_set(segments_to_tf(index.doc_segments)) == _tf_set(index.tf_table)


def test_term_segments_roundtrip(index):
    assert _tf_set(segments_to_tf(index.term_segments)) == _tf_set(index.tf_table)


@pytest.mark.parametrize("chunk", [1 << 20, 7])
def test_decode_table_equals_row_decode(index, chunk):
    """The resident index's whole-table decode (varint rows as one
    concatenated blob per column and run of about ``chunk`` postings,
    pack128 rows one by one) yields exactly decode_payload's arrays for
    every row, both codecs present, also on a sliced table (buffers read
    at a non-zero array offset)."""
    from searchengine_spark.operators.segments import decode_table

    whole = index.doc_segments.toArrow()
    for table in (whole, whole.slice(5)):
        docs, tfs, dls, starts = decode_table(table, chunk=chunk)
        rows = table.to_pylist()
        assert {r["codec"] for r in rows} == {"varint", "pack128"}
        for i, r in enumerate(rows):
            d, t, l = decode_payload(type("Row", (), r))
            s, e = starts[i], starts[i + 1]
            assert docs[s:e].tolist() == d.tolist() and tfs[s:e].tolist() \
                == t.tolist() and dls[s:e].tolist() == l.tolist()
        assert starts[-1] == sum(r["n"] for r in rows)


def test_doc_shards_are_ranges(index):
    """Each shard owns a contiguous disjoint doc range (range sharding)."""
    rows = index.doc_segments.collect()
    lo, hi = {}, {}
    for r in rows:
        d, _, _ = decode_payload(r)
        lo[r.shard] = min(lo.get(r.shard, 1 << 62), int(d.min()))
        hi[r.shard] = max(hi.get(r.shard, -1), int(d.max()))
    shards = sorted(lo)
    for a, b in zip(shards, shards[1:]):
        assert hi[a] < lo[b]


def test_block_max_admissible(index):
    """block_max_core is a TIGHT upper bound of every posting's idf-free
    BM25 core in its block, and block_last_doc is the block's max doc."""
    avgdl = index.scalars.avgdl
    for r in index.doc_segments.collect():
        d, t, l = decode_payload(r)
        w = bm25_core_np(t, l, avgdl)
        for b in range(0, len(d), BLOCK):
            blk = slice(b, b + BLOCK)
            i = b // BLOCK
            assert w[blk].max() <= r.block_max_core[i] + 1e-12
            assert r.block_max_core[i] <= w[blk].max() + 1e-12
            assert int(d[blk].max()) == r.block_last_doc[i]


def test_salting_activates_and_caps(index):
    """High-df terms (df > df_target=40) are split across multiple salts;
    each salted segment stays <= df_target postings (SURVEY.md §4 skew)."""
    plan = {r["term"]: r["n_salts"] for r in
            salt_plan(index.term_stats, 40).collect()}
    assert plan, "fixture corpus must contain skewed terms"
    seg = index.term_segments.groupBy("term").agg(
        F.countDistinct("salt").alias("n_salts"), F.max("n").alias("max_n")
    ).collect()
    by_term = {r["term"]: r for r in seg}
    for term, n_salts in plan.items():
        assert by_term[term]["n_salts"] > 1
        assert by_term[term]["n_salts"] <= n_salts
    # unsalted terms: exactly one salt
    for term, r in by_term.items():
        if term not in plan:
            assert r["n_salts"] == 1


def test_salted_segments_disjoint(index):
    """Salts of one term partition its postings (no dup/loss across salts)
    — already implied by the round-trip, but assert per-term explicitly."""
    stats = {r["term"]: r["df"] for r in index.term_stats.collect()}
    seg_n = index.term_segments.groupBy("term").agg(F.sum("n").alias("n")).collect()
    for r in seg_n:
        assert r["n"] == stats[r["term"]]


QUERY_CASES = [
    "hot_single", "rare", "dup_term", "hot_plus_rare", "multi", "absent",
    "mixed_absent", "many_terms",
]


def _queries():
    w = vocab()
    return {
        "hot_single": w[0],
        "rare": w[4999],
        "dup_term": f"{w[1]} {w[1]}",
        "hot_plus_rare": f"{w[0]} {w[4999]}",
        "multi": f"{w[2]} {w[7]} {w[30]} {w[200]}",
        "absent": "zzznope qqqmissing",
        "mixed_absent": f"{w[3]} zzznope",
        "many_terms": " ".join(w[i] for i in (0, 1, 2, 3, 5, 8, 13, 21, 34, 55)),
    }


# The agreement tests below run every query on both backends (resident
# and Spark, ``backends``): each must match the exhaustive scorer, and
# the two must return the same rows bit for bit.

@pytest.mark.parametrize("case", QUERY_CASES)
def test_wand_matches_exhaustive(index, backends, case):
    q = _queries()[case]
    k = 10
    got = _served(backends, q, k)
    exh = score_topk(index.tf_table, index.term_stats, index.scalars, q, k=k).collect()
    assert [d for d, _ in got] == [r.doc_id for r in exh]
    for (_, a), b in zip(got, exh):
        assert a == pytest.approx(b.score, rel=1e-9)


def test_wand_random_queries_adversarial(index, backends):
    """50 random queries drawn from corpus vocabulary — rank identity."""
    rng = np.random.default_rng(7)
    w = vocab()
    for _ in range(50):
        n_terms = int(rng.integers(1, 6))
        q = " ".join(w[int(i)] for i in rng.integers(0, 3000, size=n_terms))
        got = _served(backends, q, 5)
        exh = score_topk(index.tf_table, index.term_stats, index.scalars, q, k=5).collect()
        assert [d for d, _ in got] == [r.doc_id for r in exh], q
        for (_, a), b in zip(got, exh):
            assert a == pytest.approx(b.score, rel=1e-9)


def test_batch_equals_single_on_both_backends(backends):
    """search_batch == search for every query of the agreement set, on
    each backend, float bits included."""
    qs = list(enumerate(_queries()[c] for c in QUERY_CASES))
    batch = _served_batch(backends, qs, 10)
    for qid, q in qs:
        assert [(r.doc_id, r.score) for r in batch if r.query_id == qid] \
            == _served(backends, q, 10), q
        assert [r.rank for r in batch if r.query_id == qid] == \
            list(range(1, 1 + sum(r.query_id == qid for r in batch)))


def test_batch_wand_matches_exhaustive_batch(spark, index, backends):
    from searchengine_spark.operators.topk import batch_topk

    w = vocab()
    qs = [(0, w[0]), (1, f"{w[1]} {w[1]}"), (2, f"{w[0]} {w[4999]}"),
          (3, "zzznope"), (4, f"{w[2]} {w[7]} {w[30]}")]
    got = _served_batch(backends, qs, 5)
    qdf = spark.createDataFrame(qs, "query_id int, query string")
    want = batch_topk(qdf, index.tf_table, index.term_stats,
                      index.scalars, k=5).collect()
    g = sorted((r.query_id, r.rank, r.doc_id, r.score) for r in got)
    e = sorted((r.query_id, r.rank, r.doc_id, r.score) for r in want)
    assert [x[:3] for x in g] == [x[:3] for x in e]
    for a, b in zip(g, e):
        assert a[3] == pytest.approx(b[3], rel=1e-9)


def test_compression_ratio(index):
    """Delta+varint must beat the reference's raw 8 B/posting layout."""
    rows = index.doc_segments.select("n", "doc_gaps", "tfs").collect()
    n = sum(r["n"] for r in rows)
    enc = sum(len(r["doc_gaps"]) + len(r["tfs"]) for r in rows)
    assert enc / n < 8.0, f"{enc / n:.2f} B/posting (docs+tfs) vs 8 B raw"


def _brute_topk(rows, qf, idf, avgdl, k, dead=frozenset()):
    """Per-doc Python-float BM25 in (term, first doc) row order, sorted
    by (score desc, doc_id asc) — the reference the dense kernel must
    reproduce bit for bit."""
    from searchengine_spark.functions.scoring import B, K1

    score: dict[int, float] = {}
    for term, docs, tfs, dls in sorted(
            rows, key=lambda r: (r[0], int(r[1][0]) if len(r[1]) else -1)):
        for d, tf, dl in zip(docs.tolist(), tfs.tolist(), dls.tolist()):
            tf, dl = float(tf), float(dl)
            w = idf[term] * tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))
            score[d] = score.get(d, 0.0) + qf[term] * w
    live = [(d, s) for d, s in score.items() if d not in dead]
    return sorted(live, key=lambda x: (-x[1], x[0]))[:k]


def test_dense_kernel_exact_on_hot_selective():
    """A hot term in every doc (mostly tf=1, a few spikes) plus a
    selective rare term, encoded and decoded through the real codec: the
    dense kernel's top-k equals the per-doc brute-force sort exactly,
    scores included, for a k inside and beyond the candidate count."""
    import pandas as pd

    from searchengine_spark.operators.segments import _encode_group_frame
    from searchengine_spark.operators.wand import _Postings, _score_group

    rng = np.random.default_rng(0)
    n_docs = 60_000
    avgdl = 30.0
    # hot term: every doc, mostly tf=1 with a few high-tf spikes
    tf_hot = np.ones(n_docs, np.int64)
    tf_hot[rng.integers(0, n_docs, 200)] = rng.integers(5, 30, 200)
    # selective term: 500 docs, varied tf
    sel_docs = np.sort(rng.choice(n_docs, 500, replace=False)).astype(np.int64)
    tf_sel = rng.integers(1, 20, 500).astype(np.int64)
    dl = rng.integers(5, 60, n_docs).astype(np.int64)
    pdf = pd.DataFrame(
        {
            "term": ["hot", "sel"],
            "doc_arr": [np.arange(n_docs, dtype=np.int64), sel_docs],
            "tf_arr": [tf_hot, tf_sel],
            "dl_arr": [dl, dl[sel_docs]],
        }
    )
    encoded = _encode_group_frame(pdf, ["term"], avgdl)
    postings = [_Postings.decode(r) for r in encoded.itertuples(index=False)]
    qf = {"hot": 1.0, "sel": 2.0}
    # idf: hot ~ stopword (low), sel ~ rare (high)
    idf = {"hot": 0.05, "sel": 5.0}
    for k in (10, n_docs + 7):
        docs, scores = _score_group(postings, qf, idf, avgdl, k)
        got = list(zip(docs.tolist(), scores.tolist()))
        assert got == _brute_topk(postings, qf, idf, avgdl, k)
    assert len(got) == n_docs


# doc ids: a dense run plus a few far ids, so some groups span more than
# the dense-accumulator cap and take the distinct-docs path
_POOL = list(range(24)) + [(1 << 23) + j for j in range(3)]


@st.composite
def _kernel_case(draw):
    terms = draw(st.lists(st.sampled_from(["a", "b", "c"]), unique=True,
                          max_size=3))
    dl = {d: draw(st.integers(1, 4)) for d in _POOL}   # few values: ties
    rows = []
    for t in terms:
        docs = sorted(draw(st.sets(st.sampled_from(_POOL), max_size=12)))
        # doc-disjoint salted rows of one term: hash-like interleaving
        n_salts = draw(st.integers(1, 3))
        for salt in range(n_salts):
            part = np.array([d for d in docs if d % n_salts == salt], np.int64)
            tfs = np.array([draw(st.integers(1, 3)) for _ in part], np.int64)
            rows.append((t, part, tfs,
                         np.array([dl[d] for d in part.tolist()], np.int64)))
    qf = {t: float(draw(st.integers(1, 3))) for t in terms}
    idf = {t: draw(st.sampled_from([0.5, 1.25, 2.0])) for t in terms}
    dead = frozenset(draw(st.sets(st.sampled_from(_POOL), max_size=6)))
    k = draw(st.integers(1, len(_POOL) + 3))
    perm = draw(st.permutations(range(len(rows))))
    return rows, qf, idf, dead, k, perm


@settings(max_examples=300, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(_kernel_case())
def test_dense_kernel_matches_bruteforce(case):
    """Property: the dense kernel equals a brute-force (score desc,
    doc_id asc) sort bit for bit — duplicate docs with tied scores,
    doc-disjoint salted rows of one term, qf > 1, tombstones, k beyond
    the candidate count, empty groups — and a shuffled row arrival order
    gives bit-identical output (the shuffle-arrival property)."""
    from searchengine_spark.functions.bitmap import DocIdBitmap
    from searchengine_spark.operators.wand import _Postings, _score_group

    rows, qf, idf, dead, k, perm = case
    avgdl = 2.5
    postings = [_Postings(*r) for r in rows]
    exclude = DocIdBitmap(dead) if dead else None
    docs, scores = _score_group(postings, qf, idf, avgdl, k, exclude)
    assert list(zip(docs.tolist(), scores.tolist())) == \
        _brute_topk(rows, qf, idf, avgdl, k, dead)
    d2, s2 = _score_group([postings[i] for i in perm], qf, idf, avgdl, k,
                          exclude)
    assert d2.tobytes() == docs.tobytes() and s2.tobytes() == scores.tobytes()


def test_reference_query_set_batch_agreement(spark, index, backends):
    """FIXTURES.md §2 reference query set (100 queries: hot / rare /
    absent / duplicate-term / mixed) — batch WAND vs exhaustive batch,
    rank-identical across the whole set in one pass each, on both
    backends."""
    from searchengine_spark.operators.topk import batch_topk
    from searchengine_spark.sources.synth import queries_pdf

    qpdf = queries_pdf(100)
    qs = [(int(i), q) for i, q in zip(qpdf["query_id"], qpdf["query"])]
    got = _served_batch(backends, qs, 5)
    qdf = spark.createDataFrame(qs, "query_id int, query string")
    want = batch_topk(qdf, index.tf_table, index.term_stats,
                      index.scalars, k=5).collect()
    g = sorted((r.query_id, r.rank, r.doc_id, r.score) for r in got)
    e = sorted((r.query_id, r.rank, r.doc_id, r.score) for r in want)
    assert [x[:3] for x in g] == [x[:3] for x in e]
    for a, b in zip(g, e):
        assert a[3] == pytest.approx(b[3], rel=1e-9)


def test_fused_ingest_equals_legacy_path(spark, small, index):
    """The fused mapInPandas ingest (production) must produce exactly the
    tf table of the legacy operators (assign_doc_ids -> build_forward ->
    explode_forward), which are themselves oracle-checked against the
    pure-Python reference semantics and DuckDB. Closes the loop so the
    fused tokenizer re-implementation can never drift."""
    from searchengine_spark.operators.docids import assign_doc_ids
    from searchengine_spark.operators.forward import build_forward, explode_forward

    legacy = explode_forward(build_forward(assign_doc_ids(small, num_partitions=3)))
    assert _tf_set(index.tf_table) == _tf_set(legacy)


def test_term_stats_from_segments_equals_postings_agg(index):
    """The segment rows' (n, cf) are a sufficient statistic: aggregating
    them reproduces build_term_stats over the full tf table exactly, for
    BOTH layouts (this is what lets the pipeline skip a second corpus
    pass — pipeline.run_build stats stage)."""
    from searchengine_spark.operators.forward import (
        build_term_stats,
        term_stats_from_segments,
    )

    want = {(r["term"], r["df"], r["cf"])
            for r in build_term_stats(index.tf_table).collect()}
    for segs in (index.doc_segments, index.term_segments):
        got = {(r["term"], r["df"], r["cf"])
               for r in term_stats_from_segments(segs).collect()}
        assert got == want


def test_wand_topk_terms_matches_exhaustive(spark, small):
    """Term-partitioned WAND (merged/incremental layout): salted
    doc-disjoint rows of a hot term feed one cursor each; full ranking
    must equal exhaustive scoring, with and without tombstones."""
    from searchengine_spark.build import build_index
    from searchengine_spark.operators.merge import merge_term_segments
    from searchengine_spark.operators.topk import score_topk
    from searchengine_spark.operators.wand import wand_topk_terms

    idx = build_index(small, df_target=64, layouts=("term",))  # forces salts
    q = "bababa zumuqi"

    def ranked(df, k=40):
        return [(int(r.doc_id), round(float(r.score), 9)) for r in
                df.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
                .collect()]

    exh = ranked(score_topk(idx.tf_table, idx.term_stats, idx.scalars, q, k=40))
    got = ranked(wand_topk_terms(idx.term_segments, q, idx.term_stats,
                                 idx.scalars.n_docs, idx.scalars.avgdl,
                                 k=40))
    assert got == exh and got

    # over a MERGED table (the incremental serving path) + tombstones
    merged = merge_term_segments([(idx.term_segments, 0)],
                                 avgdl_merged=idx.scalars.avgdl,
                                 df_target=64)
    dead = {d for d, _ in got[:3]}
    got_m = ranked(wand_topk_terms(merged, q, idx.term_stats,
                                   idx.scalars.n_docs, idx.scalars.avgdl,
                                   k=40, exclude=dead))
    want = [e for e in exh if e[0] not in dead]
    assert got_m[: len(want)] == want and got_m


def test_wand_topk_terms_parallel_groups(spark, small):
    """The term-layout WAND re-shards query postings by doc range, so the
    grouped stage runs one task PER RANGE (round 2 ran the whole query in
    one groupBy(lit(0)) task). Rankings must be identical at any group
    count, and the plan must show a real hash exchange on the range key."""
    import contextlib
    import io

    from searchengine_spark.build import build_index
    from searchengine_spark.operators.topk import score_topk
    from searchengine_spark.operators.wand import wand_topk_terms

    idx = build_index(small, df_target=64, layouts=("term",))
    q = "bababa zumuqi"

    def ranked(df, k=40):
        return [(int(r.doc_id), round(float(r.score), 9)) for r in
                df.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
                .collect()]

    exh = ranked(score_topk(idx.tf_table, idx.term_stats, idx.scalars,
                            q, k=40))
    by_groups = {}
    for n_groups in (1, 4, 16):
        df = wand_topk_terms(idx.term_segments, q, idx.term_stats,
                             idx.scalars.n_docs, idx.scalars.avgdl,
                             k=40, n_groups=n_groups)
        by_groups[n_groups] = ranked(df)
        assert by_groups[n_groups] == exh
    # plan: the grouped stage is keyed by the doc-range column, not lit(0)
    df = wand_topk_terms(idx.term_segments, q, idx.term_stats,
                         idx.scalars.n_docs, idx.scalars.avgdl,
                         k=40, n_groups=8)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    plan = buf.getvalue()
    assert "hashpartitioning(g" in plan
