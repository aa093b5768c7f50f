"""Unit tests for the benchmark's own arithmetic and oracle. No Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import numpy as np
import pytest

from measure import Tally, percentile, self_time
from oracle import build_oracle, compare_build, compare_topk, idf, tokenize
from tracing import steal_share
from workloads import OOV_EVERY, Window, draw_block, make_queries, tier_slots


# -- percentile rule ------------------------------------------------------

def test_percentile_needs_ten_samples_beyond():
    assert percentile(list(range(100)), 90) == 89.0  # 10 samples beyond
    assert percentile(list(range(99)), 90) is None  # only 9 beyond
    assert percentile(list(range(1000)), 99) == 989.0
    assert percentile([], 50) is None


# -- span self-time --------------------------------------------------------

def test_self_time_subtracts_children():
    assert self_time(0.0, 10.0, []) == 10.0
    assert self_time(0.0, 10.0, [(1.0, 3.0), (5.0, 6.0)]) == 7.0


def test_self_time_counts_overlap_once_and_clips():
    # overlapping children cover [1, 4] once; a child past the end is clipped
    assert self_time(0.0, 10.0, [(1.0, 3.0), (2.0, 4.0)]) == 7.0
    assert self_time(0.0, 10.0, [(8.0, 12.0), (-2.0, 1.0)]) == 7.0
    assert self_time(0.0, 10.0, [(0.0, 10.0), (3.0, 4.0)]) == 0.0
    assert self_time(0.0, 10.0, [(11.0, 12.0)]) == 10.0


# -- steal share and the wall metrics -------------------------------------

def test_steal_share():
    assert steal_share((100, 10), (190, 40)) == 0.25  # 30 of 120 ticks stolen
    assert steal_share((100, 10), (100, 10)) == 0.0


def test_window_takes_the_stolen_share_out_of_walls():
    w = Window(walls=[1.0, 2.0, 4.0], steal=[0.5, 0.0, 0.25], queries=6,
               start=0.0, end=8.0, window_steal=0.25, cpu_s=3.0)
    m = w.metrics()
    assert m["call_p50_ms"] == 2000.0  # median of 0.5, 2.0, 3.0 s
    assert m["queries_per_s"] == 1.0  # 6 queries in 8 s * (1 - 0.25)
    assert m["cpu_ms_per_query"] == 500.0


# -- query make-up ---------------------------------------------------------

def test_tier_slots_follow_the_weights_and_fill_the_block():
    assert tier_slots([0.64, 0.29, 0.07], 100) == [64, 29, 7]
    assert tier_slots([1, 1, 1], 100) == [34, 33, 33]  # largest remainder
    assert tier_slots([6380, 2880, 740], 20) == [13, 6, 1]


def test_draw_block_rounds_each_terms_expected_count():
    strata = [(["a", "b", "c"], np.array([6.0, 3.0, 1.0])), (["x", "y"], np.array([1.0, 1.0]))]
    for seed in range(20):
        block = draw_block(strata, [10, 5], np.random.default_rng(seed))
        n = {t: block.count(t) for t in "abcxy"}
        assert (n["a"], n["b"], n["c"]) == (6, 3, 1)
        assert sorted((n["x"], n["y"])) == [2, 3]


def test_queries_have_their_shape_and_follow_the_seed():
    o = build_oracle([f"c{i}" for i in range(40)], [0] * 40,
                     [" ".join(["the"] * (1 + i % 3) + [f"w{chr(97 + i % 26)}x"])
                      for i in range(40)])
    qs = make_queries(o, 7, 1, 40)
    assert qs == make_queries(o, 7, 1, 40)
    assert qs != make_queries(o, 8, 1, 40)
    for i, q in enumerate(qs):
        terms = tokenize(q)
        oov = [t for t in terms if t not in o.df]
        assert len(oov) == (i % OOV_EVERY == OOV_EVERY - 1)
        assert len(terms) == max(1 + i % 4, 1 + len(oov))
        assert len(terms) > len(oov)


# -- failure counting ------------------------------------------------------

def test_tally_counts_failures_against_attempts():
    t = Tally()
    t.record("a", None)
    t.record("b", "rank 1: doc 3, oracle doc 4")
    t.record("c", None)
    assert (t.attempted, t.failed) == (3, 1)
    assert t.reasons == ["b: rank 1: doc 3, oracle doc 4"]


def test_compare_topk_failures():
    scores = np.array([0.0, 3.0, 2.0, 2.0 * (1 + 1e-12), 1.0])
    want = [(1, 3.0), (3, scores[3]), (2, 2.0)]  # oracle order
    assert compare_topk(want, scores, want) is None
    # docs 2 and 3 lie within the tolerance: either order passes
    assert compare_topk([(1, 3.0), (2, 2.0), (3, scores[3])], scores, want) is None
    # a wrong doc, a wrong score, a short list, a repeated doc all fail
    assert compare_topk([(1, 3.0), (4, 2.0), (2, 2.0)], scores, want)
    assert compare_topk([(1, 3.0), (3, 2.1), (2, 2.0)], scores, want)
    assert compare_topk([(1, 3.0), (3, scores[3])], scores, want)
    assert compare_topk([(1, 3.0), (3, scores[3]), (3, scores[3])], scores, want)


# -- oracle tokenizer ------------------------------------------------------

@pytest.mark.parametrize("text,want", [
    ("don't", ["don", "t"]),
    ("café", []),
    ("café au lait", ["au", "lait"]),
    ("abc123def", ["abc", "def"]),
    ("a" * 20, ["a" * 20]),
    ("a" * 21, []),
    ("pneumonoultramicroscopicsilicovolcanoconiosis ok", ["ok"]),
    ("Upper CASE", ["upper", "case"]),
    ("a-b_c", ["a", "b", "c"]),
    ("naïve x", ["x"]),
    ("", []),
    (None, []),
])
def test_tokenizer_edge_cases(text, want):
    assert tokenize(text) == want


# -- oracle statistics and ranking ----------------------------------------

def _tiny():
    return build_oracle(
        ["c1", "c0", "c0"], [0, 1, 0],
        ["beta gamma", "alpha beta beta", "alpha don't"])


def test_oracle_orders_docs_and_counts():
    o = _tiny()
    assert o.texts == ["alpha don't", "alpha beta beta", "beta gamma"]
    assert (o.n_docs, o.sum_dl) == (3, 8)
    assert o.df == {"alpha": 2, "don": 1, "t": 1, "beta": 2, "gamma": 1}
    assert o.cf["beta"] == 3
    assert o.lexicon()[:2] == ["alpha", "beta"]


def test_oracle_bm25_matches_formula():
    o = _tiny()
    s = o.scores("beta")
    avgdl = 8 / 3
    w = lambda tf, dl: idf(2, 3) * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))  # noqa: E731
    assert s[1] == pytest.approx(w(2, 3), rel=1e-15)
    assert s[2] == pytest.approx(w(1, 2), rel=1e-15)
    assert s[0] == 0.0
    assert o.topk(s, 10) == [(1, s[1]), (2, s[2])]
    # query-term repeats multiply the weight; unknown terms add nothing
    assert o.scores("beta beta zzz")[1] == pytest.approx(2 * s[1], rel=1e-15)


def test_compare_build_finds_each_kind_of_difference():
    o = _tiny()
    stats = {t: (o.df[t], o.cf[t]) for t in o.df}
    store = [(i, o.conv_ids[i], o.turn_idxs[i], o.texts[i]) for i in range(3)]
    assert compare_build(o, 3, 8, stats, store) is None
    assert "N" in compare_build(o, 4, 8, stats, store)
    assert "sum_dl" in compare_build(o, 3, 9, stats, store)
    assert "beta" in compare_build(o, 3, 8, {**stats, "beta": (2, 4)}, store)
    assert "lexicon" in compare_build(o, 3, 8, {**stats, "zeta": (1, 1)}, store)
    bad = store[:2] + [(2, "c1", 0, "beta  gamma")]
    assert "text" in compare_build(o, 3, 8, stats, bad)
    swapped = [(1, "c0", 0, o.texts[0]), (0, "c0", 1, o.texts[1]), store[2]]
    assert "row 0" in compare_build(o, 3, 8, stats, swapped)
