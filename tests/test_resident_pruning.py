"""The resident index's impact-scored, MaxScore-pruned scorer
(operators/wand.py ``ResidentIndex``) against the unpruned per-shard dense
kernel of the Spark plan (``_score_group``), bit for bit. No Spark: the
segment table is encoded with the real encoder and handed to the
constructor as Arrow."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import HealthCheck, event, given, settings, target
from hypothesis import strategies as st

from searchengine_spark.functions.bitmap import DocIdBitmap
from searchengine_spark.operators import wand
from searchengine_spark.operators.segments import _encode_group_frame, idf_np

_TERMS = ["alpha", "bravo", "charlie", "delta", "echo"]
_COLS = ["shard", "term", "n", "codec", "doc_gaps", "tfs", "dls"]


def _segments(postings: dict[str, tuple], n_shards: int, n_docs: int,
              avgdl: float) -> pa.Table:
    """Doc-sharded segment rows (one per (shard, term)) of ``postings``:
    term -> (docs, tfs, dls), docs ascending."""
    size = -(-n_docs // n_shards)
    rows = []
    for term, (docs, tfs, dls) in postings.items():
        for s in range(n_shards):
            m = (docs // size) == s
            if m.any():
                rows.append({"shard": s, "term": term, "doc_arr": docs[m],
                             "tf_arr": tfs[m], "dl_arr": dls[m]})
    enc = _encode_group_frame(pd.DataFrame(rows), ["shard", "term"], avgdl)
    return pa.Table.from_pandas(enc[_COLS], preserve_index=False)


def _reference(table: pa.Table, qf, df, n_docs, avgdl, k, exclude):
    """The Spark plan's scoring: per shard, the dense kernel over the
    shard's decoded rows; then the (score desc, doc_id asc) merge."""
    idf = {t: idf_np(df[t], n_docs) for t in qf if df.get(t, 0) > 0}
    groups: dict[int, list] = {}
    for r in table.to_pylist():
        if r["term"] in idf:
            groups.setdefault(r["shard"], []).append(
                wand._Postings.decode(type("Row", (), r)))
    parts = [wand._score_group(g, qf, idf, avgdl, k, exclude)
             for g in groups.values()]
    docs = np.concatenate([np.zeros(0, np.int64), *(d for d, _ in parts)])
    scores = np.concatenate([np.zeros(0), *(s for _, s in parts)])
    order = np.lexsort((docs, -scores))[:k]
    return docs[order], scores[order]


@st.composite
def _case(draw):
    n_docs = draw(st.integers(1, 320))
    n_shards = draw(st.integers(1, 4))
    seed = draw(st.integers(0, 2**32 - 1))
    rng = np.random.default_rng(seed)
    postings = {}
    for term in _TERMS[:draw(st.integers(1, len(_TERMS)))]:
        # common terms (low idf, the ones MaxScore skips) and rare ones
        density = draw(st.sampled_from([0.02, 0.1, 0.3, 0.6, 0.9, 1.0]))
        docs = np.flatnonzero(rng.random(n_docs) < density).astype(np.int64)
        if not len(docs):
            continue
        # few tf / dl values: impacts, theta and k-th scores tie often
        tfs = rng.integers(1, draw(st.sampled_from([2, 3, 6])), len(docs))
        dls = rng.integers(1, draw(st.sampled_from([2, 4])), len(docs))
        postings[term] = (docs, tfs.astype(np.int64), dls.astype(np.int64))
    words = draw(st.lists(st.sampled_from(_TERMS + ["zulu"]), min_size=1,
                          max_size=7))       # repeats: qf > 1; zulu: OOV
    dead = draw(st.sets(st.integers(0, max(n_docs - 1, 0)), max_size=8)) \
        if draw(st.integers(0, 3)) == 0 else set()
    k = draw(st.one_of(
        st.integers(1, 3), st.integers(1, 12),
        st.sampled_from([wand._IMPACT_DEPTH - 1, wand._IMPACT_DEPTH,
                         wand._IMPACT_DEPTH + 1, 400])))
    return postings, n_shards, n_docs, " ".join(words), dead, k


@settings(max_examples=250, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(_case())
def test_pruned_scorer_matches_dense_kernel(case):
    """Property: the resident scorer's top-k equals the per-shard dense
    kernel's, doc ids and float bits — ties at theta and at the k-th
    score, qf > 1, single-term and all-OOV queries, k beyond the
    candidates and beyond the impact depth, tombstones — and a shuffled
    term order in the query string changes nothing."""
    postings, n_shards, n_docs, query, dead, k = case
    avgdl = 2.5
    if not postings:
        return
    table = _segments(postings, n_shards, n_docs, avgdl)
    df = {t: len(p[0]) for t, p in postings.items()}
    res = wand.ResidentIndex(table, df, n_docs, avgdl)
    exclude = DocIdBitmap(dead) if dead else None
    qf = wand.query_qf(query)
    counts = dict.fromkeys(wand._COUNTS, 0)
    docs, scores = res._topk(qf, k, exclude, counts)
    want_d, want_s = _reference(table, qf, df, n_docs, avgdl, k, exclude)
    assert docs.tobytes() == want_d.tobytes()
    assert scores.tobytes() == want_s.tobytes()
    assert counts["scored"] <= counts["postings"]
    event(f"terms skipped: {min(counts['terms_skipped'], 2)}")
    target(counts["terms_skipped"])
    shuffled = wand.query_qf(" ".join(reversed(query.split())))
    d2, s2 = res._topk(shuffled, k, exclude, dict.fromkeys(wand._COUNTS, 0))
    assert d2.tobytes() == docs.tobytes() and s2.tobytes() == scores.tobytes()


def test_pruning_skips_common_terms_and_counts():
    """A rare term and a term in every doc: the common term cannot lift a
    doc into the top 10 alone, so it is skipped, only the rare term's
    docs are candidates, and the counters say so — with the same rows as
    the dense kernel. With tombstones nothing is skipped."""
    n_docs, avgdl = 2_000, 3.0
    rng = np.random.default_rng(7)
    rare = np.sort(rng.choice(n_docs, 60, replace=False)).astype(np.int64)
    every = np.arange(n_docs, dtype=np.int64)
    postings = {
        "alpha": (rare, rng.integers(1, 4, 60), rng.integers(1, 6, 60)),
        "bravo": (every, rng.integers(1, 4, n_docs),
                  rng.integers(1, 6, n_docs)),
    }
    table = _segments(postings, 3, n_docs, avgdl)
    df = {"alpha": 60, "bravo": n_docs}
    res = wand.ResidentIndex(table, df, n_docs, avgdl)
    qf = wand.query_qf("bravo alpha")
    for exclude, skipped in ((None, 1), (DocIdBitmap(rare[:5].tolist()), 0)):
        counts = dict.fromkeys(wand._COUNTS, 0)
        docs, scores = res._topk(qf, 10, exclude, counts)
        want_d, want_s = _reference(table, qf, df, n_docs, avgdl, 10, exclude)
        assert docs.tobytes() == want_d.tobytes()
        assert scores.tobytes() == want_s.tobytes()
        assert counts["postings"] == 60 + n_docs
        assert counts["terms_skipped"] == skipped
        if skipped:
            assert counts["candidates"] == 60
            assert counts["scored"] == 120   # rare's 60 + 60 looked up
        else:
            assert counts["scored"] == 60 + n_docs


@pytest.mark.parametrize("shuffle", [False, True])
def test_build_sorts_rows_out_of_doc_order(shuffle):
    """Rows of one term whose docs are not ascending in (term, shard)
    order are put in doc order at build, so lookups by doc stay exact."""
    n_docs, avgdl = 300, 2.0
    rng = np.random.default_rng(3)
    docs = np.sort(rng.choice(n_docs, 200, replace=False)).astype(np.int64)
    postings = {"alpha": (docs, rng.integers(1, 3, 200),
                          rng.integers(1, 4, 200)),
                "bravo": (docs[::3], rng.integers(1, 3, len(docs[::3])),
                          rng.integers(1, 4, len(docs[::3])))}
    table = _segments(postings, 3, n_docs, avgdl)
    if shuffle:
        # relabel shards so (term, shard) order is not doc order
        table = table.set_column(0, "shard", pa.array(
            [2 - s for s in table.column("shard").to_pylist()], pa.int32()))
    df = {"alpha": 200, "bravo": len(docs[::3])}
    res = wand.ResidentIndex(table, df, n_docs, avgdl)
    for i in res.vocab.values():
        d = res.docs[res.t_start[i]:res.t_start[i + 1]]
        assert (np.diff(d) > 0).all()
    qf = wand.query_qf("alpha bravo bravo")
    docs_, scores = res._topk(qf, 5, None, dict.fromkeys(wand._COUNTS, 0))
    want_d, want_s = _reference(table, qf, df, n_docs, avgdl, 5, None)
    assert docs_.tobytes() == want_d.tobytes()
    assert scores.tobytes() == want_s.tobytes()
