"""Document deletion (operators/deletes.py + engine tombstones/purge).

The pinned contract (deletes.py module docstring):

    search(purged index) == search(original index, exclude=tombstones)
                         == exhaustive BM25 with build-time stats over
                            the corpus minus the deleted docs
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from searchengine_spark.engine import SearchEngine
from searchengine_spark.operators.deletes import (
    affected_shards,
    purge_doc_segments,
    shard_size_for,
)
from searchengine_spark.operators.segments import segments_to_tf
from searchengine_spark.pipeline import run_build

N_SHARDS = 4
QUERY = "bababa zumuqi"


def _ranked(df):
    return [(int(r.doc_id), round(float(r.score), 9))
            for r in df.orderBy(F.desc("score"), F.asc("doc_id")).collect()]


@pytest.fixture(scope="module")
def built(spark, small, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("delidx"))
    run_build(spark, small, out, num_doc_partitions=3, layouts=("doc",),
              n_shards=N_SHARDS)
    return out


@pytest.fixture()
def eng(spark, built):
    e = SearchEngine.load(spark, built)
    p = os.path.join(built, "tombstones.json")
    if os.path.exists(p):
        os.remove(p)
    return e


def _victims(eng, k=3):
    """Delete docs that actually occupy the baseline top-k, so masking
    must promote new docs into the result."""
    return [d for d, _ in _ranked(eng.search(QUERY, k=k))]


def test_mask_excludes_and_refills(eng):
    baseline = _ranked(eng.search(QUERY, k=10))
    dead = _victims(eng)
    eng.delete_docs(dead)
    got = _ranked(eng.search(QUERY, k=10))
    assert not set(dead) & {d for d, _ in got}
    assert len(got) == 10  # refilled from the next-best live docs
    # identical to exhaustive scoring with the same (pinned) stats over
    # the live docs — scores of survivors unchanged
    exh = _ranked(eng.search(QUERY, k=10, mode="exhaustive"))
    assert got == exh
    surviving_baseline = [e for e in baseline if e[0] not in set(dead)]
    assert got[: len(surviving_baseline)] == surviving_baseline


def test_tombstones_persist_and_accumulate(eng, spark, built):
    eng.delete_docs([1, 2])
    eng.delete_docs([2, 5])
    assert eng.tombstones() == frozenset({1, 2, 5})
    fresh = SearchEngine.load(spark, built)
    assert fresh.tombstones() == frozenset({1, 2, 5})


def test_purge_physical_and_rank_identical(eng):
    dead = _victims(eng)
    eng.delete_docs(dead)
    masked = _ranked(eng.search(QUERY, k=10))

    before = {r.shard for r in eng.doc_segments.select("shard").distinct()
              .collect()}
    sz = shard_size_for(eng.scalars.n_docs, N_SHARDS)
    untouched_before = eng.doc_segments.filter(
        ~F.col("shard").isin(list(affected_shards(set(dead), sz)))
    ).collect()

    n = eng.purge_deleted(n_shards=N_SHARDS)
    assert n == len(dead)
    assert eng.tombstones() == frozenset()

    # physically gone from the decoded postings and the doc store
    live = segments_to_tf(eng.doc_segments)
    assert live.filter(F.col("doc_id").isin(dead)).count() == 0
    assert eng.doc_map.filter(F.col("doc_id").isin(dead)).count() == 0

    # untouched shards pass through value-identical
    untouched_after = eng.doc_segments.filter(
        ~F.col("shard").isin(list(affected_shards(set(dead), sz)))
    ).collect()
    assert sorted(map(repr, untouched_after)) == \
        sorted(map(repr, untouched_before))
    assert {r.shard for r in eng.doc_segments.select("shard").distinct()
            .collect()} <= before

    # the core identity: purged-index search == tombstone-masked search
    assert _ranked(eng.search(QUERY, k=10)) == masked


def test_purge_operator_composes_with_exclude(spark, eng):
    """purge_doc_segments == wand exclude, checked at the operator level
    over the full ranking (not just top-10)."""
    from searchengine_spark.operators.wand import wand_topk

    dead = set(_victims(eng))
    sz_args = dict(n_docs=eng.scalars.n_docs, avgdl=eng.scalars.avgdl)
    purged = purge_doc_segments(eng.doc_segments, dead,
                                eng.scalars.n_docs, eng.scalars.avgdl,
                                n_shards=N_SHARDS)
    a = _ranked(wand_topk(purged, QUERY, eng.term_stats, k=50, **sz_args))
    b = _ranked(wand_topk(eng.doc_segments, QUERY, eng.term_stats, k=50,
                          exclude=dead, **sz_args))
    assert a == b and a


def test_batch_and_fetch_respect_tombstones(eng):
    dead = _victims(eng)
    base = {(r.query_id, r.rank): r.doc_id
            for r in eng.search_batch([(0, QUERY)], k=10).collect()}
    eng.delete_docs(dead)
    got = eng.search_batch([(0, QUERY)], k=10).collect()
    assert len(got) == 10
    assert not set(dead) & {r.doc_id for r in got}
    # survivors keep their relative order from the pre-delete batch
    surv = [d for (_, _), d in sorted(base.items()) if d not in set(dead)]
    assert [r.doc_id for r in sorted(got, key=lambda r: r.rank)][:len(surv)] \
        == surv
    # doc-store: deleted docs are not served
    assert eng.fetch(dead).count() == 0


def _resident(eng):
    from searchengine_spark.operators.wand import resident_for

    return resident_for(eng.doc_segments, eng.term_stats,
                        eng.scalars.n_docs, eng.scalars.avgdl)


def test_resident_copy_never_stale(spark, small, tmp_path_factory):
    """The driver-resident copy of the doc segments never serves a stale
    index: (a) a delete made after the first query is honoured by the
    next one, single and batch (tombstones are read per call, never baked
    into the copy); (b) purge_deleted, which rewrites the segments and
    clears tombstones.json, is followed by a rebuilt copy — the old
    arrays still hold the purged docs, and with the mask gone they would
    rank again."""
    out = str(tmp_path_factory.mktemp("delidx_resident"))
    run_build(spark, small, out, num_doc_partitions=3, layouts=("doc",),
              n_shards=N_SHARDS)
    eng = SearchEngine.load(spark, out)
    before = _ranked(eng.search(QUERY, k=10))
    assert eng.last_search_mode == "resident"
    copy = _resident(eng)
    dead = [d for d, _ in before[:3]]

    eng.delete_docs(dead)
    masked = _ranked(eng.search(QUERY, k=10))
    assert eng.last_search_mode == "resident" and _resident(eng) is copy
    assert not set(dead) & {d for d, _ in masked} and len(masked) == 10
    assert masked == _ranked(eng.search(QUERY, k=10, mode="exhaustive"))
    batch = eng.search_batch([(0, QUERY)], k=10).collect()
    assert [(r.doc_id, round(r.score, 9))
            for r in sorted(batch, key=lambda r: r.rank)] == masked

    eng.purge_deleted(n_shards=N_SHARDS)
    assert eng.tombstones() == frozenset()
    assert _ranked(eng.search(QUERY, k=10)) == masked
    assert eng.last_search_mode == "resident" and copy is not None \
        and _resident(eng) is not copy
    batch = eng.search_batch([(0, QUERY)], k=10).collect()
    assert not set(dead) & {r.doc_id for r in batch}


def test_compact_applies_tombstones(spark, small, tmp_path_factory):
    """Incremental-index compaction drops tombstoned docs during the
    merge (Lucene model): merged == merge-of-live-docs, and the dropped
    ids are absent from the decoded postings."""
    from searchengine_spark.build import build_index
    from searchengine_spark.operators.merge import merge_term_segments

    idx = build_index(small, df_target=500, layouts=("term",))
    dead = {3, 7, 11}
    merged = merge_term_segments([(idx.term_segments, 0)],
                                 avgdl_merged=idx.scalars.avgdl,
                                 df_target=500, tombstones=dead)
    live_tf = segments_to_tf(merged)
    assert live_tf.filter(F.col("doc_id").isin(list(dead))).count() == 0
    # everything else survives exactly
    orig_tf = segments_to_tf(idx.term_segments) \
        .filter(~F.col("doc_id").isin(list(dead)))
    a = sorted(map(tuple, live_tf.collect()))
    b = sorted(map(tuple, orig_tf.collect()))
    assert a == b and a


def test_phrase_and_near_respect_tombstones(eng):
    row = eng.doc_map.select("doc_id", "text").first()
    toks = [t.lower() for t in row["text"].split() if t.isalpha()]
    phrase = f"{toks[0]} {toks[1]}"
    before = {r.doc_id for r in eng.search_phrase(phrase, k=50).collect()}
    assert before, "fixture phrase must hit"
    victim = min(before)
    eng.delete_docs([victim])
    after = {r.doc_id for r in eng.search_phrase(phrase, k=50).collect()}
    assert victim not in after
    # removing a doc only moves others up: every other hit survives,
    # and the freed slot may refill with a new doc
    assert (before - {victim}) <= after
    near_after = {r.doc_id
                  for r in eng.search_near(toks[0], toks[1], window=3,
                                           k=50).collect()}
    assert victim not in near_after


def test_purge_covers_every_layout(spark, small, tmp_path_factory):
    """Regression: purge_deleted used to rewrite ONLY the doc layout and
    then clear the tombstone file — a term or positional layout would
    serve the deleted docs again the moment the mask disappeared. Purge
    must leave EVERY persisted layout clean before dropping the mask."""
    out = str(tmp_path_factory.mktemp("delidx_multi"))
    run_build(spark, small, out, num_doc_partitions=3,
              layouts=("doc", "term", "pos"), n_shards=N_SHARDS)
    eng = SearchEngine.load(spark, out)
    assert eng.term_segments is not None and eng.pos_postings is not None

    dead = _victims(eng)
    eng.delete_docs(dead)
    masked_term = _ranked(eng.search(QUERY, k=10, mode="term"))
    row = eng.doc_map.filter(~F.col("doc_id").isin(dead)) \
        .select("text").first()
    toks = [t.lower() for t in row["text"].split() if t.isalpha()]
    phrase = f"{toks[0]} {toks[1]}"
    masked_phrase = _ranked(eng.search_phrase(phrase, k=10))

    n = eng.purge_deleted(n_shards=N_SHARDS)
    assert n == len(dead) and eng.tombstones() == frozenset()

    # physically gone from every layout
    assert segments_to_tf(eng.doc_segments) \
        .filter(F.col("doc_id").isin(dead)).count() == 0
    assert segments_to_tf(eng.term_segments) \
        .filter(F.col("doc_id").isin(dead)).count() == 0
    assert eng.pos_postings.filter(F.col("doc_id").isin(dead)).count() == 0
    assert eng.doc_map.filter(F.col("doc_id").isin(dead)).count() == 0

    # the pinned identity, per layout: purged == tombstone-masked
    assert _ranked(eng.search(QUERY, k=10, mode="term")) == masked_term
    assert _ranked(eng.search_phrase(phrase, k=10)) == masked_phrase
    assert not set(dead) & {d for d, _ in masked_term}


# -- broadcast tombstone bitmap (functions/bitmap.py) -------------------------

def test_bitmap_membership_and_mask():
    import numpy as np

    from searchengine_spark.functions.bitmap import DocIdBitmap

    bm = DocIdBitmap([5, 7, 64, 65, 1000])
    assert len(bm) == 5 and bm
    assert all(d in bm for d in (5, 7, 64, 65, 1000))
    assert all(d not in bm for d in (0, 4, 6, 63, 66, 999, 1001, -3))
    got = bm.mask(np.array([4, 5, 6, 64, 2000, -1]))
    assert got.tolist() == [False, True, False, True, False, False]
    empty = DocIdBitmap([])
    assert not empty and len(empty) == 0 and 5 not in empty

    # sparse id spaces must refuse the dense allocation loudly
    with pytest.raises(ValueError, match="span"):
        DocIdBitmap([0, 1 << 40])


def test_wand_exclude_forms_identical(eng, spark):
    """set, DataFrame-of-ids, and prebuilt DocIdBitmap excludes must all
    produce the identical masked ranking (wand.py normalizes every form
    into one broadcast bitmap — nothing corpus-sized rides the closure)."""
    from searchengine_spark.functions.bitmap import DocIdBitmap
    from searchengine_spark.operators.wand import (
        _exclude_broadcast,
        wand_topk,
    )

    dead = _victims(eng)
    base = wand_topk(eng.doc_segments, QUERY, eng.term_stats,
                     eng.scalars.n_docs, eng.scalars.avgdl, k=10,
                     exclude=set(dead))
    want = _ranked(base)
    assert want and not set(dead) & {d for d, _ in want}

    dead_df = spark.createDataFrame([(int(d),) for d in dead],
                                    "doc_id long")
    for form in (frozenset(dead), dead_df, DocIdBitmap(dead)):
        got = _ranked(wand_topk(eng.doc_segments, QUERY, eng.term_stats,
                                eng.scalars.n_docs, eng.scalars.avgdl,
                                k=10, exclude=form))
        assert got == want

    # the normalized object is a Broadcast of a DocIdBitmap
    b = _exclude_broadcast(spark, frozenset(dead))
    assert isinstance(b.value, DocIdBitmap)
    assert _exclude_broadcast(spark, None) is None
    assert _exclude_broadcast(spark, set()) is None


def test_wand_exclude_100k_tombstones(eng):
    """A delete set far larger than the corpus (~10^5 ids) ships as a
    packed broadcast bitmap measured in KB, and WAND stays rank-identical
    to the exhaustive path under the same mask."""
    from searchengine_spark.functions.bitmap import DocIdBitmap
    from searchengine_spark.operators.wand import wand_topk

    n_docs = eng.scalars.n_docs
    in_corpus = _victims(eng)
    # every 3rd id across [0, 3e5): ~1e5 tombstones, mostly past the corpus
    ids = list(range(0, 300_000, 3)) + list(in_corpus)
    bm = DocIdBitmap(ids)
    assert len(bm) >= 100_000
    assert bm.nbytes() <= 64 * 1024  # packed: 300k-bit span = ~37 KB

    got = _ranked(wand_topk(eng.doc_segments, QUERY, eng.term_stats,
                            n_docs, eng.scalars.avgdl, k=10, exclude=bm))
    eng.delete_docs([d for d in ids if d < n_docs])
    exh = _ranked(eng.search(QUERY, k=10, mode="exhaustive"))
    assert got == exh and got
    assert not {d for d, _ in got} & set(ids)


def test_exclude_tf_dataframe_form(eng, spark):
    """exclude_tf accepts a DataFrame of ids (cluster-scale form: a
    left_anti join, never driver-materialized) with identical semantics
    to the set form."""
    from searchengine_spark.operators.deletes import exclude_tf
    from searchengine_spark.operators.ingest import tf_from_doc_map

    dead = set(_victims(eng))
    tf = tf_from_doc_map(eng.doc_map)
    want = sorted(
        (int(r.doc_id), r.term, int(r.tf))
        for r in exclude_tf(tf, dead).collect())
    dead_df = spark.createDataFrame([(int(d),) for d in dead],
                                    "doc_id long")
    got = sorted(
        (int(r.doc_id), r.term, int(r.tf))
        for r in exclude_tf(tf, dead_df).collect())
    assert got == want and want


def test_new_scorer_modes_mask_tombstones(eng, spark):
    """search_lm / search_decayed / search_synonyms / search_bm25f all
    honor the tombstone mask: a deleted top doc disappears from each
    mode's results."""
    import time

    dead = _victims(eng, k=2)
    syn = spark.createDataFrame([("zumuqi", "bababa", 0.5)],
                                "term string, syn string, weight double")
    now = time.time() + 86400.0
    runs = {
        "lm": lambda: eng.search_lm(QUERY, k=10),
        "decayed": lambda: eng.search_decayed(QUERY, now_s=now, k=10),
        "synonyms": lambda: eng.search_synonyms(QUERY, syn, k=10),
        "bm25f": lambda: eng.search_bm25f(QUERY, k=10),
    }
    before = {name: _ranked(run()) for name, run in runs.items()}
    for name, rows in before.items():
        assert rows, f"{name} must hit before deletion"
    eng.delete_docs(dead)
    for name, run in runs.items():
        got = {d for d, _ in _ranked(run())}
        assert not got & set(dead), f"{name} leaked a tombstoned doc"


def test_filtered_and_count_mask_tombstones(eng):
    dead = _victims(eng, k=1)
    n_before = eng.count_hits(QUERY)
    field_val = eng.doc_map.filter(
        F.col("doc_id") == dead[0]).select("role").first()["role"]
    eng.delete_docs(dead)
    assert eng.count_hits(QUERY) == n_before - 1
    got = {d for d, _ in
           _ranked(eng.search_filtered(QUERY, "role", field_val, k=50))}
    assert dead[0] not in got
