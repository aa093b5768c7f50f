"""M5/M2 tests: segment sort-merge == fresh build; manifest resume skips
committed stages; index content is identical across partitioning choices
(the in-process proxy for the cross-cluster-size determinism contract)."""

from __future__ import annotations

import glob
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from searchengine_spark.build import build_index
from searchengine_spark.operators.merge import merge_term_segments
from searchengine_spark.operators.segments import segments_to_tf
from searchengine_spark.pipeline import read_manifest, run_build


def _tf_set(df):
    return set(map(tuple, df.select("term", "doc_id", "tf", "dl").collect()))


@pytest.fixture(scope="module")
def halves(spark, small):
    """Split the corpus into two conv-range halves whose concatenation in
    part order equals the global (conv_id, turn_idx) order."""
    convs = sorted(r["conv_id"] for r in small.select("conv_id").distinct().collect())
    pivot = convs[len(convs) // 2]
    a = small.filter(F.col("conv_id") < pivot)
    b = small.filter(F.col("conv_id") >= pivot)
    return a, b


def test_merge_equals_fresh_build(spark, small, halves):
    a, b = halves
    df_target = 64
    idx_a = build_index(a, num_doc_partitions=3, layouts=("term",), df_target=df_target)
    idx_b = build_index(b, num_doc_partitions=3, layouts=("term",), df_target=df_target)
    merged = merge_term_segments(
        [(idx_a.term_segments, 0), (idx_b.term_segments, idx_a.scalars.n_docs)],
        avgdl_merged=(idx_a.scalars.sum_dl + idx_b.scalars.sum_dl)
        / (idx_a.scalars.n_docs + idx_b.scalars.n_docs),
        df_target=df_target,
    )
    fresh = build_index(small, num_doc_partitions=4, layouts=("term",),
                        df_target=df_target)
    assert _tf_set(segments_to_tf(merged)) == _tf_set(segments_to_tf(fresh.term_segments))
    # merged segments respect the size cap
    assert merged.agg(F.max("n")).collect()[0][0] <= df_target


def test_merge_order_invariance(spark, halves):
    """merge([A,B]) postings == merge over the same parts regardless of the
    per-part build partitioning (associativity proxy)."""
    a, b = halves
    ia1 = build_index(a, num_doc_partitions=2, layouts=("term",), df_target=64)
    ia2 = build_index(a, num_doc_partitions=5, layouts=("term",), df_target=64)
    ib = build_index(b, num_doc_partitions=3, layouts=("term",), df_target=64)
    n_a = ia1.scalars.n_docs
    avg = 30.0
    m1 = merge_term_segments([(ia1.term_segments, 0), (ib.term_segments, n_a)], avg, 64)
    m2 = merge_term_segments([(ia2.term_segments, 0), (ib.term_segments, n_a)], avg, 64)
    assert _tf_set(segments_to_tf(m1)) == _tf_set(segments_to_tf(m2))


# ---------------------------------------------------------------------------
# pipeline resume
# ---------------------------------------------------------------------------

def _stage_names(out_dir):
    return [m["stage"] for m in read_manifest(out_dir) if m["status"] == "COMMITTED"]


def test_pipeline_resume(spark, small, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx"))
    run_build(spark, small, out, num_doc_partitions=3, layouts=("doc", "term"))
    committed1 = _stage_names(out)
    # stats run AFTER doc segments (derived from the index, not the postings)
    assert committed1 == ["doc_map", "doc_segments", "term_stats", "term_segments"]
    doc_map_mtime = os.path.getmtime(glob.glob(f"{out}/doc_map.parquet/*.parquet")[0])

    # Re-run: everything committed -> nothing re-executes, outputs untouched.
    run_build(spark, small, out, num_doc_partitions=3, layouts=("doc", "term"))
    assert _stage_names(out) == committed1
    assert os.path.getmtime(
        glob.glob(f"{out}/doc_map.parquet/*.parquet")[0]
    ) == doc_map_mtime

    # Simulate a crash after doc_map: drop downstream outputs + manifest rows.
    manifest = read_manifest(out)
    keep = [m for m in manifest
            if not (m["stage"] in {"doc_segments", "term_segments"})]
    with open(f"{out}/manifest.jsonl", "w") as f:
        for m in keep:
            f.write(json.dumps(m) + "\n")
    shutil.rmtree(f"{out}/doc_segments.parquet")
    shutil.rmtree(f"{out}/term_segments.parquet")

    idx = run_build(spark, small, out, num_doc_partitions=3, layouts=("doc", "term"))
    # doc_map and term_stats skipped (mtime unchanged), segments rebuilt
    assert os.path.getmtime(
        glob.glob(f"{out}/doc_map.parquet/*.parquet")[0]
    ) == doc_map_mtime
    # manifest order is append order: kept rows (doc_map, term_stats) then
    # the two rebuilt segment stages
    assert _stage_names(out) == ["doc_map", "term_stats",
                                 "doc_segments", "term_segments"]
    assert idx.doc_segments.count() > 0
    # per-partition metrics present on committed rows
    seg_rows = [m for m in read_manifest(out)
                if m["stage"] == "doc_segments" and m["status"] == "COMMITTED"]
    assert seg_rows and "skew_factor" in seg_rows[-1] and "postings" in seg_rows[-1]


def test_resume_after_torn_manifest_line(spark, small, tmp_path_factory):
    """Fault injection: a crash mid-append leaves the manifest's last row
    torn mid-JSON. Resume must not raise: it ignores the torn row, redoes
    that stage (and what follows it), appends on a fresh line, and
    writes bit-identical segments."""
    out = str(tmp_path_factory.mktemp("torn"))
    run_build(spark, small, out, num_doc_partitions=3, layouts=("doc",))
    before = sorted(map(repr, spark.read.parquet(
        f"{out}/doc_segments.parquet").collect()))
    # crash while committing doc_segments: its COMMITTED row is cut in
    # the middle and nothing after it was written
    path = f"{out}/manifest.jsonl"
    with open(path) as f:
        lines = f.readlines()
    last = max(i for i, line in enumerate(lines)
               if '"doc_segments"' in line and "COMMITTED" in line)
    with open(path, "w") as f:
        f.writelines(lines[:last])
        f.write(lines[last][:len(lines[last]) // 2])
    assert "doc_segments" not in _stage_names(out)

    run_build(spark, small, out, num_doc_partitions=3, layouts=("doc",))
    with open(path) as f:
        rows = [json.loads(line) for line in f]  # every line parses again
    assert [m["stage"] for m in rows if m["status"] == "COMMITTED"][-2:] == \
        ["doc_segments", "term_stats"]
    after = sorted(map(repr, spark.read.parquet(
        f"{out}/doc_segments.parquet").collect()))
    assert after == before


# ---------------------------------------------------------------------------
# determinism across partitioning (cluster-size proxy)
# ---------------------------------------------------------------------------

def _segment_set(df):
    return set(
        (r["shard"], r["term"], r["n"], bytes(r["doc_gaps"]), bytes(r["tfs"]),
         bytes(r["dls"]), tuple(r["block_last_doc"]), tuple(r["block_max_score"]
         if "block_max_score" in r else r["block_max_core"]))
        for r in df.collect()
    )


def test_index_identical_across_partitioning(spark, small):
    """Same corpus, different input partitioning, doc-id partitions AND
    shuffle widths -> byte-identical doc segments + identical stats. This
    is the in-process equivalent of 'two builds at different cluster sizes
    produce the same index'; bench.py demonstrates it across JVMs."""
    conf = spark.conf
    old = conf.get("spark.sql.shuffle.partitions")
    try:
        conf.set("spark.sql.shuffle.partitions", "3")
        i1 = build_index(small.repartition(2), num_doc_partitions=3,
                         n_shards=4, layouts=("doc",))
        s1 = _segment_set(i1.doc_segments)
        st1 = set(map(tuple, i1.term_stats.collect()))
        conf.set("spark.sql.shuffle.partitions", "7")
        i2 = build_index(small.repartition(5), num_doc_partitions=6,
                         n_shards=4, layouts=("doc",))
        s2 = _segment_set(i2.doc_segments)
        st2 = set(map(tuple, i2.term_stats.collect()))
    finally:
        conf.set("spark.sql.shuffle.partitions", old)
    assert st1 == st2
    assert s1 == s2


def test_per_segment_group_resume(spark, small, tmp_path_factory):
    """North star: resume from PER-SEGMENT checkpoints. Build with 4 shard
    groups; wipe the last two groups' outputs + manifest rows (simulated
    mid-stage crash); re-run rebuilds ONLY those groups, and the final
    index equals a single-shot build."""
    out = str(tmp_path_factory.mktemp("gidx"))
    idx = run_build(spark, small, out, num_doc_partitions=3, n_shards=4,
                    layouts=("doc",), segment_groups=4)
    full = _tf_set(segments_to_tf(idx.doc_segments))
    committed = [m["stage"] for m in read_manifest(out)
                 if m["status"] == "COMMITTED"]
    assert {f"doc_segments:g{g}" for g in range(4)} <= set(committed)

    # crash simulation: drop groups 2,3
    keep = [m for m in read_manifest(out)
            if m["stage"] not in {"doc_segments:g2", "doc_segments:g3",
                                  "doc_segments"}]
    with open(f"{out}/manifest.jsonl", "w") as f:
        for m in keep:
            f.write(json.dumps(m) + "\n")
    shutil.rmtree(f"{out}/doc_segments.parquet/g=2")
    shutil.rmtree(f"{out}/doc_segments.parquet/g=3")
    g0 = glob.glob(f"{out}/doc_segments.parquet/g=0/*/*.parquet")[0]
    g0_mtime = os.path.getmtime(g0)

    idx2 = run_build(spark, small, out, num_doc_partitions=3, n_shards=4,
                     layouts=("doc",), segment_groups=4)
    assert os.path.getmtime(g0) == g0_mtime  # group 0 untouched
    assert _tf_set(segments_to_tf(idx2.doc_segments)) == full

    # and equals a plain single-shot build
    single = run_build(spark, small, str(tmp_path_factory.mktemp("sidx")),
                       num_doc_partitions=3, n_shards=4, layouts=("doc",))
    assert _tf_set(segments_to_tf(single.doc_segments)) == full


def test_segment_group_plan_change_rebuilds(spark, small, tmp_path_factory):
    """A re-run with a DIFFERENT group plan must not reuse stale g=* dirs
    (wrong membership) nor union them into the read: the manifest records
    (groups, n_shards) and a mismatch forces a clean rebuild; group dirs
    outside the new plan are removed."""
    out = str(tmp_path_factory.mktemp("pidx"))
    idx = run_build(spark, small, out, num_doc_partitions=3, n_shards=4,
                    layouts=("doc",), segment_groups=4)
    full = _tf_set(segments_to_tf(idx.doc_segments))

    idx2 = run_build(spark, small, out, num_doc_partitions=3, n_shards=4,
                     layouts=("doc",), segment_groups=2)
    # no stale g=2 / g=3 dirs may survive under the new 2-group plan
    leftover = {os.path.basename(p)
                for p in glob.glob(f"{out}/doc_segments.parquet/g=*")}
    assert leftover == {"g=0", "g=1"}
    assert _tf_set(segments_to_tf(idx2.doc_segments)) == full
    last = [m for m in read_manifest(out)
            if m["stage"] == "doc_segments" and m["status"] == "COMMITTED"][-1]
    assert last["groups"] == 2 and last["n_shards"] == 4

    # grouped -> ungrouped must also rebuild rather than reuse g=* layout
    idx3 = run_build(spark, small, out, num_doc_partitions=3, n_shards=4,
                     layouts=("doc",), segment_groups=1)
    assert "g" not in idx3.doc_segments.columns
    assert _tf_set(segments_to_tf(idx3.doc_segments)) == full


def test_merge_purge_fully_dead_terms_and_partitions(spark, small, halves):
    """Tombstone-purging merges must survive groups and whole partitions
    that encode to NOTHING (routine at cluster partition counts: a
    delete_by_query kills every posting of the queried term, and a wide
    repartition can isolate that term — or an empty partition — in its
    own encoder batch; surfaced by the r5 lifecycle soak). All-dead
    merge = zero rows; partial purge at a partition count far above the
    term count equals the purge at a small count."""
    a, b = halves
    df_target = 64
    idx = build_index(small, num_doc_partitions=3, layouts=("term",),
                      df_target=df_target)
    avg = idx.scalars.avgdl

    all_ids = {int(r["doc_id"]) for r in
               segments_to_tf(idx.term_segments)
               .select("doc_id").distinct().collect()}
    dead_all = merge_term_segments([(idx.term_segments, 0)], avg,
                                   df_target=df_target, num_partitions=32,
                                   tombstones=all_ids)
    assert dead_all.count() == 0

    # kill every doc containing ONE term -> that term must vanish while
    # every other posting survives, independent of partition count
    tf = segments_to_tf(idx.term_segments)
    victim = tf.groupBy("term").count().orderBy(
        F.desc("count"), F.asc("term")).first()["term"]
    dead = {int(r["doc_id"]) for r in
            tf.filter(F.col("term") == victim)
            .select("doc_id").distinct().collect()}
    wide = merge_term_segments([(idx.term_segments, 0)], avg,
                               df_target=df_target, num_partitions=64,
                               tombstones=dead)
    narrow = merge_term_segments([(idx.term_segments, 0)], avg,
                                 df_target=df_target, num_partitions=2,
                                 tombstones=dead)
    got_w, got_n = _tf_set(segments_to_tf(wide)), _tf_set(segments_to_tf(narrow))
    assert got_w == got_n
    assert victim not in {t for t, *_ in got_w}
    assert got_w == {r for r in _tf_set(tf) if r[1] not in dead and r[0] != victim}
