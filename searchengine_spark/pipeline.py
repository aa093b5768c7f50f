"""Persisted, resumable index-build pipeline (manifest-driven).

The reference's resumability is output-file-existence checks before each of
its 9 stages (SearchEngine Indexer/Program.cs:45-62,
DataStructures/DataStructs/Functions.cs:29-44). Here each stage writes a
Parquet table under ``out_dir`` and appends a COMMITTED row (with wall
time, rows, bytes, per-partition metrics incl. skew factor) to
``manifest.jsonl``; a re-run skips every stage whose manifest row is
COMMITTED and whose output exists — idempotent resume from checkpoint
(north-star requirement). On a cluster the same code writes Iceberg tables
(``writeTo``) and the manifest becomes an Iceberg table; the sandbox uses
plain Parquet + JSONL through the same code path.

Storage, not driver-memory caching, is the stage boundary — at 100 TB an
InMemoryRelation cache of the corpus is impossible, and Parquet writes
scale with executors while cache building contends on the driver JVM heap.

Stage DAG (cf. SURVEY.md §3.2):

    transcripts ──ingest──► doc_map.parquet   (doc_id, meta, dl, terms, tfs)
                            + scalars.json (n_docs, sum_dl, avgdl — summed
                              inside the ingest metrics job, no extra pass)
    doc_map ──doc_segments► doc_segments.parquet (WAND layout; rows carry
                            n + cf, a sufficient statistic for term stats)
    doc_segments ──stats──► term_stats.parquet (term, df, cf) — agg over
                            ~|vocab|x|shards| index rows, NOT the postings
    doc_map ──term_segments► term_segments.parquet (salted merge layout)

At 100 TB the old order (full df/cf pass over the postings before any
segment exists) costs an extra corpus-sized shuffle+agg; deriving stats
from the compressed index makes the whole build exactly one pass over the
text and one posting-sized shuffle.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from searchengine_spark.operators.forward import (
    CorpusScalars,
    build_term_stats,
    term_stats_from_segments,
)
from searchengine_spark.operators.ingest import tf_from_doc_map, tokenized_doc_map
from searchengine_spark.operators.segments import (
    DEFAULT_DF_TARGET,
    build_doc_segments,
    build_term_segments,
)
from searchengine_spark.storage import Storage

MANIFEST = "manifest.jsonl"


@dataclass
class BuiltIndex:
    out_dir: str
    doc_map: DataFrame
    tf_table: DataFrame
    term_stats: DataFrame
    scalars: CorpusScalars
    doc_segments: DataFrame | None
    term_segments: DataFrame | None
    pos_postings: DataFrame | None = None


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, MANIFEST)


def _write_scalars(out_dir: str, sc: dict) -> None:
    """Atomic scalars.json commit (temp + os.replace: a crash mid-write
    must not leave truncated JSON that poisons every resume)."""
    path = os.path.join(out_dir, "scalars.json")
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(sc, f)
    os.replace(tmp, path)


def read_manifest(out_dir: str) -> list[dict]:
    """Manifest rows in append order. An unparseable FINAL line is a row
    torn by a crash mid-append: it never committed anything, so it is
    ignored (its stage re-runs); anywhere else it is corruption and
    raises."""
    p = _manifest_path(out_dir)
    if not os.path.exists(p):
        return []
    with open(p) as f:
        lines = [line for line in f if line.strip()]
    rows = []
    for i, line in enumerate(lines):
        try:
            rows.append(json.loads(line))
        except ValueError:
            if i < len(lines) - 1:
                raise
    return rows


def committed_stages(out_dir: str) -> set[str]:
    return {
        m["stage"] for m in read_manifest(out_dir) if m["status"] == "COMMITTED"
    }


def _append_manifest(out_dir: str, row: dict) -> None:
    """Append one row on a fresh line. An unterminated final line is a
    crash mid-append: it is cut off if torn (what ``read_manifest``
    ignores), or terminated if it parses, so the file stays one JSON row
    a line."""
    p = _manifest_path(out_dir)
    if os.path.exists(p):
        with open(p, "rb+") as f:
            data = f.read()
            if data and not data.endswith(b"\n"):
                cut = data.rfind(b"\n") + 1
                try:
                    json.loads(data[cut:])
                    f.write(b"\n")
                except ValueError:
                    f.truncate(cut)
    with open(p, "a") as f:
        f.write(json.dumps(row) + "\n")


def _partition_metrics(df: DataFrame, weight_col: str | None = None,
                       weight_name: str = "postings") -> dict:
    """Rows (and optional weight sum) per physical partition in ONE job ->
    skew factor = max/mean. The reference has no skew visibility at all;
    its analog pain is a striped lock (Indexer/Program.cs:651-657)."""
    agg = [F.count("*").alias("rows")]
    if weight_col is not None:
        agg.append(F.sum(weight_col).alias("weight"))
    sel = [F.spark_partition_id().alias("pid")]
    if weight_col is not None:
        sel.append(F.col(weight_col))
    rows = df.select(*sel).groupBy("pid").agg(*agg).collect()
    counts = [int(r["rows"]) for r in rows] or [0]
    mx, mean = max(counts), sum(counts) / len(counts)
    out = {
        "n_partitions": len(counts),
        "rows": sum(counts),
        "max_partition_rows": mx,
        "skew_factor": round(mx / mean, 3) if mean else 1.0,
    }
    if weight_col is not None:
        out[weight_name] = int(sum(int(r["weight"] or 0) for r in rows))
    return out


def _stage(out_dir: str, name: str, fn, force: bool = False,
           storage: Storage | None = None) -> dict | None:
    """Run one stage with manifest bookkeeping; skip if already COMMITTED."""
    exists = (storage.exists(name) if storage is not None
              else os.path.exists(os.path.join(out_dir, f"{name}.parquet")))
    if not force and name in committed_stages(out_dir) and exists:
        return None
    t0 = time.perf_counter()
    _append_manifest(out_dir, {"stage": name, "status": "STARTED", "ts": time.time()})
    metrics = fn() or {}
    _append_manifest(
        out_dir,
        {
            "stage": name,
            "status": "COMMITTED",
            "wall_s": round(time.perf_counter() - t0, 3),
            "ts": time.time(),
            **metrics,
        },
    )
    return metrics


def run_build(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    *,
    num_doc_partitions: int | None = None,
    n_shards: int | None = None,
    df_target: int = DEFAULT_DF_TARGET,
    layouts: tuple[str, ...] = ("doc",),
    force: bool = False,
    storage: Storage | None = None,
    segment_groups: int = 1,
    doc_id_base: int = 0,
) -> BuiltIndex:
    """Build (or resume) the full index under ``out_dir``. ``storage``
    overrides the table backend (e.g. an Iceberg catalog); the manifest and
    scalars stay under ``out_dir`` either way (an Iceberg manifest table on
    clusters would replace the JSONL — same rows).

    ``doc_id_base``: first doc_id of this build (default 0). A federation
    deployment gives every slice a disjoint id range (e.g. day_epoch <<
    40) so independently-built indexes can be served together
    (operators/federation.py FederatedEngine) without id collisions; the
    base is recorded in scalars.json for the load-time disjointness
    check."""
    os.makedirs(out_dir, exist_ok=True)
    if storage is None:
        storage = Storage(spark, root=out_dir)

    # schemas captured at write time let every post-stage read skip the
    # parquet footer-inference job (one fewer driver-blocking job per
    # stage transition); resumes of indexes written by other runs fall
    # back to inference
    schemas: dict = {}

    def ingest():
        from pyspark.sql import Observation

        pcounts: dict = {}
        dm = tokenized_doc_map(transcripts, num_partitions=num_doc_partitions,
                               partition_counts=pcounts,
                               start_id=doc_id_base)
        schemas["doc_map"] = dm.schema
        # sum_dl rides the WRITE job as an Observation; per-partition rows
        # come from the ingest count job (doc_map partitions are 1:1 with
        # the ranged partitions) -> scalars + skew metrics with ZERO
        # dedicated jobs (the old corpus-scalars pass and the doc_map
        # metrics re-scan are both gone)
        obs = Observation()
        storage.write(
            dm.observe(obs, F.coalesce(F.sum("dl"), F.lit(0)).alias("sum_dl")),
            "doc_map",
        )
        sum_dl = int(obs.get["sum_dl"])
        counts = [int(c) for c in pcounts.values()] or [0]
        n_docs, mx = sum(counts), max(counts)
        mean = n_docs / len(counts) if counts else 0.0
        _write_scalars(out_dir, {
            "n_docs": n_docs,
            "sum_dl": sum_dl,
            "avgdl": (sum_dl / n_docs) if n_docs else 0.0,
            "doc_id_base": int(doc_id_base),
        })
        return {
            "n_partitions": len(counts),
            "rows": n_docs,
            "max_partition_rows": mx,
            "skew_factor": round(mx / mean, 3) if mean else 1.0,
            "sum_dl": sum_dl,
        }

    _stage(out_dir, "doc_map", ingest, force, storage)
    doc_map = storage.read("doc_map", schema=schemas.get("doc_map"))
    scalars_path = os.path.join(out_dir, "scalars.json")
    if not os.path.exists(scalars_path):
        # resume fallback (doc_map committed by an older layout / crash
        # between write and commit): one tiny agg job over doc_map
        row = doc_map.agg(
            F.count("*").alias("n"),
            F.coalesce(F.sum("dl"), F.lit(0)).alias("sum_dl"),
        ).collect()[0]
        _write_scalars(out_dir, {
            "n_docs": int(row["n"]),
            "sum_dl": int(row["sum_dl"]),
            "avgdl": (int(row["sum_dl"]) / row["n"]) if row["n"] else 0.0,
        })
    with open(scalars_path) as f:
        s = json.load(f)
    scalars = CorpusScalars(n_docs=s["n_docs"], avgdl=s["avgdl"], sum_dl=s["sum_dl"])
    tf_table = tf_from_doc_map(doc_map)

    doc_segments = term_segments = None
    if "doc" in layouts:
        if segment_groups <= 1:
            def docseg():
                from pyspark.sql import Observation

                segs = build_doc_segments(
                    tf_table, None, scalars.n_docs, scalars.avgdl,
                    n_shards=n_shards,
                )
                schemas["doc_segments"] = segs.schema
                # rows + postings ride the write as an Observation;
                # per-shard rows come from the parquet footers (driver
                # metadata read, no job) -> full partition metrics with
                # ZERO dedicated jobs in parquet mode
                obs = Observation()
                storage.write(
                    segs.observe(obs, F.count(F.lit(1)).alias("rows"),
                                 F.coalesce(F.sum("n"), F.lit(0))
                                 .alias("postings")),
                    "doc_segments", partition_by="shard")
                got = obs.get
                frows = storage.file_rows("doc_segments")
                if frows is None:  # catalog mode: distributed metrics scan
                    m = _partition_metrics(
                        storage.read("doc_segments",
                                     schema=schemas.get("doc_segments")),
                        weight_col="n")
                else:
                    per_shard: dict[str, int] = {}
                    for rel, n in frows.items():
                        shard = rel.split(os.sep)[0]
                        per_shard[shard] = per_shard.get(shard, 0) + n
                    counts = list(per_shard.values()) or [0]
                    mx, mean = max(counts), sum(counts) / len(counts)
                    m = {
                        "n_partitions": len(counts),
                        "rows": int(got["rows"]),
                        "max_partition_rows": mx,
                        "skew_factor": round(mx / mean, 3) if mean else 1.0,
                        "postings": int(got["postings"]),
                    }
                return {**m, "groups": 1}

            # a previously committed GROUPED layout must not be reused as-is
            # (its g=* dirs would surface as a partition column)
            prev1 = [m for m in read_manifest(out_dir)
                     if m["stage"] == "doc_segments" and m["status"] == "COMMITTED"]
            ungroup = bool(prev1) and (prev1[-1].get("groups") or 1) > 1
            _stage(out_dir, "doc_segments", docseg, force or ungroup, storage)
        else:
            # Per-segment-group checkpoints (north star: resumable from
            # per-SEGMENT checkpoints, not just per stage): shards are
            # processed in `segment_groups` batches, each committed to its
            # own partition directory + manifest row; a killed build
            # resumes at the first uncommitted group. Group membership is
            # shard % G, so membership is independent of parallelism.
            import math as _math
            import shutil as _shutil

            from searchengine_spark.operators.segments import DOCS_PER_SHARD

            ns = n_shards or max(1, _math.ceil(max(scalars.n_docs, 1)
                                               / DOCS_PER_SHARD))
            shard_size = max(1, _math.ceil(max(scalars.n_docs, 1) / ns))
            base = os.path.join(out_dir, "doc_segments.parquet")
            # Group membership depends on (segment_groups, n_shards): a
            # re-run with a different plan must NOT reuse committed g=*
            # directories (wrong membership) nor let the basePath read
            # union stale groups — detect a plan mismatch from the last
            # COMMITTED doc_segments row and force a clean rebuild.
            prev = [m for m in read_manifest(out_dir)
                    if m["stage"] == "doc_segments" and m["status"] == "COMMITTED"]
            plan_changed = bool(prev) and (
                prev[-1].get("groups") != segment_groups
                or prev[-1].get("n_shards") != ns
            )
            if plan_changed or force:
                _shutil.rmtree(base, ignore_errors=True)
            if plan_changed:
                _append_manifest(out_dir, {
                    "stage": "doc_segments", "status": "PLAN_CHANGED",
                    "groups": segment_groups, "n_shards": ns,
                    "prev_groups": prev[-1].get("groups"),
                    "prev_n_shards": prev[-1].get("n_shards"),
                    "ts": time.time(),
                })
            group_done = committed_stages(out_dir) if not (force or plan_changed) else set()
            for g in range(segment_groups):
                gname = f"doc_segments:g{g}"
                gpath = os.path.join(base, f"g={g}")
                if gname in group_done and os.path.exists(gpath):
                    continue
                t0 = time.perf_counter()
                _append_manifest(out_dir, {"stage": gname, "status": "STARTED",
                                           "ts": time.time()})
                tf_g = tf_table.filter(
                    (F.col("doc_id") / F.lit(shard_size)).cast("int")
                    % segment_groups == g
                )
                segs = build_doc_segments(
                    tf_g, None, scalars.n_docs, scalars.avgdl,
                    n_shards=ns,
                )
                segs.write.mode("overwrite").partitionBy("shard").parquet(gpath)
                m = _partition_metrics(spark.read.parquet(gpath), weight_col="n")
                _append_manifest(out_dir, {
                    "stage": gname, "status": "COMMITTED",
                    "wall_s": round(time.perf_counter() - t0, 3),
                    "ts": time.time(), "n_shards": ns, **m,
                })
            # drop group dirs outside the current plan so the basePath
            # read can never union stale groups into the result
            if os.path.isdir(base):
                for d in os.listdir(base):
                    if d.startswith("g="):
                        try:
                            gi = int(d[2:])
                        except ValueError:
                            continue
                        if gi >= segment_groups:
                            _shutil.rmtree(os.path.join(base, d),
                                           ignore_errors=True)
            if plan_changed or force or "doc_segments" not in committed_stages(out_dir):
                _append_manifest(out_dir, {
                    "stage": "doc_segments", "status": "COMMITTED",
                    "ts": time.time(), "groups": segment_groups,
                    "n_shards": ns,
                })
        doc_segments = spark.read.option("basePath",
                                         os.path.join(out_dir,
                                                      "doc_segments.parquet")
                                         ).parquet(
            os.path.join(out_dir, "doc_segments.parquet")
        ).drop("g") if segment_groups > 1 else storage.read(
            "doc_segments", schema=schemas.get("doc_segments"))

    def stats():
        from pyspark.sql import Observation

        if doc_segments is not None and "cf" in doc_segments.columns:
            # segments are a sufficient statistic for df/cf (each row
            # carries n + cf): agg over ~|vocab|x|shards| index rows, no
            # second pass over the postings
            st = term_stats_from_segments(doc_segments)
        else:
            st = build_term_stats(tf_from_doc_map(doc_map))
        schemas["term_stats"] = st.schema
        obs = Observation()
        storage.write(st.observe(obs, F.count(F.lit(1)).alias("rows")),
                      "term_stats")
        return {"rows": int(obs.get["rows"])}

    _stage(out_dir, "term_stats", stats, force, storage)
    term_stats = storage.read("term_stats", schema=schemas.get("term_stats"))

    if "term" in layouts:
        def termseg():
            segs = build_term_segments(
                tf_table, term_stats, scalars.n_docs, scalars.avgdl,
                df_target=df_target,
            )
            storage.write(segs, "term_segments")
            return _partition_metrics(storage.read("term_segments"))

        _stage(out_dir, "term_segments", termseg, force, storage)
        term_segments = storage.read("term_segments")

    pos_postings = None
    if "pos" in layouts:
        def posseg():
            from searchengine_spark.operators.positional import (
                build_positional,
            )

            # positions need token ORDER, which doc_map's aggregated
            # (terms, tfs) dropped — one extra Arrow pass over the stored
            # text (pay only when the layout is requested). Range-
            # partition + sort by term so each file holds a term range:
            # phrase queries prune to the query terms' files via
            # row-group min/max, the on-disk analog of a term directory.
            pos = (
                build_positional(doc_map.select("doc_id", "text"))
                .repartitionByRange(F.col("term"))
                .sortWithinPartitions("term", "doc_id")
            )
            storage.write(pos, "pos_postings")
            return _partition_metrics(storage.read("pos_postings"))

        _stage(out_dir, "pos_postings", posseg, force, storage)
        pos_postings = storage.read("pos_postings")

    return BuiltIndex(
        out_dir=out_dir,
        doc_map=doc_map,
        tf_table=tf_table,
        term_stats=term_stats,
        scalars=scalars,
        doc_segments=doc_segments,
        term_segments=term_segments,
        pos_postings=pos_postings,
    )
