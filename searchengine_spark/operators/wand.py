"""Dense per-shard BM25 top-k over doc-sharded segments.

Reference query path: OR-union of per-term posting lists with additive
scoring, full materialized score map, then sort (SearchEngine
Engine/Engine/Engine.cs:125-183). No pruning beyond a static per-term
1000-posting cap.

Here the same union runs embarrassingly parallel per doc shard, and each
shard is scored by one numpy kernel (``_dense_topk``):

    doc_segments.filter(term IN query)        [partition-pruned scan]
      -> groupBy(shard).applyInPandas(kernel) [local top-k per shard]
      -> orderBy(score desc, doc_id).limit(k) [tiny global merge]

Every shard owns a disjoint doc range and ALL query terms' postings for it
(segments layout, operators/segments.py), so no cross-shard traffic until
the final k-row merge. A shard spans a bounded doc range (DOCS_PER_SHARD
by default), so the kernel keeps a float64 accumulator and a hit mask over
that span, adds every posting row's BM25 weights at ``docs - lo`` in the
canonical (term, first doc) row order, masks tombstones and selects the
top k with ``np.partition`` + ``np.lexsort``. Array code over the whole
union replaces per-posting cursor moves (the vectorized-execution argument
of the columnar inverted index and vectorized Python UDF papers in
PAPERS.md); the module names (``wand_topk`` ...) are kept as the public
API of the serving path.

An index that fits the driver (``resident_index``: its postings in a
share of the driver's memory, its Arrow size in one collect, and no
larger than the largest index measured) is served without Spark on the
query path: ``ResidentIndex`` decodes the segments once into driver-side
arrays and feeds the same kernel the same per-shard rows, so results are
bit-identical to the plans above; those stay the path for larger
indexes. ``serve_topk`` / ``serve_topk_batch`` apply that rule, once per
``doc_segments`` frame, for the engine and the registry entries alike.

Correctness contract: identical (doc_id, score) top-k as the exhaustive
relational scorer (operators/topk.py score_topk) under tie-break
(score desc, doc_id asc); enforced by agreement tests and a property test
of the kernel against a brute-force sort.
"""

from __future__ import annotations

import os
import warnings
import weakref
from collections import Counter
from typing import NamedTuple

import numpy as np
import pandas as pd
from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from searchengine_spark.functions.bitmap import DocIdBitmap
from searchengine_spark.functions.scoring import B as BM25_B
from searchengine_spark.functions.scoring import K1 as BM25_K1
from searchengine_spark.functions.tokenize import tokenize_py
from searchengine_spark.operators.segments import (
    decode_payload,
    decode_table,
    idf_np,
)

#: widest doc span scored with a dense accumulator regardless of how few
#: postings hit it (32 MB of float64); wider, sparser groups (a term-layout
#: range group of a very large corpus) are scored over their distinct docs
_DENSE_SPAN = 1 << 22


def _exclude_bitmap(exclude) -> DocIdBitmap | None:
    """Normalize a tombstone set (set/frozenset/iterable, DataFrame of
    ids, or prebuilt DocIdBitmap) into a DocIdBitmap; None when empty."""
    if exclude is None:
        return None
    if isinstance(exclude, DocIdBitmap):
        bm = exclude
    elif isinstance(exclude, DataFrame):
        bm = DocIdBitmap.from_dataframe(exclude)
    else:
        bm = DocIdBitmap(exclude)
    return bm or None


def _exclude_broadcast(spark, exclude):
    """The tombstone bitmap (``_exclude_bitmap``) as a broadcast: the UDF
    closure then carries only the tiny Broadcast handle; the bitmap
    itself ships once per executor via the broadcast mechanism — never a
    corpus-sized Python object pickled into every task."""
    bm = _exclude_bitmap(exclude)
    return spark.sparkContext.broadcast(bm) if bm is not None else None


_TOPK_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)


class _Postings(NamedTuple):
    """One decoded posting row (position-free): docs ascending."""

    term: str
    docs: np.ndarray
    tfs: np.ndarray
    dls: np.ndarray

    @classmethod
    def decode(cls, row) -> "_Postings":
        docs, tfs, dls = decode_payload(row)
        return cls(row.term, docs.astype(np.int64), tfs, dls)


def _canonical(postings: list[_Postings]) -> list[_Postings]:
    """Total order for a group's posting rows: (term, first doc).

    The input order is the grouped-map row order — shuffle ARRIVAL
    order, which multi-executor clusters randomize per call. Row order
    is the float summation order of a doc's score, and mathematically
    tied scores (duplicate turns) pick up last-bit differences that flip
    their rank under (score desc, doc_id asc): measured on a 2-vs-8-
    executor standalone cluster, the same 160-query batch hashed
    differently on every call until rows were sorted. (term, first doc)
    is a total order here: salted or range-split rows of one term are
    doc-disjoint slices."""
    return sorted(postings,
                  key=lambda p: (p.term, int(p.docs[0]) if len(p.docs) else -1))


def _weights(p: _Postings, idf: float, avgdl: float) -> np.ndarray:
    """BM25 weight (qf = 1) of every posting in ``p``, in the float
    association every scorer of this module has used, so scores are
    bit-identical to the per-posting formula."""
    tf = p.tfs.astype(np.float64)
    dl = p.dls.astype(np.float64)
    return idf * tf * (BM25_K1 + 1.0) / (
        tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / avgdl)
    )


def _dense_topk(
    rows: list[tuple[np.ndarray, np.ndarray]], k: int,
    exclude: DocIdBitmap | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Top-k (doc_ids, scores) of the additive union of ``rows`` — each a
    (docs, contributions) pair with docs unique within the row — under
    (score desc, doc_id asc), tombstoned docs masked.

    A doc's score sums its contributions in ``rows`` order starting from
    0.0, so callers pass rows canonically ordered (``_canonical``). Ties
    at the k-th score are all kept through the partition, so the doc_id
    tie-break is exact."""
    rows = [(d, c) for d, c in rows if len(d)]
    if not rows or k <= 0:
        return np.zeros(0, np.int64), np.zeros(0, np.float64)
    lo = min(int(d[0]) for d, _ in rows)
    hi = max(int(d[-1]) for d, _ in rows)
    total = sum(len(d) for d, _ in rows)
    if hi - lo < max(_DENSE_SPAN, 4 * total):
        space = None
        acc = np.zeros(hi - lo + 1, np.float64)
    else:
        space = np.unique(np.concatenate([d for d, _ in rows]))
        acc = np.zeros(len(space), np.float64)
    hit = np.zeros(len(acc), bool)
    for d, c in rows:
        i = d - lo if space is None else np.searchsorted(space, d)
        acc[i] += c
        hit[i] = True
    idx = np.flatnonzero(hit)
    docs = idx + lo if space is None else space[idx]
    if exclude is not None:
        live = ~exclude.mask(docs)
        idx, docs = idx[live], docs[live]
    scores = acc[idx]
    if len(scores) > k:
        kth = np.partition(scores, len(scores) - k)[len(scores) - k]
        keep = scores >= kth
        docs, scores = docs[keep], scores[keep]
    order = np.lexsort((docs, -scores))[:k]
    return docs[order], scores[order]


def _score_group(
    postings: list[_Postings], qf_map: dict[str, float],
    idf_map: dict[str, float], avgdl: float, k: int,
    exclude: DocIdBitmap | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """One group's (shard's) local top-k for one query."""
    rows = [(p.docs, qf_map[p.term] * _weights(p, idf_map[p.term], avgdl))
            for p in _canonical(postings) if p.term in qf_map]
    return _dense_topk(rows, k, exclude)


def _score_group_batch(
    postings: list[_Postings], qf_maps: dict[int, dict[str, float]],
    idf_map: dict[str, float], avgdl: float, k: int,
    exclude: DocIdBitmap | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One group's local top-k for every query of a batch -> (query_ids,
    doc_ids, scores). The group's rows are put in canonical order and
    turned into BM25 weight arrays ONCE; every query then runs the dense
    kernel over the shared weights scaled by its qf."""
    weighted = [(p.term, p.docs, _weights(p, idf_map[p.term], avgdl))
                for p in _canonical(postings)]
    qids, docs, scores = [np.zeros(0, np.int32)], [np.zeros(0, np.int64)], \
        [np.zeros(0, np.float64)]
    for qid, qf_map in qf_maps.items():
        d, s = _dense_topk(
            [(dd, qf_map[t] * w) for t, dd, w in weighted if t in qf_map],
            k, exclude)
        qids.append(np.full(len(d), qid, np.int32))
        docs.append(d)
        scores.append(s)
    return np.concatenate(qids), np.concatenate(docs), np.concatenate(scores)


def _topk_frame(docs: np.ndarray, scores: np.ndarray) -> pd.DataFrame:
    return pd.DataFrame({"doc_id": pd.Series(docs, dtype="int64"),
                         "score": pd.Series(scores, dtype="float64")})


def query_qf(query: str) -> dict[str, float]:
    return {t: float(c) for t, c in Counter(tokenize_py(query)).items()}


def _lookup_idf(term_stats: DataFrame, terms, n_docs: int,
                idf_map: dict[str, float] | None = None) -> dict[str, float]:
    """idf of each in-vocabulary term of ``terms``. ``idf_map`` is a
    caller's precomputed (warm-cache) map: it is filtered to ``terms``
    and no Spark job runs; terms absent from it count as out of
    vocabulary. Without it, one tiny term_stats lookup job."""
    terms = set(terms)
    if idf_map is not None:
        return {t: v for t, v in idf_map.items() if t in terms}
    if not terms:
        return {}
    rows = (term_stats.filter(F.col("term").isin(sorted(terms)))
            .select("term", "df").collect())
    return {r["term"]: idf_np(int(r["df"]), n_docs) for r in rows}


def _spread_groups(df: DataFrame, key: str, n: int | None = None) -> DataFrame:
    """Pre-partition a grouped-map input by its key with an EXPLICIT
    partition count. Rationale: the posting slices a query touches are
    small in BYTES (a few MB for frequent terms) but heavy in CPU (the
    Python decode and scoring kernel), so AQE's byte-based shuffle
    coalescing merges them into a handful of tasks and serializes the
    kernel — measured on the 333k-turn scaling corpus: the shard groups
    coalesced to 4 tasks, 2.9 s of kernel per task, 2→8-core query
    scaling capped at ~0.4. An explicit numPartitions makes this shuffle
    REPARTITION_BY_NUM, which AQE never coalesces, and the downstream
    groupBy reuses the partitioning (no second exchange). The default 4x
    parallelism gives multiple waves of hash-balanced shard groups at any
    cluster width; empty partitions cost microseconds. Pass ``n`` for a
    width-INDEPENDENT count (the scaling bench does: identical physical
    plan at N and 4N cores, the build record's determinism discipline)."""
    n = n or df.sparkSession.sparkContext.defaultParallelism * 4
    return df.repartition(n, key)


def wand_topk(
    doc_segments: DataFrame,
    query: str,
    term_stats: DataFrame,
    n_docs: int,
    avgdl: float,
    k: int = 10,
    exclude: set | frozenset | DataFrame | DocIdBitmap | None = None,
    spread: int | None = None,
    idf_map: dict[str, float] | None = None,
) -> DataFrame:
    """Top-k BM25 over doc-sharded segments, one dense kernel per shard.

    Plan: tiny stats lookup for the query terms (idf) -> pruned segment
    scan (term IN query terms) -> per-shard grouped-map scorer -> global
    TakeOrderedAndProject over <= shards*k rows.

    ``exclude``: tombstoned GLOBAL doc_ids masked inside the kernel
    before selection (operators/deletes.py) — a set/iterable, a DataFrame
    of ids, or a prebuilt DocIdBitmap; always shipped as a broadcast
    packed bitmap (functions/bitmap.py), never in the task closure.

    ``idf_map``: precomputed idf per query term (SearchEngine's warm
    stats cache) — skips the per-query term_stats lookup action; terms
    absent from the map are treated as out-of-vocabulary.
    """
    spark = doc_segments.sparkSession
    qf_map = query_qf(query)
    idf_map = _lookup_idf(term_stats, qf_map, n_docs, idf_map)
    if not idf_map:
        return spark.createDataFrame([], _TOPK_SCHEMA)
    bcast = _exclude_broadcast(spark, exclude)
    matched = doc_segments.filter(F.col("term").isin(list(idf_map)))

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        postings = [_Postings.decode(r) for r in pdf.itertuples(index=False)]
        return _topk_frame(*_score_group(
            postings, qf_map, idf_map, avgdl, k,
            exclude=bcast.value if bcast else None))

    local = _spread_groups(matched, "shard", spread).groupBy("shard") \
        .applyInPandas(run, _TOPK_SCHEMA)
    return local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


_SPLIT_SCHEMA = T.StructType(
    [
        T.StructField("g", T.IntegerType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("docs", T.ArrayType(T.LongType()), False),
        T.StructField("tfs", T.ArrayType(T.LongType()), False),
        T.StructField("dls", T.ArrayType(T.LongType()), False),
    ]
)


def wand_topk_terms(
    term_segments: DataFrame,
    query: str,
    term_stats: DataFrame,
    n_docs: int,
    avgdl: float,
    k: int = 10,
    exclude: set | frozenset | DataFrame | DocIdBitmap | None = None,
    n_groups: int | None = None,
    idf_map: dict[str, float] | None = None,
) -> DataFrame:
    """Top-k BM25 over the TERM-partitioned layout (the merged /
    incremental index, operators/merge.py) with the same dense kernel.

    Term partitioning co-locates each posting list whole, so a query
    touches exactly its terms' (term, salt) rows — a partition-pruned
    scan of a handful of rows. Scoring them in one grouped-map task
    (round 2's shape) put a single-task ceiling on every query, so the
    plan re-shards BY DOC RANGE first:

      matched rows -> mapInPandas decode + searchsorted split into
      ``n_groups`` contiguous doc ranges (docs are delta-encoded sorted,
      so a split is two array slices) -> groupBy(range).applyInPandas
      kernel per range -> k-merge.

    Every range group holds ALL query terms' postings for a disjoint doc
    slice (exactly the doc-sharded invariant), so per-group top-k +
    global k-merge is rank-identical to the one-task run. Cost: one
    extra shuffle of the QUERY terms' postings only — never the corpus —
    in exchange for grouped-stage parallelism that scales with cluster
    width. Salted rows of a hot term are doc-disjoint slices, so one row
    per (salt x range) double-counts nothing.
    """
    spark = term_segments.sparkSession
    qf_map = query_qf(query)
    idf_map = _lookup_idf(term_stats, qf_map, n_docs, idf_map)
    if not idf_map:
        return spark.createDataFrame([], _TOPK_SCHEMA)
    bcast = _exclude_broadcast(spark, exclude)
    matched = term_segments.filter(F.col("term").isin(list(idf_map)))

    if n_groups is None:
        n_groups = max(
            1, min(int(spark.conf.get("spark.sql.shuffle.partitions",
                                      "32")), 32))
    range_size = max(1, -(-int(n_docs) // int(n_groups)))

    def split(batches):
        for pdf in batches:
            g_out: list[int] = []
            t_out: list[str] = []
            d_out: list[list[int]] = []
            f_out: list[list[int]] = []
            l_out: list[list[int]] = []
            for r in pdf.itertuples(index=False):
                docs, tfs, dls = decode_payload(r)
                if docs.size == 0:
                    continue
                docs = docs.astype(np.int64)
                gs = docs // range_size
                cuts = np.flatnonzero(np.diff(gs)) + 1
                starts = np.concatenate(([0], cuts))
                ends = np.concatenate((cuts, [docs.size]))
                for s, e in zip(starts, ends):
                    g_out.append(int(gs[s]))
                    t_out.append(r.term)
                    d_out.append(docs[s:e].tolist())
                    f_out.append(tfs[s:e].tolist())
                    l_out.append(dls[s:e].tolist())
            yield pd.DataFrame(
                {"g": pd.Series(g_out, dtype="int32"),
                 "term": pd.Series(t_out, dtype="object"),
                 "docs": pd.Series(d_out, dtype="object"),
                 "tfs": pd.Series(f_out, dtype="object"),
                 "dls": pd.Series(l_out, dtype="object")}
            )

    parts = matched.mapInPandas(split, _SPLIT_SCHEMA)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        postings = [
            _Postings(r.term, np.asarray(r.docs, dtype=np.int64),
                      np.asarray(r.tfs, dtype=np.int64),
                      np.asarray(r.dls, dtype=np.int64))
            for r in pdf.itertuples(index=False)
        ]
        return _topk_frame(*_score_group(
            postings, qf_map, idf_map, avgdl, k,
            exclude=bcast.value if bcast else None))

    local = parts.groupBy("g").applyInPandas(run, _TOPK_SCHEMA)
    return local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


_BATCH_TOPK_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.IntegerType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)


def wand_topk_batch(
    doc_segments: DataFrame,
    queries: list[tuple[int, str]],
    term_stats: DataFrame,
    n_docs: int,
    avgdl: float,
    k: int = 10,
    exclude: set | frozenset | DataFrame | DocIdBitmap | None = None,
    spread: int | None = None,
    idf_map: dict[str, float] | None = None,
) -> DataFrame:
    """Many queries in one pass -> (query_id, rank, doc_id, score). Per
    shard, posting rows are decoded, put in canonical order and turned
    into BM25 weight arrays ONCE; every query then runs the dense kernel
    over the shared weights scaled by its qf. One segment scan + one
    grouped map for the whole query batch — the throughput path (the
    reference serves one query per HTTP request; Engine.cs:45-95).
    ``idf_map`` as in ``wand_topk``, over the batch's terms."""
    spark = doc_segments.sparkSession
    qf_maps = {int(qid): query_qf(q) for qid, q in queries}
    idf_map = _lookup_idf(term_stats, {t for m in qf_maps.values() for t in m},
                         n_docs, idf_map)
    if not idf_map:
        return spark.createDataFrame(
            [], "query_id int, rank int, doc_id long, score double")
    bcast = _exclude_broadcast(spark, exclude)
    matched = doc_segments.filter(F.col("term").isin(list(idf_map)))

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        qids, docs, scores = _score_group_batch(
            [_Postings.decode(r) for r in pdf.itertuples(index=False)],
            qf_maps, idf_map, avgdl, k, bcast.value if bcast else None)
        return pd.DataFrame(
            {"query_id": pd.Series(qids, dtype="int32"),
             "doc_id": pd.Series(docs, dtype="int64"),
             "score": pd.Series(scores, dtype="float64")}
        )

    local = _spread_groups(matched, "shard", spread).groupBy("shard") \
        .applyInPandas(run, _BATCH_TOPK_SCHEMA)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )


# ---------------------------------------------------------------------------
# serving: the driver-resident backend and the rule that picks it
# ---------------------------------------------------------------------------

#: share of the driver's available memory a resident index may use
_RESIDENT_SHARE = 0.25
#: driver (Python) bytes per posting while the resident copy is built:
#: the peak RSS rise measured 30-49 B (17.1M- and 0.12M-posting indexes;
#: per-row and per-term state weighs most on small ones), rounded up.
#: The decoded arrays it keeps are 24 B of it (BENCH.md)
_POSTING_BYTES = 64
#: the largest index (postings) served resident: the largest whose
#: resident build (10.4 s, 490 MB driver RSS) and warm latency (55 ms
#: p50 against 1.6 s on the Spark plan) were measured, a 1.01M-turn
#: corpus of 17.1M postings (BENCH.md). Larger indexes take the Spark
#: plan until they are measured.
_RESIDENT_MAX_POSTINGS = 17_000_000
#: share of the driver JVM heap one collect of the segments may fill: the
#: JVM holds the collected Arrow batches until Python has read them
_HEAP_SHARE = 0.25
#: Arrow bytes per segment row besides its term and payload bytes
#: (offsets, shard, n, codec); measured 34 on the perfbench index
_ROW_BYTES = 48

_BATCH_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.IntegerType(), False),
        T.StructField("rank", T.IntegerType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)


def _read_text(path: str) -> str:
    with open(path) as f:
        return f.read().strip()


def _cgroup_headroom(proc: str = "/proc/self/cgroup",
                     root: str = "/sys/fs/cgroup") -> int | None:
    """Bytes left under this process's cgroup memory limit (v2
    ``memory.max``, v1 ``memory.limit_in_bytes``); None when no limit is
    set or none can be read. The usage counted there includes the
    driver JVM's resident heap."""
    try:
        with open(proc) as f:
            entries = [line.rstrip("\n").split(":", 2) for line in f]
    except OSError:
        return None
    for _, controllers, path in (e for e in entries if len(e) == 3):
        if controllers == "":
            base, files = root, ("memory.max", "memory.current")
        elif "memory" in controllers.split(","):
            base, files = os.path.join(root, "memory"), (
                "memory.limit_in_bytes", "memory.usage_in_bytes")
        else:
            continue
        # the process's own group, or the namespace root a container sees
        for d in (base + path, base):
            try:
                limit, used = (_read_text(os.path.join(d, f)) for f in files)
            except OSError:
                continue
            if limit != "max" and int(limit) < 1 << 60:
                return max(0, int(limit) - int(used))
            break
    return None


def _budget_postings() -> int:
    """Postings the driver may hold decoded: ``_RESIDENT_SHARE`` of the
    memory available to it (the OS's free physical memory, or the room
    left under its cgroup limit when smaller) at ``_POSTING_BYTES`` each,
    capped at ``_RESIDENT_MAX_POSTINGS``. The switch between the resident
    and the Spark path (tests force the Spark path by patching it)."""
    avail = os.sysconf("SC_AVPHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    cgroup = _cgroup_headroom()
    if cgroup is not None:
        avail = min(avail, cgroup)
    return min(_RESIDENT_MAX_POSTINGS,
               int(avail * _RESIDENT_SHARE) // _POSTING_BYTES)


def _collect_budget_bytes(spark) -> int:
    """Arrow bytes one ``toArrow()`` may bring to the driver: under
    ``spark.driver.maxResultSize`` (every task result counts against it
    and the job fails past it; 0 means no limit) and ``_HEAP_SHARE`` of
    the driver JVM heap."""
    jvm = spark.sparkContext._jvm
    heap = int(jvm.java.lang.Runtime.getRuntime().maxMemory() * _HEAP_SHARE)
    limit = jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.sparkContext.getConf().get("spark.driver.maxResultSize", "1g"))
    return min(heap, int(limit)) if limit > 0 else heap


def resident_index(doc_segments: DataFrame, term_stats: DataFrame,
                   n_docs: int, avgdl: float) -> "ResidentIndex | None":
    """The doc-sharded index decoded into the driver when it fits; None
    when it does not, and the Spark plan serves. The index's postings
    (``sum(df)`` of ``term_stats``, a small table) must fit
    ``_budget_postings``; only then does one agg over the segments
    estimate their Arrow size (term and payload bytes), which must fit
    ``_collect_budget_bytes`` — so an index over the budget never has
    its payload read. A build that still fails (the collect, or driver
    memory) also gives None."""
    postings = term_stats.agg(F.sum("df")).first()[0] or 0
    if postings > _budget_postings():
        return None
    nbytes = doc_segments.agg(F.sum(
        F.octet_length("term") + F.octet_length("doc_gaps")
        + F.octet_length("tfs") + F.octet_length("dls") + _ROW_BYTES,
    )).first()[0] or 0
    if nbytes > _collect_budget_bytes(doc_segments.sparkSession):
        return None
    try:
        return ResidentIndex(doc_segments, term_stats, n_docs, avgdl)
    except (Py4JError, PySparkException, MemoryError) as e:
        warnings.warn(f"resident index not built, serving with the Spark "
                      f"plan: {type(e).__name__}: {str(e)[:200]}",
                      RuntimeWarning, stacklevel=2)
        return None


#: ResidentIndex (or None: the Spark plan serves) per live doc_segments
#: DataFrame, keyed by its id; an entry goes when the frame is freed
_RESIDENT: dict[tuple, tuple] = {}


def resident_for(doc_segments: DataFrame, term_stats: DataFrame,
                 n_docs: int, avgdl: float) -> "ResidentIndex | None":
    """``resident_index`` once per ``doc_segments`` DataFrame: a new one
    (``purge_deleted`` reads the rewritten segments into one) gets a new
    copy, and a build that gave None is not retried. ``term_stats`` is
    read only when the copy is built (its df values are build-time
    constants)."""
    key = (id(doc_segments), n_docs, avgdl)
    hit = _RESIDENT.get(key)
    if hit is not None and hit[0]() is doc_segments:
        return hit[1]
    res = resident_index(doc_segments, term_stats, n_docs, avgdl)
    _RESIDENT[key] = (weakref.ref(doc_segments,
                                  lambda _, key=key: _RESIDENT.pop(key, None)),
                      res)
    return res


def serve_topk(
    doc_segments: DataFrame, query: str, term_stats: DataFrame,
    n_docs: int, avgdl: float, k: int = 10,
    exclude: set | frozenset | DataFrame | DocIdBitmap | None = None,
    idf_for=None,
) -> tuple[DataFrame, str]:
    """Top-k (doc_id, score) from the backend the index picks -> (result,
    "resident" | "wand"): ``ResidentIndex.topk`` when the index fits the
    driver (``resident_for``), ``wand_topk`` otherwise. ``idf_for``: a
    warm-cache idf function of a term list, called on the Spark path
    only (the resident copy holds every df)."""
    res = resident_for(doc_segments, term_stats, n_docs, avgdl)
    if res is not None:
        return res.topk(query, k=k, exclude=exclude), "resident"
    idf_map = idf_for(list(query_qf(query))) if idf_for else None
    return wand_topk(doc_segments, query, term_stats, n_docs, avgdl, k=k,
                     exclude=exclude, idf_map=idf_map), "wand"


def serve_topk_batch(
    doc_segments: DataFrame, queries: list[tuple[int, str]],
    term_stats: DataFrame, n_docs: int, avgdl: float, k: int = 10,
    exclude: set | frozenset | DataFrame | DocIdBitmap | None = None,
    idf_for=None, spread: int | None = None,
) -> tuple[DataFrame, str]:
    """``serve_topk`` for a batch: (query_id, rank, doc_id, score) from
    ``ResidentIndex.topk_batch`` or ``wand_topk_batch``."""
    res = resident_for(doc_segments, term_stats, n_docs, avgdl)
    if res is not None:
        return res.topk_batch(queries, k=k, exclude=exclude), "resident"
    terms = {t for _, q in queries for t in query_qf(q)}
    idf_map = idf_for(sorted(terms)) if idf_for else None
    return wand_topk_batch(doc_segments, queries, term_stats, n_docs, avgdl,
                           k=k, exclude=exclude, spread=spread,
                           idf_map=idf_map), "wand"


class ResidentIndex:
    """Doc-sharded segments decoded once into driver-side columnar arrays
    — the reference Engine's load-into-RAM model (Engine.cs:32-96) for
    an index that fits — scored by the same kernel as the Spark path.

    Built with one ``toArrow()`` of ``doc_segments`` (any layout the
    DataFrame reads, ``g=*`` groups included) and one of ``term_stats``:
    rows sorted by (term, shard) share three posting arrays, a term maps
    to its row span, and the df dict answers idf with no lookup job, out-
    of-vocabulary terms included. A query gathers its terms' rows per
    shard and runs ``_score_group`` (or ``_score_group_batch``) on exactly
    the rows the Spark plan's grouped map would get, so (doc_id, score)
    are bit-identical; the shards' top-ks merge under (score desc,
    doc_id asc) in numpy and return as an Arrow-backed DataFrame: no
    scan, exchange or Python worker on the query path (a traced perfbench
    run counts 0 Spark jobs per warm query, collect included)."""

    def __init__(self, doc_segments: DataFrame, term_stats: DataFrame,
                 n_docs: int, avgdl: float):
        self.spark = doc_segments.sparkSession
        self.n_docs, self.avgdl = n_docs, avgdl
        table = doc_segments.select(
            "shard", "term", "n", "codec", "doc_gaps", "tfs", "dls",
        ).toArrow().sort_by([("term", "ascending"), ("shard", "ascending")])
        self.docs, self.tfs, self.dls, self.starts = decode_table(table)
        self.shards = table.column("shard").to_numpy()
        self.spans: dict[str, list[int]] = {}
        for i, term in enumerate(table.column("term").to_pylist()):
            self.spans.setdefault(term, [i, i])[1] = i + 1
        stats = term_stats.select("term", "df").toArrow()
        self.df = dict(zip(stats.column("term").to_pylist(),
                           stats.column("df").to_pylist()))

    def _idf(self, terms) -> dict[str, float]:
        return {t: idf_np(self.df[t], self.n_docs)
                for t in terms if self.df.get(t, 0) > 0}

    def _groups(self, terms) -> list[list[_Postings]]:
        """The posting rows of ``terms``, grouped by shard."""
        groups: dict[int, list[_Postings]] = {}
        for t in terms:
            lo, hi = self.spans.get(t, (0, 0))
            for r in range(lo, hi):
                s, e = self.starts[r], self.starts[r + 1]
                groups.setdefault(int(self.shards[r]), []).append(_Postings(
                    t, self.docs[s:e], self.tfs[s:e], self.dls[s:e]))
        return list(groups.values())

    def topk(self, query: str, k: int = 10, exclude=None) -> DataFrame:
        """``wand_topk`` over the resident arrays: (doc_id, score)."""
        qf_map = query_qf(query)
        idf_map = self._idf(qf_map)
        ex = _exclude_bitmap(exclude)
        parts = [_score_group(g, qf_map, idf_map, self.avgdl, k, ex)
                 for g in self._groups(idf_map)]
        docs = np.concatenate([np.zeros(0, np.int64), *(d for d, _ in parts)])
        scores = np.concatenate([np.zeros(0), *(s for _, s in parts)])
        order = np.lexsort((docs, -scores))[:k]
        return self.spark.createDataFrame(
            _topk_frame(docs[order], scores[order]), _TOPK_SCHEMA)

    def topk_batch(self, queries: list[tuple[int, str]], k: int = 10,
                   exclude=None) -> DataFrame:
        """``wand_topk_batch`` over the resident arrays: (query_id, rank,
        doc_id, score)."""
        qf_maps = {int(qid): query_qf(q) for qid, q in queries}
        idf_map = self._idf({t for m in qf_maps.values() for t in m})
        ex = _exclude_bitmap(exclude)
        parts = [_score_group_batch(g, qf_maps, idf_map, self.avgdl, k, ex)
                 for g in self._groups(idf_map)]
        qids, docs, scores = (
            np.concatenate([np.zeros(0, dt), *(p[i] for p in parts)])
            for i, dt in enumerate((np.int32, np.int64, np.float64)))
        order = np.lexsort((docs, -scores, qids))
        qids, docs, scores = qids[order], docs[order], scores[order]
        rank = np.arange(len(qids)) - np.searchsorted(qids, qids) + 1
        keep = rank <= k
        return self.spark.createDataFrame(pd.DataFrame(
            {"query_id": pd.Series(qids[keep], dtype="int32"),
             "rank": pd.Series(rank[keep], dtype="int32"),
             "doc_id": pd.Series(docs[keep], dtype="int64"),
             "score": pd.Series(scores[keep], dtype="float64")}),
            _BATCH_RESULT_SCHEMA)
