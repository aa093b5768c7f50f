"""Cross-index federated search over independently-built index slices.

The web-scale serving layout for an ever-growing corpus is not one
monolithic index but MANY independently-built slices — one per day / per
tenant / per crawl — each the output of its own build run (cheap,
incremental, immutable). Querying the federation then has two halves:

1. **Statistics merge.** BM25's idf and length normalization are GLOBAL:
   scoring each slice with its local (df, N, avgdl) makes scores
   incomparable across slices (a term rare in yesterday's slice but
   common overall gets yesterday's docs overboosted). Per-slice stats
   are additive — df/cf sum, N sums, sum_dl sums — so the global stats
   table is one groupBy(term) over the per-slice lexicons (vocabulary-
   sized, tiny next to postings), and the scalar triple is a driver-side
   sum of per-slice manifest rows. This is the same additivity the
   segment merge (operators/merge.py) exploits; federation applies it at
   QUERY time, leaving the slices untouched.

2. **Scatter-gather retrieval.** The query runs over every slice's
   postings with the MERGED stats, and per-slice top-k candidates merge
   by score — with global stats the result is *bit-identical* to a
   single monolithic index over the union corpus (the gate oracle
   asserts exactly this: slice-invariance). In Spark the scatter is just
   a union of the slices' tf tables tagged by slice — one plan, one
   shuffle, every slice scanned in parallel; a time/tenant predicate
   prunes whole slices before the scan (partition pruning when slices
   are persisted partitionBy(slice)).

The reference engine has the degenerate 2-slice form of this: parallel
titles_* / repos_* index families queried together
(SearchEngine Engine/Engine/Engine.cs:18,99-122); federation generalizes
it to N homogeneous slices.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from searchengine_spark.operators.forward import CorpusScalars


def merge_slice_stats(slice_stats: list[DataFrame]) -> DataFrame:
    """Per-slice term_stats(term, df, cf) -> global term_stats.

    df and cf are additive across disjoint doc sets, so the merge is one
    union + hash agg over vocabulary-sized inputs. A term present in one
    slice only keeps its local counts — exactly its global counts."""
    unioned = slice_stats[0]
    for s in slice_stats[1:]:
        unioned = unioned.unionByName(s)
    return unioned.groupBy("term").agg(
        F.sum("df").cast("long").alias("df"),
        F.sum("cf").cast("long").alias("cf"),
    )


def merge_slice_scalars(slice_scalars: list[CorpusScalars]) -> CorpusScalars:
    """Per-slice (N, sum_dl) -> global scalars. avgdl is NOT additive —
    it is re-derived from the additive pair (the classic mergeable-
    aggregate discipline: merge the moments, derive the ratio last)."""
    n = sum(s.n_docs for s in slice_scalars)
    sum_dl = sum(s.sum_dl for s in slice_scalars)
    return CorpusScalars(
        n_docs=n, avgdl=(sum_dl / n if n else 0.0), sum_dl=sum_dl
    )


def federated_tf(slices: list[tuple[str, DataFrame]]) -> DataFrame:
    """[(slice_key, tf_table)] -> one (slice, term, doc_id, tf, dl)
    table (dl rides along — BM25's length normalization needs it and the
    per-slice tf tables already carry it).

    The union is lazy metadata — Spark scans every slice in parallel
    inside one job; a ``.filter(col("slice").isin(...))`` prunes whole
    slices at plan time (constant-folded against the literal tag, or
    partition-pruned against a persisted partitionBy("slice") layout)."""
    tagged = [
        tf.select(F.lit(key).alias("slice"), "term", "doc_id", "tf", "dl")
        for key, tf in slices
    ]
    out = tagged[0]
    for t in tagged[1:]:
        out = out.unionByName(t)
    return out


def federated_topk(
    slices: list[tuple[str, DataFrame]],
    slice_stats: list[DataFrame],
    slice_scalars: list[CorpusScalars],
    query: str,
    k: int = 10,
    slice_filter: list[str] | None = None,
    mode: str = "bm25",
) -> DataFrame:
    """Top-k over a federation of independently-built slices ->
    (doc_id, score), rounded 6dp, rank pinned (score desc, doc_id asc).

    With no ``slice_filter`` the scores are bit-identical to a single
    monolithic index over the union corpus (slice-invariance — the gate
    oracle). With a filter, only the named slices are scanned (the
    routing path: "search last 7 days"), still scored with GLOBAL stats
    so results stay comparable to the full federation's.

    Plan shape: stats merge is a vocabulary-sized agg; the retrieval is
    the standard one-broadcast-one-hash-agg exhaustive plan over the
    (pruned) union of slice postings. doc_ids are assumed globally
    unique across slices (the builder's prefix-sum placement
    guarantees it: operators/docids.py)."""
    from searchengine_spark.operators.topk import score_all

    stats = merge_slice_stats(slice_stats)
    scalars = merge_slice_scalars(slice_scalars)
    tf = federated_tf(slices)
    if slice_filter is not None:
        tf = tf.filter(F.col("slice").isin(list(slice_filter)))
    return (
        score_all(tf.drop("slice"), stats, scalars, query, mode)
        .select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def federated_wand_topk(
    slice_segments: list[tuple[str, DataFrame]],
    slice_stats: list[DataFrame],
    slice_scalars: list[CorpusScalars],
    query: str,
    k: int = 10,
    exclude=None,
    merged_stats: DataFrame | None = None,
    merged_scalars: CorpusScalars | None = None,
    idf_map: dict[str, float] | None = None,
) -> DataFrame:
    """Per-shard top-k across independently-built SEGMENT layouts — the
    federation's serving path (federated_topk is the exhaustive
    verification twin): per-slice doc-sharded segments queried together,
    scores computed with MERGED global statistics, result bit-identical
    to the scorer over one monolithic index (which itself equals
    exhaustive global BM25 — asserted transitively in tests).

    Segments store per-posting (tf, dl) and nothing derived from the
    slice's own statistics that scoring reads, so the kernel scores
    every slice with the global idf and avgdl directly. Shard keys are
    made slice-unique (shard*n_slices + i) so one scoring task never
    mixes two slices' rows of the same term; the k-merge across tasks is
    the ordinary per-shard top-k union.
    """
    from searchengine_spark.operators.wand import wand_topk

    stats = merged_stats if merged_stats is not None \
        else merge_slice_stats(slice_stats)
    g = merged_scalars if merged_scalars is not None \
        else merge_slice_scalars(slice_scalars)
    unioned = _federated_segments(slice_segments)
    return wand_topk(unioned, query, stats, g.n_docs, g.avgdl, k=k,
                     exclude=exclude, idf_map=idf_map)


def _federated_segments(
    slice_segments: list[tuple[str, DataFrame]],
) -> DataFrame:
    """Union per-slice doc-segment layouts into one servable table with
    slice-unique shard keys (see federated_wand_topk)."""
    n = len(slice_segments)
    parts = [
        segs.withColumn("shard", F.col("shard").cast("long") * n + F.lit(i))
        for i, (_, segs) in enumerate(slice_segments)
    ]
    unioned = parts[0]
    for p in parts[1:]:
        unioned = unioned.unionByName(p)
    return unioned


def _merge_ranges(ranges: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Sort half-open [a, b) intervals and coalesce overlapping or
    touching neighbours — keeps a consolidated slice's range set
    minimal no matter how many consolidation generations produced it."""
    out: list[list[int]] = []
    for a, b in sorted(ranges):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _slice_ranges(scalars_json: dict, n_docs: int) -> list[tuple[int, int]]:
    """The EXACT doc-id range set a slice occupies, from its
    scalars.json. A consolidated slice records its constituents'
    (possibly non-contiguous) ranges under ``doc_id_ranges``; claiming
    the whole envelope [min base, max end) instead would falsely reject
    a legitimately disjoint slice whose ids fall in a gap between
    constituents. Plain slices fall back to one [base, end) interval."""
    if scalars_json.get("doc_id_ranges"):
        return _merge_ranges(
            [(int(a), int(b)) for a, b in scalars_json["doc_id_ranges"]])
    base = int(scalars_json.get("doc_id_base", 0))
    end = max(base + n_docs, int(scalars_json.get("doc_id_end", 0)))
    return [(base, end)]


class FederatedEngine:
    """Load-once-serve-many over a FEDERATION of persisted indexes — the
    engine-lifecycle face of this module (engine.py SearchEngine is the
    single-index face). Each slice is an ordinary ``pipeline.run_build``
    output; the deployment contract is that slices were built with
    disjoint doc-id ranges (``run_build(doc_id_base=...)`` — e.g.
    day_epoch << 40), which load() verifies from each slice's
    scalars.json + n_docs. Statistics are merged at load (one
    vocabulary-sized agg, cached like SearchEngine's term_stats);
    queries run the per-shard scorer across every slice's segments with
    the merged statistics (federated_wand_topk).

    Serving shape at 10^12 turns: a new daily slice joins the
    federation by appearing in ``index_dirs`` — no rebuild, no merge
    job; retiring a slice is removing its dir. The sort-merge
    compaction path (operators/merge.py) remains available when slice
    count grows past the per-query scatter budget.
    """

    def __init__(self, spark, engines):
        self.spark = spark
        self.engines = engines
        self.stats = merge_slice_stats(
            [e.term_stats for e in engines]).cache()
        self.scalars = merge_slice_scalars([e.scalars for e in engines])
        # warm stats cache over the MERGED stats (same contract as
        # SearchEngine._df_memo: term -> merged df, 0 = OOV); repeat
        # query terms cost zero Spark actions for idf
        self._df_memo: dict = {}

    def _idf_for(self, terms) -> dict[str, float]:
        from searchengine_spark.operators.segments import idf_np

        missing = [t for t in terms if t not in self._df_memo]
        if missing:
            rows = (self.stats.filter(F.col("term").isin(missing))
                    .select("term", "df").collect())
            got = {r["term"]: int(r["df"]) for r in rows}
            for t in missing:
                self._df_memo[t] = got.get(t, 0)
        return {t: idf_np(self._df_memo[t], self.scalars.n_docs)
                for t in terms if self._df_memo[t] > 0}

    @staticmethod
    def load(spark, index_dirs: list[str],
             cache_stats: bool = True) -> "FederatedEngine":
        from searchengine_spark.engine import SearchEngine

        engines = [SearchEngine.load(spark, d, cache_stats=False)
                   for d in index_dirs]
        # disjointness check: [base, base + n_docs) must not overlap —
        # an overlapping pair means two slices can emit the same doc_id
        # for different documents, which would silently merge scores
        import json as _json
        import os as _os

        spans = []
        for d, e in zip(index_dirs, engines):
            with open(_os.path.join(d, "scalars.json")) as f:
                s = _json.load(f)
            for a, b in _slice_ranges(s, e.scalars.n_docs):
                spans.append((a, b, d))
        spans.sort()
        for (a0, a1, da), (b0, b1, db) in zip(spans, spans[1:]):
            if b0 < a1:
                raise ValueError(
                    f"doc-id ranges overlap: {da} [{a0},{a1}) vs "
                    f"{db} [{b0},{b1}) — build slices with disjoint "
                    "run_build(doc_id_base=...)")
        return FederatedEngine(spark, engines)

    def search(self, query: str, k: int = 10) -> DataFrame:
        """Top-k (doc_id, score) across every slice — the per-shard
        scorer with merged stats; per-slice tombstones composed into one
        exclude set (ids are globally unique by the load contract).

        Mixed layouts are routed per slice: doc-sharded slices run as
        ONE federated union (federated_wand_topk); slices with only the
        term-partitioned layout (a compacted STREAMING index exported by
        streaming/incremental.py — "today's slice") each run
        wand_topk_terms with the SAME merged stats. The k-row candidate
        sets merge under the pinned (score desc, doc_id asc) order —
        exact global BM25 either way, so the routing is invisible in the
        results."""
        from searchengine_spark.operators.wand import query_qf, wand_topk_terms

        dead = frozenset().union(*[e.tombstones() for e in self.engines])
        doc_es = [e for e in self.engines if e.doc_segments is not None]
        term_es = [e for e in self.engines if e.doc_segments is None]
        idf_map = self._idf_for(query_qf(query))
        outs = []
        if doc_es:
            outs.append(federated_wand_topk(
                [(e.index_dir, e.doc_segments) for e in doc_es],
                [e.term_stats for e in doc_es],
                [e.scalars for e in doc_es],
                query, k=k, exclude=dead or None,
                merged_stats=self.stats, merged_scalars=self.scalars,
                idf_map=idf_map,
            ))
        for e in term_es:
            if e.term_segments is None:
                raise ValueError(f"{e.index_dir}: no segment layout")
            outs.append(wand_topk_terms(
                e.term_segments, query, self.stats, self.scalars.n_docs,
                self.scalars.avgdl, k=k, exclude=dead or None,
                idf_map=idf_map,
            ))
        merged = outs[0]
        for o in outs[1:]:
            merged = merged.unionByName(o)
        return (merged.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
                if len(outs) > 1 else merged)

    def search_batch(self, queries: list, k: int = 10) -> DataFrame:
        """(query_id, rank, doc_id, score) for many queries in one pass
        across every doc-layout slice (wand.py wand_topk_batch over the
        union — postings decoded once per slice-shard for ALL queries;
        idf from the warm merged-stats cache). Term-layout slices are a
        per-query path; route them through search() or compact them into
        a doc layout first."""
        from searchengine_spark.operators.wand import query_qf, wand_topk_batch

        term_only = [e.index_dir for e in self.engines
                     if e.doc_segments is None]
        if term_only:
            raise ValueError(
                f"search_batch needs doc-layout slices; term-only: "
                f"{term_only}")
        dead = frozenset().union(*[e.tombstones() for e in self.engines])
        unioned = _federated_segments(
            [(e.index_dir, e.doc_segments) for e in self.engines])
        terms = {t for _, q in queries for t in query_qf(q)}
        return wand_topk_batch(unioned, queries, self.stats,
                               self.scalars.n_docs, self.scalars.avgdl,
                               k=k, exclude=dead or None,
                               idf_map=self._idf_for(terms))

    def fetch(self, doc_ids: list[int]) -> DataFrame:
        """Doc-store lookup across slices (ids are globally unique, so
        the union lookup returns one row per id)."""
        out = None
        for e in self.engines:
            part = e.doc_map.filter(F.col("doc_id").isin(list(doc_ids)))
            # allowMissingColumns: a streaming slice's reconstructed doc
            # map carries (doc_id, dl) only — absent metadata reads NULL
            out = part if out is None else out.unionByName(
                part, allowMissingColumns=True)
        return out

    def index_stats(self) -> dict:
        return {
            "n_slices": len(self.engines),
            "n_docs": self.scalars.n_docs,
            "avgdl": self.scalars.avgdl,
            "n_tombstones": sum(len(e.tombstones()) for e in self.engines),
        }

    def maybe_consolidate(self, out_root: str, max_slices: int = 8,
                          keep_hot: int = 2, df_target: int | None = None,
                          num_partitions: int | None = None,
                          ) -> "FederatedEngine | None":
        """Tiered-compaction-shaped retirement POLICY for the federation
        (streaming/incremental.py ``tiered_compact`` is the single-index
        twin): when the federation holds more than ``max_slices`` slices,
        the coldest ``n - keep_hot`` are merged into ONE consolidated
        slice via :func:`consolidate_slices` and a NEW FederatedEngine
        over ``[consolidated] + hot`` is returned; serving results are
        bit-identical by consolidate_slices' contract (tests pin it).
        At or under the threshold it returns ``None`` — call it after
        each slice onboarding, like tiered_compact after each batch.

        Age = a slice's minimum doc-id base: the deployment contract
        assigns bases monotonically (e.g. ``day_epoch << 40``), so the
        smallest base is the oldest day. ``keep_hot`` newest slices stay
        un-merged — they are the ones still receiving deletes/compactions
        and the ones a daily-slice federation replaces wholesale.

        Crash-safe ordering: the consolidated dir name is deterministic
        (``consolidated_<min_base>_<max_end>``) so a crashed retry
        overwrites its own orphan; constituent dirs are NOT deleted here
        — the caller retires them once the returned engine is serving
        (write new → cut over → remove old)."""
        import json as _json
        import os as _os

        if len(self.engines) <= max_slices:
            return None
        keep_hot = max(int(keep_hot), 0)
        if len(self.engines) - keep_hot < 2:
            return None  # nothing worth merging

        aged = []
        for e in self.engines:
            with open(_os.path.join(e.index_dir, "scalars.json")) as f:
                s = _json.load(f)
            rs = _slice_ranges(s, e.scalars.n_docs)
            aged.append((min(a for a, _ in rs), max(b for _, b in rs),
                         e.index_dir))
        aged.sort()
        cold = aged[:len(aged) - keep_hot] if keep_hot else aged
        hot_dirs = [d for _, _, d in aged[len(cold):]]
        out_dir = _os.path.join(
            out_root, f"consolidated_{cold[0][0]}_{max(b for _, b, _ in cold)}")
        consolidate_slices(self.spark, [d for _, _, d in cold], out_dir,
                           df_target=df_target,
                           num_partitions=num_partitions)
        return FederatedEngine.load(self.spark, [out_dir] + hot_dirs)


def consolidate_slices(
    spark,
    index_dirs: list[str],
    out_dir: str,
    df_target: int | None = None,
    num_partitions: int | None = None,
) -> str:
    """Merge COLD federation slices into one consolidated slice — the
    retirement/compaction policy for a federation that otherwise
    accumulates slices forever (per-query scatter cost grows with slice
    count; consolidation caps it).

    Uses the existing machinery end-to-end: each slice's term-partitioned
    segments (rebuilt from its doc store when only the doc layout exists
    — no re-tokenization, doc_map carries the (terms, tfs) arrays) are
    sort-merged by operators/merge.py merge_term_segments with
    doc_offset=0 (slice ids are already global under the doc_id_base
    contract); term_stats merge additively; scalars merge as moments.
    The constituents' tombstones are applied DURING the merge (the
    Lucene model: the merge decodes and re-encodes every posting anyway,
    so deletes are free) and the consolidated slice starts clean, with
    build-time stats pinned — so serving results are bit-identical
    before/after consolidation by construction, and tests assert it.

    The consolidated id range is the union of constituent ranges, which
    may be non-contiguous; scalars.json records the exact coalesced
    range SET under ``doc_id_ranges`` (plus the [base, end) envelope
    for older readers) so FederatedEngine.load's disjointness check is
    exact — a new slice whose ids fall in a gap between non-adjacent
    constituents still federates.

    Returns ``out_dir``, loadable by SearchEngine.load (term layout) and
    servable in a federation alongside the remaining hot slices."""
    import json as _json
    import os as _os

    from searchengine_spark.engine import SearchEngine
    from searchengine_spark.operators.ingest import tf_from_doc_map
    from searchengine_spark.operators.merge import merge_term_segments
    from searchengine_spark.operators.segments import (
        DEFAULT_DF_TARGET,
        build_term_segments,
    )

    if df_target is None:
        df_target = DEFAULT_DF_TARGET
    engines = [SearchEngine.load(spark, d, cache_stats=False)
               for d in index_dirs]
    ranges: list[tuple[int, int]] = []
    for d, e in zip(index_dirs, engines):
        with open(_os.path.join(d, "scalars.json")) as f:
            s = _json.load(f)
        ranges.extend(_slice_ranges(s, e.scalars.n_docs))
    ranges = _merge_ranges(ranges)
    dead = frozenset().union(*[e.tombstones() for e in engines])
    sc = merge_slice_scalars([e.scalars for e in engines])
    stats = merge_slice_stats([e.term_stats for e in engines])

    parts = []
    for e in engines:
        segs = e.term_segments
        if segs is None:
            segs = build_term_segments(
                tf_from_doc_map(e.doc_map), e.term_stats,
                e.scalars.n_docs, e.scalars.avgdl, df_target=df_target)
        parts.append((segs, 0))
    merged = merge_term_segments(
        parts, avgdl_merged=sc.avgdl, df_target=df_target,
        num_partitions=num_partitions, tombstones=dead or None)

    _os.makedirs(out_dir, exist_ok=True)
    merged.write.mode("overwrite").parquet(
        _os.path.join(out_dir, "term_segments.parquet"))
    stats.write.mode("overwrite").parquet(
        _os.path.join(out_dir, "term_stats.parquet"))
    doc_map = None
    for e in engines:
        # allowMissingColumns: a streaming slice's reconstructed doc map
        # carries (doc_id, dl) only — absent metadata reads NULL
        doc_map = e.doc_map if doc_map is None else doc_map.unionByName(
            e.doc_map, allowMissingColumns=True)
    if dead:
        doc_map = doc_map.filter(
            ~F.col("doc_id").isin([int(x) for x in dead]))
    doc_map.write.mode("overwrite").parquet(
        _os.path.join(out_dir, "doc_map.parquet"))
    with open(_os.path.join(out_dir, "scalars.json"), "w") as f:
        _json.dump({
            "n_docs": sc.n_docs,
            "sum_dl": sc.sum_dl,
            "avgdl": sc.avgdl,
            # envelope kept for older readers; the exact constituent
            # range SET is what FederatedEngine.load checks, so a
            # disjoint slice living in a gap between non-adjacent
            # constituents still federates
            "doc_id_base": ranges[0][0],
            "doc_id_end": ranges[-1][1],
            "doc_id_ranges": [[a, b] for a, b in ranges],
        }, f)
    return out_dir
