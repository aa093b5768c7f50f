"""Query engine over a persisted index — the reference Engine's lifecycle
(load once, serve many) as a thin Spark-native API.

Reference: ``LoadEngine`` mmaps six directory/stat files into RAM, then an
HTTP loop serves ``Search(query)`` per request
(SearchEngine Engine/Engine/Engine.cs:32-124). Here:

    eng = SearchEngine.load(spark, index_dir)     # from pipeline.run_build
    eng.search("some words", k=10)                # dense per-shard scorer
    eng.search("some words", k=10, mode="exhaustive")
    eng.search_batch([(0, "a b"), (1, "c")], k=10)
    eng.fetch(doc_ids)                            # doc-store lookup

Load-time warm state = corpus scalars (a JSON read) + the cached
term_stats table (small: one row per term). The first doc-sharded query
decides where postings live, from the index itself (operators/wand.py
``resident_index``): when its postings fit a fixed share of the driver's
available memory, its Arrow size fits one collect, and it is no larger
than the largest index measured resident, the segments are decoded once
into driver-side arrays (``ResidentIndex``) and every later query is
scored there — the reference's RAM-resident model, with no Spark scan,
exchange or Python worker per query. Larger indexes stay on storage and
are read partition-pruned per query (``wand_topk``) — the RAM-residency
model doesn't survive 10^12 turns, partition pruning does.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from searchengine_spark.operators.forward import CorpusScalars
from searchengine_spark.operators.ingest import tf_from_doc_map
from searchengine_spark.operators.topk import score_topk
from searchengine_spark.operators.wand import (
    query_qf,
    serve_topk,
    serve_topk_batch,
    wand_topk_terms,
)


@dataclass
class SearchEngine:
    spark: SparkSession
    index_dir: str
    doc_map: DataFrame
    term_stats: DataFrame
    scalars: CorpusScalars
    doc_segments: DataFrame | None
    term_segments: DataFrame | None = None
    pos_postings: DataFrame | None = None
    #: warm stats cache: term -> df (0 = out of vocabulary). Query-
    #: vocabulary-sized (only terms actually searched land here), so
    #: driver-safe at any corpus scale; filled per miss with ONE tiny
    #: term_stats lookup, then every repeat query serves its idf map
    #: without a Spark action. Valid for the engine's lifetime: deletes
    #: never move build-time stats (Lucene semantics, see purge_deleted).
    _df_memo: dict = field(default_factory=dict, repr=False)
    #: mode actually served by the last search() call ("resident" |
    #: "wand" | "term" | "exhaustive" | ...) — introspection for auto-mode
    #: selection; "resident" is the doc-sharded scorer run in the driver.
    last_search_mode: str | None = field(default=None, repr=False)

    @staticmethod
    def load(spark: SparkSession, index_dir: str,
             cache_stats: bool = True) -> "SearchEngine":
        with open(os.path.join(index_dir, "scalars.json")) as f:
            s = json.load(f)
        stats = spark.read.parquet(os.path.join(index_dir, "term_stats.parquet"))
        if cache_stats:
            stats = stats.cache()
        seg_path = os.path.join(index_dir, "doc_segments.parquet")
        segs = spark.read.parquet(seg_path) if os.path.exists(seg_path) else None
        term_path = os.path.join(index_dir, "term_segments.parquet")
        tsegs = (spark.read.parquet(term_path)
                 if os.path.exists(term_path) else None)
        pos_path = os.path.join(index_dir, "pos_postings.parquet")
        pos = (spark.read.parquet(pos_path)
               if os.path.exists(pos_path) else None)
        return SearchEngine(
            spark=spark,
            index_dir=index_dir,
            doc_map=spark.read.parquet(os.path.join(index_dir, "doc_map.parquet")),
            term_stats=stats,
            scalars=CorpusScalars(
                n_docs=s["n_docs"], avgdl=s["avgdl"], sum_dl=s["sum_dl"]
            ),
            doc_segments=segs,
            term_segments=tsegs,
            pos_postings=pos,
        )

    # -- deletes (tombstone mask now, physical purge at compaction) ------

    def _tombstone_path(self) -> str:
        return os.path.join(self.index_dir, "tombstones.json")

    def tombstones(self) -> frozenset:
        """Deleted doc_ids (tombstones.json; empty set if none). Driver-
        sized by design — at 10^12 scale this becomes a Bloom/bitmap
        sidecar, same masking semantics (operators/deletes.py)."""
        p = self._tombstone_path()
        if not os.path.exists(p):
            return frozenset()
        with open(p) as f:
            return frozenset(int(d) for d in json.load(f))

    def delete_docs(self, doc_ids) -> frozenset:
        """Tombstone docs: excluded from every subsequent search
        immediately; bytes reclaimed by purge_deleted(). Atomic
        write-temp + replace (same discipline as streaming state)."""
        dead = self.tombstones() | {int(d) for d in doc_ids}
        p = self._tombstone_path()
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(sorted(dead), f)
        os.replace(tmp, p)
        return frozenset(dead)

    def purge_deleted(self, n_shards: int) -> int:
        """Physically remove tombstoned docs from EVERY persisted layout
        — doc segments (only affected shards rewritten,
        operators/deletes.py purge_doc_segments), term segments (decode/
        filter/re-encode compaction, purge_term_segments), positional
        postings and the doc store (row filters) — then clear the
        tombstone file. Clearing it is only safe once every layout is
        clean: a layout left stale would serve the deleted docs again
        the moment the mask disappears. Build-time stats stay pinned
        (Lucene semantics: deletes change which docs match, never how
        survivors score, until a rebuild). Returns the number of docs
        purged."""
        from searchengine_spark.operators.deletes import (
            purge_doc_segments,
            purge_term_segments,
        )

        dead = self.tombstones()
        if not dead:
            return 0
        import shutil

        def _swap(live_dir: str, new_dir: str) -> None:
            # crash-safe swap: rename-aside, rename-in, then delete —
            # at no instant is the live path absent without a complete
            # replacement one rename away (a plain rmtree+rename loses
            # the index if the process dies between the two)
            old = live_dir + ".old"
            shutil.rmtree(old, ignore_errors=True)
            os.rename(live_dir, old)
            os.rename(new_dir, live_dir)
            shutil.rmtree(old, ignore_errors=True)

        def _rewrite(live_dir: str, df) -> None:
            new_dir = live_dir + ".purge"
            df.write.mode("overwrite").parquet(new_dir)
            _swap(live_dir, new_dir)

        dead_ids = [int(d) for d in dead]
        if self.doc_segments is not None:
            seg_dir = os.path.join(self.index_dir, "doc_segments.parquet")
            _rewrite(seg_dir, purge_doc_segments(
                self.doc_segments, set(dead), self.scalars.n_docs,
                self.scalars.avgdl, n_shards=n_shards,
            ))
            self.doc_segments = self.spark.read.parquet(seg_dir)
        if self.term_segments is not None:
            tseg_dir = os.path.join(self.index_dir, "term_segments.parquet")
            _rewrite(tseg_dir, purge_term_segments(
                self.term_segments, set(dead), self.term_stats,
                self.scalars.n_docs, self.scalars.avgdl,
            ))
            self.term_segments = self.spark.read.parquet(tseg_dir)
        if self.pos_postings is not None:
            pos_dir = os.path.join(self.index_dir, "pos_postings.parquet")
            _rewrite(pos_dir, self.pos_postings.filter(
                ~F.col("doc_id").isin(dead_ids)))
            self.pos_postings = self.spark.read.parquet(pos_dir)
        map_dir = os.path.join(self.index_dir, "doc_map.parquet")
        _rewrite(map_dir, self.doc_map.filter(
            ~F.col("doc_id").isin(dead_ids)))
        self.doc_map = self.spark.read.parquet(map_dir)
        os.remove(self._tombstone_path())
        return len(dead)

    # -- query ----------------------------------------------------------

    def _idf_for(self, terms) -> dict[str, float]:
        """idf per in-vocabulary term of ``terms`` from the warm stats
        cache, collecting term_stats rows ONLY for never-seen terms
        (out-of-vocabulary terms memoized as df=0 so they never
        re-collect). Warm repeat terms cost zero Spark actions for stats,
        for single queries and batches alike."""
        from searchengine_spark.operators.segments import idf_np

        missing = [t for t in terms if t not in self._df_memo]
        if missing:
            rows = (
                self.term_stats.filter(F.col("term").isin(missing))
                .select("term", "df")
                .collect()
            )
            got = {r["term"]: int(r["df"]) for r in rows}
            for t in missing:
                self._df_memo[t] = got.get(t, 0)
        return {
            t: idf_np(self._df_memo[t], self.scalars.n_docs)
            for t in terms if self._df_memo[t] > 0
        }

    def search(self, query: str, k: int = 10,
               mode: str | None = None) -> DataFrame:
        """Top-k (doc_id, score). mode: "wand" (the dense per-shard
        scorer over the doc-sharded layout, operators/wand.py),
        "exhaustive" (relational verification path), "reference" (the
        reference formula incl. its 1000-posting cap), "term" (the same
        scorer over the term-partitioned layout — the merged/incremental
        serving path, operators/wand.py wand_topk_terms). Tombstoned
        docs are masked in every mode.

        ``mode=None`` (the default) picks the best available path,
        ES-style: the doc-sharded WAND layout when present, the
        term-partitioned layout otherwise, and the index-free exhaustive
        scorer as the last resort — so ``search(q)`` just works on any
        index. The served mode is recorded in ``last_search_mode``.
        mode="wand" still silently falls back to the term layout when
        only that layout exists (an index built by streaming
        compaction). A "wand" query is scored in the driver when the
        doc segments fit it (operators/wand.py ``serve_topk``; recorded
        as "resident"), by the Spark plan otherwise. Per-term idf comes
        from the resident df dict or the warm stats cache (``_idf_for``):
        repeat terms never re-trigger a stats lookup."""
        if mode is None:
            if self.doc_segments is not None:
                mode = "wand"
            elif self.term_segments is not None:
                mode = "term"
            else:
                mode = "exhaustive"
        dead = self.tombstones()
        if mode == "wand" and self.doc_segments is None \
                and self.term_segments is not None:
            mode = "term"
        self.last_search_mode = mode
        if mode == "term":
            if self.term_segments is None:
                raise ValueError("index has no term-segment layout")
            return wand_topk_terms(self.term_segments, query,
                                   self.term_stats, self.scalars.n_docs,
                                   self.scalars.avgdl, k=k,
                                   exclude=dead or None,
                                   idf_map=self._idf_for(query_qf(query)))
        if mode == "wand":
            if self.doc_segments is None:
                raise ValueError("index has no doc-segment layout")
            out, self.last_search_mode = serve_topk(
                self.doc_segments, query, self.term_stats,
                self.scalars.n_docs, self.scalars.avgdl, k=k,
                exclude=dead or None, idf_for=self._idf_for)
            return out
        from searchengine_spark.operators.deletes import exclude_tf

        tf = exclude_tf(tf_from_doc_map(self.doc_map), set(dead))
        score_mode = "bm25" if mode == "exhaustive" else mode
        return score_topk(tf, self.term_stats, self.scalars, query, k=k,
                          mode=score_mode)

    def search_boolean(self, query: str, k: int = 10) -> DataFrame:
        """``spark +join -slow``: BM25 over plain and '+' terms, every
        '+' term required, docs with any '-' term excluded
        (operators/boolquery.py). Tombstones masked."""
        from searchengine_spark.operators.boolquery import boolean_topk
        from searchengine_spark.operators.deletes import exclude_tf

        tf = exclude_tf(tf_from_doc_map(self.doc_map),
                        set(self.tombstones()))
        return boolean_topk(tf, self.term_stats, self.scalars, query, k=k)

    def search_prf(self, query: str, k: int = 10, r: int = 10,
                   e: int = 3, beta: float = 0.4) -> DataFrame:
        """PRF-expanded BM25 (operators/prf.py): mine the top-r results
        for e expansion terms, re-score with them at weight beta —
        recall past the literal query terms at ~2x query cost.
        Tombstones masked (a deleted doc neither ranks nor contributes
        expansion terms)."""
        from searchengine_spark.operators.deletes import exclude_tf
        from searchengine_spark.operators.prf import prf_topk

        tf = exclude_tf(tf_from_doc_map(self.doc_map),
                        set(self.tombstones()))
        return prf_topk(tf, self.term_stats, self.scalars, query,
                        k=k, r=r, e=e, beta=beta)

    def search_after(self, query: str, after_score: float,
                     after_doc: int, k: int = 10) -> DataFrame:
        """Cursor pagination: the k results strictly after
        (after_score, after_doc) in (score desc, doc_id asc) order —
        deep pages without the offset scan. Tombstones masked."""
        from searchengine_spark.operators.deletes import exclude_tf
        from searchengine_spark.operators.topk import score_topk_after

        tf = exclude_tf(tf_from_doc_map(self.doc_map),
                        set(self.tombstones()))
        return score_topk_after(tf, self.term_stats, self.scalars,
                                query, after_score, after_doc, k=k)

    def search_facets(self, query: str, field: str = "role",
                      k: int = 100, mode: str = "wand") -> DataFrame:
        """Facet counts over the top-k result set: run the query, join
        the (k-row, broadcast) hits onto the doc store, count per value
        of ``field`` (role / conv_id / tool / any doc_map column). The
        facet agg touches only k rows — the search does the heavy
        lifting."""
        hits = self.search(query, k=k, mode=mode).select("doc_id")
        return (
            self.doc_map.join(F.broadcast(hits), "doc_id")
            .groupBy(F.col(field).alias("value"))
            .agg(F.count("*").cast("long").alias("n"))
            .orderBy(F.desc("n"), F.asc("value"))
        )

    def significant_terms(self, query: str, k: int = 100,
                          n_top: int = 10, min_doc_count: int = 2,
                          mode: str = "wand") -> DataFrame:
        """JLH significant terms of the query's top-k hit set
        (operators/sigterms.py) — "what is this result set about". The
        foreground postings come from the (tombstone-masked) doc store;
        background df is the global term_stats, matching the pinned-
        until-rebuild stats discipline of every other scorer."""
        from searchengine_spark.operators.deletes import exclude_tf
        from searchengine_spark.operators.sigterms import significant_terms

        hits = self.search(query, k=k, mode=mode).select("doc_id")
        tf = exclude_tf(tf_from_doc_map(self.doc_map),
                        set(self.tombstones()))
        return significant_terms(tf, self.term_stats, self.scalars.n_docs,
                                 hits, n_top=n_top,
                                 min_doc_count=min_doc_count)

    def facet_histogram(self, query: str, interval_s: float,
                        k: int = 100, mode: str = "wand",
                        origin_s: float = 0.0) -> DataFrame:
        """Date-histogram facet over the top-k hit set
        (operators/facets.py): bucket the hits' doc-store ``ts`` by a
        fixed interval in seconds and count per bucket — the ES
        date_histogram analog for "when were the matching turns said"."""
        from searchengine_spark.operators.facets import facet_histogram

        hits = self.search(query, k=k, mode=mode).select("doc_id")
        doc_ts = self.doc_map.select(
            "doc_id", F.unix_timestamp("ts").cast("double").alias("ts_s"))
        return facet_histogram(hits, doc_ts, interval_s, origin=origin_s)

    def facet_ranges(self, query: str,
                     ranges: list[tuple[str, float | None, float | None]],
                     attr: str = "dl", k: int = 100,
                     mode: str = "wand") -> DataFrame:
        """Explicit range facet over the top-k hit set
        (operators/facets.py facet_ranges — the ES range aggregation):
        per-range counts of a numeric doc-store attribute, overlapping
        ranges double-count, empty ranges emitted at 0."""
        from searchengine_spark.operators.facets import facet_ranges

        hits = self.search(query, k=k, mode=mode).select("doc_id")
        return facet_ranges(hits, self.doc_map.select("doc_id", attr),
                            ranges, attr=attr)

    def facet_stats(self, query: str, by: str = "role", attr: str = "dl",
                    k: int = 100, mode: str = "wand") -> DataFrame:
        """Terms facet + numeric stats sub-agg over the top-k hit set
        (operators/facets.py facet_stats — ES terms+stats): per-bucket
        count and min/max/avg/sum of a doc-store attribute."""
        from searchengine_spark.operators.facets import facet_stats

        hits = self.search(query, k=k, mode=mode).select("doc_id")
        return facet_stats(hits, self.doc_map.select("doc_id", by, attr),
                           by=by, attr=attr)

    def facet_top_hits(self, query: str, by: str = "role",
                       per_bucket: int = 3, k: int = 100,
                       mode: str = "wand") -> DataFrame:
        """Terms facet + top_hits sub-agg (operators/facets.py
        facet_top_hits — ES terms+top_hits): best hits per bucket of a
        doc-store attribute, from the top-k result set."""
        from searchengine_spark.operators.facets import facet_top_hits

        hits = self.search(query, k=k, mode=mode).select("doc_id", "score")
        return facet_top_hits(hits, self.doc_map.select("doc_id", by),
                              by=by, per_bucket=per_bucket)

    def facet_percentiles(self, query: str, by: str = "role",
                          attr: str = "dl", k: int = 100,
                          probs: tuple = (0.25, 0.5, 0.75, 0.9),
                          approx: bool = False,
                          mode: str = "wand") -> DataFrame:
        """Terms facet + percentiles sub-agg over the top-k hit set
        (operators/facets.py facet_percentiles — ES terms+percentiles):
        per-bucket quantiles of a doc-store attribute; approx=True uses
        the mergeable GK sketch."""
        from searchengine_spark.operators.facets import facet_percentiles

        hits = self.search(query, k=k, mode=mode).select("doc_id")
        return facet_percentiles(hits, self.doc_map.select("doc_id", by, attr),
                                 by=by, attr=attr, probs=probs,
                                 approx=approx)

    def search_rescored(self, query: str, k: int = 10, window: int = 50,
                        rescore_weight: float = 1.0) -> DataFrame:
        """Two-pass rescoring (operators/topk.py rescore_topk — ES
        rescore API): BM25 window re-ranked with the Dirichlet
        likelihood; the second pass touches only window rows.
        Tombstones masked."""
        from searchengine_spark.operators.deletes import exclude_tf
        from searchengine_spark.operators.topk import rescore_topk

        tf = exclude_tf(tf_from_doc_map(self.doc_map),
                        set(self.tombstones()))
        return rescore_topk(tf, self.term_stats, self.scalars, query,
                            k=k, window=window,
                            rescore_weight=rescore_weight)

    def search_boosted(self, query: str, attr: str, factor: float = 1.0,
                       modifier: str = "log1p", k: int = 10) -> DataFrame:
        """Field-value-factor retrieval (operators/topk.py
        function_score_topk — ES function_score): BM25 multiplied by a
        modifier of a numeric doc-store attribute. Tombstones masked."""
        from searchengine_spark.operators.deletes import exclude_tf
        from searchengine_spark.operators.topk import function_score_topk

        if attr not in self.doc_map.columns:
            raise ValueError(f"doc store has no {attr!r} column")
        tf = exclude_tf(tf_from_doc_map(self.doc_map),
                        set(self.tombstones()))
        return function_score_topk(
            tf, self.term_stats, self.scalars,
            self.doc_map.select("doc_id", attr), query,
            attr=attr, factor=factor, modifier=modifier, k=k)

    def delete_by_query(self, query: str, mode: str = "exhaustive",
                        max_docs: int | None = None,
                        batch_size: int = 10_000) -> frozenset:
        """Tombstone every doc matching ``query`` (the ES
        delete_by_query analog): run the search (exhaustive mode by
        default so ALL matches are candidates, not just a top-k), mask
        the ids. ``max_docs`` is the ES semantic — a cap on the TOTAL
        number of documents deleted (None = delete every match);
        ``batch_size`` bounds each pass's driver-side id list — the same
        driver-sized-set contract as ``delete_docs`` (the broadcast-
        bitmap path in operators/wand.py handles serving-time masking
        at scale; physical removal is ``purge_deleted``). Returns the
        new full tombstone set. Drains in ``batch_size``-sized passes
        until no matches remain or ``max_docs`` is reached (the
        already-deleted ids are tombstone-masked out of the next pass),
        so a partial delete is never silent."""
        out = self.tombstones()
        deleted = 0
        while max_docs is None or deleted < max_docs:
            take = batch_size
            if max_docs is not None:
                take = min(take, max_docs - deleted)
            hits = self.search(query, k=take, mode=mode).select("doc_id")
            ids = [r["doc_id"] for r in hits.collect()]
            if not ids:
                break
            out = self.delete_docs(ids)
            deleted += len(ids)
            if len(ids) < take:
                break
        return out

    def index_stats(self) -> dict:
        """Serving-surface snapshot of the loaded index: corpus scalars
        plus vocabulary size and posting count from the (already
        aggregated) term_stats — one tiny agg, no postings scan."""
        row = self.term_stats.agg(
            F.count("*").alias("vocab"),
            F.sum("df").alias("postings"),
            F.sum("cf").alias("tokens"),
        ).collect()[0]
        return {
            "n_docs": int(self.scalars.n_docs),
            "avgdl": float(self.scalars.avgdl),
            "vocab": int(row["vocab"]),
            "postings": int(row["postings"]),
            "tokens": int(row["tokens"]),
            "n_tombstones": len(self.tombstones()),
            "layouts": [name for name, df in
                        (("doc", self.doc_segments),
                         ("term", self.term_segments),
                         ("pos", self.pos_postings)) if df is not None],
        }

    def more_like_this(self, doc_id: int, k: int = 10,
                       e: int = 5) -> DataFrame:
        """Related docs for a seed doc (operators/mlt.py): its e most
        characteristic terms run as a BM25 query, seed excluded.
        Tombstones masked — a deleted seed has no postings left, so it
        yields no related docs (by design)."""
        from searchengine_spark.operators.deletes import exclude_tf
        from searchengine_spark.operators.mlt import more_like_this

        tf = exclude_tf(tf_from_doc_map(self.doc_map),
                        set(self.tombstones()))
        return more_like_this(tf, self.term_stats, self.scalars,
                              doc_id, k=k, e=e)

    def search_phrase(self, phrase: str, k: int = 10) -> DataFrame:
        """Exact-phrase top-k: consecutive admitted tokens, BM25 on
        phrase tf, tombstones masked (operators/positional.py). Uses the
        persisted positional layout when the index was built with
        layouts=(..., "pos") — the query then reads only the phrase
        terms' posting rows — and falls back to the corpus-pass plan
        over the doc store's text otherwise."""
        from searchengine_spark.operators.positional import (
            phrase_topk,
            phrase_topk_indexed,
        )

        if self.pos_postings is not None:
            return phrase_topk_indexed(
                self.pos_postings, self.doc_map.select("doc_id", "dl"),
                phrase, self.scalars.n_docs, self.scalars.avgdl, k=k,
                exclude=self.tombstones(),
            )
        return phrase_topk(
            self.doc_map.select("doc_id", "text"),
            self.doc_map.select("doc_id", "dl"),
            phrase, self.scalars.n_docs, self.scalars.avgdl, k=k,
            exclude=self.tombstones(),
        )

    def search_near(self, term_a: str, term_b: str, window: int = 5,
                    k: int = 10) -> DataFrame:
        """Proximity (NEAR/window) top-k; BM25 on the within-window pair
        count, tombstones masked. Uses the persisted positional layout
        when present (two term-row point filters instead of a corpus
        pass — symmetric to search_phrase); falls back to the doc-store
        scan otherwise."""
        from searchengine_spark.operators.positional import (
            near_topk,
            near_topk_indexed,
        )

        if self.pos_postings is not None:
            return near_topk_indexed(
                self.pos_postings, self.doc_map.select("doc_id", "dl"),
                term_a, term_b, self.scalars.n_docs, self.scalars.avgdl,
                window=window, k=k, exclude=self.tombstones(),
            )
        return near_topk(
            self.doc_map.select("doc_id", "text"),
            self.doc_map.select("doc_id", "dl"),
            term_a, term_b, self.scalars.n_docs, self.scalars.avgdl,
            window=window, k=k, exclude=self.tombstones(),
        )

    def search_wildcard(self, prefix: str, k: int = 10,
                        n_expand: int = 5) -> DataFrame:
        """Wildcard query `prefix*` (operators/lexicon.py): dictionary
        expansion (df-ranked, capped at ``n_expand``) scored as a
        weighted BM25 OR-union. Tombstones masked."""
        from searchengine_spark.operators.deletes import exclude_tf
        from searchengine_spark.operators.lexicon import prefix_search_topk

        tf = exclude_tf(tf_from_doc_map(self.doc_map),
                        set(self.tombstones()))
        return prefix_search_topk(tf, self.term_stats, self.scalars,
                                  prefix, k=k, n_expand=n_expand)

    def search_regex(self, pattern: str, k: int = 10,
                     n_expand: int = 5) -> DataFrame:
        """Regex query: dictionary terms matching ``pattern`` (df-ranked,
        capped) scored as a unit-weight BM25 OR-union. Tombstones
        masked."""
        from searchengine_spark.operators.deletes import exclude_tf
        from searchengine_spark.operators.lexicon import regex_search_topk

        tf = exclude_tf(tf_from_doc_map(self.doc_map),
                        set(self.tombstones()))
        return regex_search_topk(tf, self.term_stats, self.scalars,
                                 pattern, k=k, n_expand=n_expand)

    def search_fuzzy(self, term: str, k: int = 10, max_dist: int = 1,
                     n_expand: int = 3) -> DataFrame:
        """Fuzzy query `term~max_dist`: levenshtein dictionary expansion
        weighted 1/(1+dist), BM25 OR-union. Tombstones masked."""
        from searchengine_spark.operators.deletes import exclude_tf
        from searchengine_spark.operators.lexicon import fuzzy_search_topk

        tf = exclude_tf(tf_from_doc_map(self.doc_map),
                        set(self.tombstones()))
        return fuzzy_search_topk(tf, self.term_stats, self.scalars, term,
                                 k=k, max_dist=max_dist, n_expand=n_expand)

    def search_lm(self, query: str, k: int = 10,
                  mu: float = 2000.0) -> DataFrame:
        """Dirichlet-smoothed query-likelihood ranking (operators/topk.py
        lm_dirichlet_topk) — the second probabilistic scorer next to
        BM25. Tombstones masked."""
        from searchengine_spark.operators.deletes import exclude_tf
        from searchengine_spark.operators.topk import lm_dirichlet_topk

        tf = exclude_tf(tf_from_doc_map(self.doc_map),
                        set(self.tombstones()))
        return lm_dirichlet_topk(tf, self.term_stats, self.scalars,
                                 query, k=k, mu=mu)

    def search_decayed(self, query: str, now_s: float,
                       half_life_s: float = 30 * 86400.0,
                       k: int = 10) -> DataFrame:
        """Recency-decayed BM25 (operators/topk.py decay_topk): final =
        score * 2^(-age/half_life), age from the doc store's ts column.
        Tombstones masked."""
        from searchengine_spark.operators.deletes import exclude_tf
        from searchengine_spark.operators.topk import decay_topk

        tf = exclude_tf(tf_from_doc_map(self.doc_map),
                        set(self.tombstones()))
        doc_ts = self.doc_map.select(
            "doc_id", F.col("ts").cast("double").alias("ts_s"))
        return decay_topk(tf, self.term_stats, self.scalars, doc_ts,
                          query, now_s=now_s, half_life_s=half_life_s, k=k)

    def search_filtered(self, query: str, field: str, value,
                        k: int = 10) -> DataFrame:
        """Metadata-filtered BM25 (operators/topk.py filtered_topk): rank
        only docs whose doc-store ``field`` equals ``value`` (role, lang,
        conv_id, ...). The predicate pushes down to the doc-store scan;
        corpus stats stay global. Tombstones masked."""
        from searchengine_spark.operators.deletes import exclude_tf
        from searchengine_spark.operators.topk import filtered_topk

        if field not in self.doc_map.columns:
            raise ValueError(f"doc store has no {field!r} column")
        tf = exclude_tf(tf_from_doc_map(self.doc_map),
                        set(self.tombstones()))
        allowed = self.doc_map.filter(
            F.col(field) == value).select("doc_id")
        return filtered_topk(tf, self.term_stats, self.scalars, allowed,
                             query, k=k)

    def search_msm(self, query: str, min_should_match: int = 2,
                   k: int = 10) -> DataFrame:
        """Minimum-should-match top-k (operators/topk.py msm_topk): rank
        only docs matching >= m distinct query terms — the ES
        minimum_should_match knob; precision dial between OR and AND for
        long queries. Tombstones masked."""
        from searchengine_spark.operators.deletes import exclude_tf
        from searchengine_spark.operators.topk import msm_topk

        tf = exclude_tf(tf_from_doc_map(self.doc_map),
                        set(self.tombstones()))
        return msm_topk(tf, self.term_stats, self.scalars, query,
                        min_should_match=min_should_match, k=k)

    def search_stemmed(self, query: str, k: int = 10) -> DataFrame:
        """S-stemmed BM25 top-k (operators/analyzers.py): the tf relation
        re-keyed through the Harman S-stemmer (JVM CASE expression),
        stem-level df recomputed on the fly, the query stemmed with the
        identical rules — recall-oriented retrieval ('tables' matches
        'table'). Tombstones masked."""
        from searchengine_spark.operators.analyzers import stemmed_topk
        from searchengine_spark.operators.deletes import exclude_tf

        tf = exclude_tf(tf_from_doc_map(self.doc_map),
                        set(self.tombstones()))
        return stemmed_topk(tf, self.scalars, query, k=k)

    def search_substring(self, needle: str, k: int = 10) -> DataFrame:
        """Raw-text substring top-k (operators/substring.py — the
        pg_trgm / Lucene wildcard-field shape): the needle's trigrams
        select candidates from an in-row gram extraction of the doc
        store, candidates only are verified and ranked by occurrence
        count. Serves needles the letter-run tokenizer cannot express
        (identifiers, error strings, token-boundary-crossing text).
        Tombstones masked at the doc store."""
        from searchengine_spark.operators.substring import substring_search

        docs = self.doc_map.select("doc_id", "text")
        dead = self.tombstones()
        if dead:
            docs = docs.filter(~F.col("doc_id").isin(sorted(dead)))
        return substring_search(docs, needle, k=k)

    def term_vectors(self, doc_id: int) -> DataFrame:
        """Per-doc term vectors (operators/termvectors.py — the ES
        _termvectors analog): every admitted term of one stored doc with
        tf, first position, and corpus df/cf. The doc_id filter prunes
        the doc-store scan; a deleted doc returns zero rows."""
        from searchengine_spark.operators.termvectors import term_vectors

        if doc_id in self.tombstones():
            return self.term_stats.sparkSession.createDataFrame(
                [], "term string, tf long, first_pos long, df long, cf long"
            )
        return term_vectors(self.doc_map.select("doc_id", "text"),
                            self.term_stats, doc_id)

    def explain(self, query: str, doc_id: int) -> DataFrame:
        """Score explanation for one doc (operators/topk.py explain_score
        — the ES _explain analog): per-term (qf, tf, df, dl, partial)
        rows summing to exactly the doc's reported BM25 score. The
        relevance-debugging surface; tombstones masked (a deleted doc
        explains to zero rows)."""
        from searchengine_spark.operators.deletes import exclude_tf
        from searchengine_spark.operators.topk import explain_score

        tf = exclude_tf(tf_from_doc_map(self.doc_map),
                        set(self.tombstones()))
        return explain_score(tf, self.term_stats, self.scalars, query,
                             doc_id)

    def count_hits(self, query: str, require_all: bool = False) -> int:
        """Total hits for ``query`` without ranking (OR semantics by
        default; ``require_all=True`` = every distinct term present).
        Tombstones masked."""
        from searchengine_spark.operators.deletes import exclude_tf
        from searchengine_spark.operators.topk import match_count

        tf = exclude_tf(tf_from_doc_map(self.doc_map),
                        set(self.tombstones()))
        return int(match_count(tf, query, require_all=require_all)
                   .collect()[0]["n_hits"])

    def search_synonyms(self, query: str, synonyms: DataFrame,
                        k: int = 10) -> DataFrame:
        """Query-time weighted synonym expansion (operators/lexicon.py):
        ``synonyms`` is a curated (term, syn, weight) DataFrame. Originals
        keep full weight; synonym hits score at the damped weight.
        Tombstones masked."""
        from searchengine_spark.operators.deletes import exclude_tf
        from searchengine_spark.operators.lexicon import synonym_search_topk

        tf = exclude_tf(tf_from_doc_map(self.doc_map),
                        set(self.tombstones()))
        return synonym_search_topk(tf, self.term_stats, self.scalars,
                                   query, synonyms, k=k)

    def search_bm25f(self, query: str, k: int = 10, title_len: int = 8,
                     weights: dict[str, float] | None = None) -> DataFrame:
        """True BM25F over a title/body token-window split of the doc
        store's text (operators/fielded.py). The field-split postings are
        an index artifact: built ONCE per (title_len, tombstone-set) and
        cached persisted, so repeated queries skip the corpus re-tokenize
        (bm25f_topk_indexed — the serving path; at cluster scale the same
        table is a persisted layout like pos_postings). Tombstoned docs
        are filtered BEFORE the field build, so they neither rank nor
        perturb the field statistics; any delete invalidates the cache."""
        from searchengine_spark.operators.fielded import bm25f_topk_indexed

        ftf, scal = self._field_layout(title_len)
        return bm25f_topk_indexed(ftf, self.term_stats,
                                  self.scalars.n_docs, query, k=k,
                                  weights=weights, field_scal=scal)

    def _field_layout(self, title_len: int):
        """Cached (field_tf, field_scal) split layout keyed on
        (title_len, tombstone set) — shared by every multi-field mode."""
        from searchengine_spark.operators.fielded import (
            build_split_field_tf,
            field_avg_lengths,
        )

        dead = self.tombstones()
        key = (title_len, dead)
        cached = getattr(self, "_bm25f_cache", None)
        if cached is None or cached[0] != key:
            docs = self.doc_map.select("doc_id", "text")
            if dead:
                docs = docs.filter(~F.col("doc_id").isin(list(dead)))
            ftf = build_split_field_tf(docs, title_len).persist()
            if cached is not None:
                cached[1].unpersist()
            self._bm25f_cache = (key, ftf, field_avg_lengths(ftf))
        _, ftf, scal = self._bm25f_cache
        return ftf, scal

    def search_dis_max(self, query: str, k: int = 10, title_len: int = 8,
                       tie_breaker: float = 0.0) -> DataFrame:
        """Disjunction-max multi-field retrieval (operators/fielded.py
        dis_max_topk — ES dis_max/best_fields): best-field BM25 +
        tie_breaker * rest, over the SAME cached field-split layout as
        search_bm25f (one persisted artifact serves both multi-field
        modes)."""
        from searchengine_spark.operators.fielded import dis_max_topk

        ftf, scal = self._field_layout(title_len)
        return dis_max_topk(ftf, self.term_stats, self.scalars.n_docs,
                            query, k=k, tie_breaker=tie_breaker,
                            field_scal=scal)

    def search_collapse(self, query: str, field: str = "conv_id",
                        k: int = 10, agg: str = "max") -> DataFrame:
        """Exact field collapsing (operators/collapse.py): grouped top-k
        over any doc-store column — the verification-grade twin of
        search_convs' WAND over-fetch path. Tombstones masked."""
        from searchengine_spark.operators.collapse import collapse_topk
        from searchengine_spark.operators.deletes import exclude_tf

        if field not in self.doc_map.columns:
            raise ValueError(f"doc store has no {field!r} column")
        tf = exclude_tf(tf_from_doc_map(self.doc_map),
                        set(self.tombstones()))
        groups = self.doc_map.select("doc_id", F.col(field).alias("group"))
        return collapse_topk(tf, self.term_stats, self.scalars, groups,
                             query, k=k, agg=agg)

    def search_batch(self, queries: list[tuple[int, str]], k: int = 10,
                     spread: int | None = None) -> DataFrame:
        """(query_id, rank, doc_id, score) for many queries in one pass.
        Tombstoned docs are masked like single-query search, and idf
        comes from the same warm stats cache, so a batch of known terms
        runs no stats lookup job. A resident index (see ``search``)
        scores the batch in the driver. ``spread``: explicit task count
        for the grouped scoring stage of the Spark plan (see
        operators/wand.py _spread_groups; default 4x parallelism)."""
        if self.doc_segments is None:
            raise ValueError("index has no doc-segment layout")
        out, _ = serve_topk_batch(
            self.doc_segments, queries, self.term_stats,
            self.scalars.n_docs, self.scalars.avgdl, k=k,
            exclude=self.tombstones() or None, idf_for=self._idf_for,
            spread=spread)
        return out

    def fetch(self, doc_ids: list[int]) -> DataFrame:
        """Doc-store lookup (the reference's GetTitle/wikitext seek,
        Engine.cs:201-207) — parquet min/max pruned point reads.
        Tombstoned docs are not served (deleted means gone everywhere,
        not just from rankings)."""
        dead = self.tombstones()
        live = [int(d) for d in doc_ids if int(d) not in dead]
        return self.doc_map.filter(F.col("doc_id").isin(live))

    def search_convs(self, query: str, k: int = 10,
                     turns_k: int = 200, agg: str = "max") -> DataFrame:
        """Conversation-level retrieval: run turn-level top-``turns_k``
        (WAND, over-fetched), join conv_ids from the doc store
        (broadcast of the turns_k-row side), aggregate per conversation
        (``agg``: "max" = best turn, "sum" = evidence accumulation),
        return the top-``k`` conversations with their best turn.

        The aggregation happens on <= turns_k rows on the driver-side
        plan, never on the corpus: conversation ranking costs the same
        as the underlying turn query."""
        if "conv_id" not in self.doc_map.columns:
            raise ValueError("index's doc store has no conv_id column")
        turns = self.search(query, k=turns_k)
        joined = self.doc_map.select("doc_id", "conv_id").join(
            F.broadcast(turns), "doc_id")
        agg_col = (F.max("score") if agg == "max"
                   else F.sum("score")).alias("conv_score")
        best = F.max(F.struct("score", "doc_id")).alias("_best")
        return (
            joined.groupBy("conv_id")
            .agg(agg_col, best, F.count("*").alias("n_matching_turns"))
            .select("conv_id", "conv_score",
                    F.col("_best.doc_id").alias("best_doc_id"),
                    "n_matching_turns")
            .orderBy(F.desc("conv_score"), F.asc("conv_id"))
            .limit(k)
        )

    def search_with_docs(self, query: str, k: int = 10) -> DataFrame:
        """Ranked results joined back to turn metadata + text (broadcast of
        the k-row side; the reference's result rendering path)."""
        topk = self.search(query, k=k)
        cols = [c for c in ("doc_id", "conv_id", "turn_idx", "role", "ts", "text")
                if c in self.doc_map.columns]
        return (
            self.doc_map.select(*cols)
            .join(F.broadcast(topk), "doc_id")
            .orderBy(F.desc("score"), F.asc("doc_id"))
        )
