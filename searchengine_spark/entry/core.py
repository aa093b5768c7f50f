"""Core index queries: stats, postings, BM25/reference top-k, WAND, segments.

Split out of entry_queries.py (round 5); the ordered registry lives there.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from searchengine_spark.operators.topk import score_all
from searchengine_spark.operators.forward import (CorpusScalars, build_forward, build_term_stats, explode_forward)
from searchengine_spark.entry._shared import (BASE_CTES, _BM25_W, _TOKS_TEXT, _doc_segments, _docs, _index_parts, _query_cte)


def q_term_stats(spark, sf_dir):
    _, _, tf_table, stats, _ = _index_parts(spark, sf_dir)
    return stats.select("term", F.col("df").cast("long").alias("df"),
                        F.col("cf").cast("long").alias("cf"))


SQL_TERM_STATS = f"WITH {BASE_CTES} SELECT term, df, cf FROM stats"


def q_doc_lengths(spark, sf_dir):
    _, forward, *_ = _index_parts(spark, sf_dir)
    return forward.select("doc_id", F.col("dl").cast("long").alias("dl"))


SQL_DOC_LENGTHS = f"WITH {BASE_CTES} SELECT doc_id, dl FROM dl"


def q_corpus_scalars(spark, sf_dir):
    _, forward, *_ = _index_parts(spark, sf_dir)
    s = CorpusScalars.compute(forward)
    return spark.createDataFrame(
        [(s.n_docs, s.sum_dl, round(s.avgdl, 6))],
        "n_docs long, sum_dl long, avgdl double",
    )


SQL_CORPUS_SCALARS = (
    f"WITH {BASE_CTES} SELECT n AS n_docs, (SELECT sum(dl) FROM dl)::BIGINT AS sum_dl,"
    " round(avgdl, 6) AS avgdl FROM consts"
)


def q_tf_postings(spark, sf_dir):
    _, _, tf_table, *_ = _index_parts(spark, sf_dir)
    return tf_table.select("term", "doc_id", F.col("tf").cast("long").alias("tf"))


SQL_TF_POSTINGS = f"WITH {BASE_CTES} SELECT term, doc_id, tf FROM tf"


def _bm25_topk(query: str, k: int = 10):
    def run(spark, sf_dir):
        _, _, tf_table, stats, scalars = _index_parts(spark, sf_dir)
        allsc = score_all(tf_table, stats, scalars, query, mode="bm25")
        return (
            allsc.select("doc_id", F.round("score", 6).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    return run


def _bm25_topk_sql(query: str, k: int = 10) -> str:
    return f"""WITH {BASE_CTES},
{_query_cte(query)},
partial AS (
  SELECT tf.doc_id, {_BM25_W} AS w
  FROM tf JOIN q USING (term) JOIN stats s USING (term) JOIN dl USING (doc_id)
  CROSS JOIN consts c
)
SELECT doc_id, round(sum(w), 6) AS score FROM partial GROUP BY doc_id
ORDER BY score DESC, doc_id ASC LIMIT {k}"""


def _reference_topk(query: str, k: int = 10, cap: int = 1000):
    def run(spark, sf_dir):
        _, _, tf_table, stats, scalars = _index_parts(spark, sf_dir)
        allsc = score_all(
            tf_table, stats, scalars, query, mode="reference", posting_cap=cap
        )
        return (
            allsc.select("doc_id", F.round("score", 6).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    return run


def _reference_topk_sql(query: str, k: int = 10, cap: int = 1000) -> str:
    return f"""WITH {BASE_CTES},
{_query_cte(query)},
capped AS (
  SELECT x.doc_id, x.tf, x.qf, x.cf FROM (
    SELECT tf.doc_id, tf.tf, q.qf, s.cf,
           row_number() OVER (PARTITION BY tf.term ORDER BY tf.tf DESC, tf.doc_id ASC) AS rn
    FROM tf JOIN q USING (term) JOIN stats s USING (term)
  ) x WHERE x.rn <= {cap}
),
partial AS (
  SELECT doc_id, (tf / (cf::DOUBLE / c.n)) * qf AS w FROM capped CROSS JOIN consts c
)
SELECT doc_id, round(sum(w), 6) AS score FROM partial GROUP BY doc_id
ORDER BY score DESC, doc_id ASC LIMIT {k}"""


def q_segment_roundtrip(spark, sf_dir):
    """Compressed segment build + decode: proves the delta+varint segment
    codec is lossless at the driver gate (oracle = plain tf table)."""
    from searchengine_spark.operators.segments import segments_to_tf

    segs, *_ = _doc_segments(spark, sf_dir)
    return segments_to_tf(segs).select(
        "term", "doc_id", F.col("tf").cast("long").alias("tf")
    )


def q_merge_roundtrip(spark, sf_dir):
    """Sort-merge of two independently built segment tables (doc-id-range
    halves of the corpus) decodes to exactly the full corpus tf table —
    the incremental-indexing correctness gate (operators/merge.py)."""
    from searchengine_spark.operators.merge import merge_term_segments
    from searchengine_spark.operators.segments import (
        build_term_segments,
        segments_to_tf,
    )

    docs = _docs(spark, sf_dir)
    pivot = docs.agg(F.expr("percentile(doc_id, 0.5)")).collect()[0][0]
    halves = [docs.filter(F.col("doc_id") < pivot), docs.filter(F.col("doc_id") >= pivot)]
    parts = []
    for h in halves:
        forward = build_forward(h)
        tf_table = explode_forward(forward)
        stats = build_term_stats(tf_table)
        sc = CorpusScalars.compute(forward)
        parts.append(
            (build_term_segments(tf_table, stats, sc.n_docs, sc.avgdl,
                                 df_target=64), 0)  # doc_ids already global
        )
    merged = merge_term_segments(parts, avgdl_merged=30.0, df_target=64)
    return segments_to_tf(merged).select(
        "term", "doc_id", F.col("tf").cast("long").alias("tf")
    )


def q_wand_term_topk(spark, sf_dir, query: str = "spark join fast",
                     k: int = 10):
    """Per-range top-k over the TERM-partitioned (merged/incremental)
    layout — wand_topk_terms: partition-pruned fetch of the query's
    (term, salt) rows, re-split by doc range and scored per range.
    Must equal the exhaustive BM25 oracle exactly."""
    from searchengine_spark.operators.segments import build_term_segments
    from searchengine_spark.operators.wand import wand_topk_terms

    _, _, tf_table, stats, scalars = _index_parts(spark, sf_dir)
    segs = build_term_segments(tf_table, stats, scalars.n_docs,
                               scalars.avgdl, df_target=512)
    topk = wand_topk_terms(segs, query, stats, scalars.n_docs,
                           scalars.avgdl, k=k + 8)
    return (
        topk.select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def q_wand_topk_deletes(spark, sf_dir, query: str = "spark join fast",
                        k: int = 10):
    """Tombstone-masked WAND (operators/deletes.py): docs with
    doc_id % 17 == 3 are deleted; the kernel skips them before scoring
    and the top-k refills with live docs. Stats stay the build-time
    values (pinned, Lucene semantics), so the oracle is plain exhaustive
    BM25 with full-corpus stats and a WHERE on the result set."""
    from searchengine_spark.operators.wand import serve_topk

    segs, _, stats, scalars = _doc_segments(spark, sf_dir)
    dead = {r.doc_id for r in
            _docs(spark, sf_dir).select("doc_id")
            .filter(F.col("doc_id") % 17 == 3).collect()}
    topk, _ = serve_topk(segs, query, stats, scalars.n_docs, scalars.avgdl,
                         k=k + 8, exclude=dead)
    return (
        topk.select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def _wand_topk_deletes_sql(query: str, k: int = 10) -> str:
    return f"""WITH {BASE_CTES},
{_query_cte(query)},
partial AS (
  SELECT tf.doc_id, {_BM25_W} AS w
  FROM tf JOIN q USING (term) JOIN stats s USING (term) JOIN dl USING (doc_id)
  CROSS JOIN consts c
)
SELECT doc_id, round(sum(w), 6) AS score FROM partial
WHERE doc_id % 17 != 3
GROUP BY doc_id
ORDER BY score DESC, doc_id ASC LIMIT {k}"""


def _wand_topk(query: str, k: int = 10):
    """Per-shard top-k over doc-sharded segments — must match the exhaustive
    BM25 oracle SQL exactly (rank + rounded score).

    Over-fetch then round-and-relimit: the oracle selects its k rows on
    round(score, 6) with doc_id tie-break, so selecting on raw scores could
    flip near-ties at the k boundary (sub-1e-6 summation-order noise).
    Fetching k+8 and re-applying orderBy/limit on the ROUNDED score matches
    the exhaustive entries' discipline."""
    def run(spark, sf_dir):
        from searchengine_spark.operators.wand import serve_topk

        segs, _, stats, scalars = _doc_segments(spark, sf_dir)
        topk, _ = serve_topk(segs, query, stats, scalars.n_docs,
                             scalars.avgdl, k=k + 8)
        return (
            topk.select("doc_id", F.round("score", 6).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    return run


_FIELD_WEIGHTS = {"en": 2.0, "de": 1.5}  # others default 1.0


def q_fielded_topk(spark, sf_dir, query: str = "spark join fast", k: int = 10):
    """Reference two-field boost semantics (Engine.cs:18,162 title x100)
    generalized: per-field BM25 with per-field stats and boosts, one index."""
    from searchengine_spark.operators.fielded import fielded_topk

    out = fielded_topk(_docs(spark, sf_dir), "lang", _FIELD_WEIGHTS, query, k=k)
    return out.select("doc_id", F.round("score", 6).alias("score")).orderBy(
        F.desc("score"), F.asc("doc_id")
    )


_FIELDED_SQL_WEIGHT = "CASE WHEN field='en' THEN 2.0 WHEN field='de' THEN 1.5 ELSE 1.0 END"


def _fielded_topk_sql(query: str, k: int = 10) -> str:
    return f"""WITH ftokd AS (SELECT doc_id, lang AS field, {_TOKS_TEXT} AS t FROM documents),
ftoks AS (SELECT doc_id, field, unnest(t) AS term FROM ftokd),
ftf AS (SELECT doc_id, field, term, count(*)::BIGINT AS tf FROM ftoks GROUP BY 1, 2, 3),
ffdl AS (SELECT doc_id, field, coalesce(len(t), 0)::BIGINT AS fdl FROM ftokd),
fstats AS (SELECT field, term, count(*)::BIGINT AS df FROM ftf GROUP BY 1, 2),
fscal AS (SELECT field, count(*)::BIGINT AS n_fdocs, avg(fdl) AS avgfdl
          FROM ffdl WHERE fdl > 0 GROUP BY 1),
{_query_cte(query)},
partial AS (
  SELECT ftf.doc_id,
         ({_FIELDED_SQL_WEIGHT}) * q.qf
         * ln((sc.n_fdocs - st.df + 0.5) / (st.df + 0.5) + 1.0)
         * (ftf.tf * 2.2) / (ftf.tf + 1.2 * (0.25 + 0.75 * fl.fdl / sc.avgfdl)) AS w
  FROM ftf
  JOIN q USING (term)
  JOIN fstats st USING (field, term)
  JOIN fscal sc USING (field)
  JOIN ffdl fl ON fl.doc_id = ftf.doc_id AND fl.field = ftf.field
)
SELECT doc_id, round(sum(w), 6) AS score FROM partial GROUP BY doc_id
ORDER BY score DESC, doc_id ASC LIMIT {k}"""


_REF_FIELD_CAP = 50  # small enough to BIND at sf0.01 (hot terms have df > 50)


def q_fielded_reference_topk(spark, sf_dir, query: str = "spark join fast", k: int = 10):
    """Reference-EXACT two-field boost semantics (Engine.cs:146-173):
    boosted field scores weight*tf*qf unnormalized (title side, x100 at
    Engine.cs:18,162), base fields score (tf/(cf/N))*qf (body side,
    Engine.cs:151,172), per-(field,term) posting cap with pinned
    tie-break (Engine.cs:185,193)."""
    from searchengine_spark.operators.fielded import fielded_topk

    out = fielded_topk(
        _docs(spark, sf_dir), "lang", {"en": 100.0}, query, k=k,
        mode="reference", posting_cap=_REF_FIELD_CAP,
    )
    return out.select("doc_id", F.round("score", 6).alias("score")).orderBy(
        F.desc("score"), F.asc("doc_id")
    )


def _fielded_reference_topk_sql(query: str, k: int = 10, cap: int = _REF_FIELD_CAP) -> str:
    return f"""WITH ftokd AS (SELECT doc_id, lang AS field, {_TOKS_TEXT} AS t FROM documents),
ftoks AS (SELECT doc_id, field, unnest(t) AS term FROM ftokd),
ftf AS (SELECT doc_id, field, term, count(*)::BIGINT AS tf FROM ftoks GROUP BY 1, 2, 3),
fstats AS (SELECT field, term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf FROM ftf GROUP BY 1, 2),
fscal AS (SELECT field, count(DISTINCT doc_id)::BIGINT AS n_fdocs FROM ftf GROUP BY 1),
{_query_cte(query)},
capped AS (
  SELECT x.doc_id, x.field, x.term, x.tf, x.qf FROM (
    SELECT ftf.doc_id, ftf.field, ftf.term, ftf.tf, q.qf,
           row_number() OVER (PARTITION BY ftf.field, ftf.term
                              ORDER BY ftf.tf DESC, ftf.doc_id ASC) AS rn
    FROM ftf JOIN q USING (term)
  ) x WHERE x.rn <= {cap}
),
partial AS (
  SELECT c.doc_id,
         CASE WHEN c.field = 'en' THEN 100.0 * c.tf * c.qf
              ELSE c.qf * c.tf / (st.cf::DOUBLE / sc.n_fdocs) END AS w
  FROM capped c JOIN fstats st USING (field, term) JOIN fscal sc USING (field)
)
SELECT doc_id, round(sum(w), 6) AS score FROM partial GROUP BY doc_id
ORDER BY score DESC, doc_id ASC LIMIT {k}"""


_BATCH_QUERIES = ["spark join fast", "dup", "the the data", "window agg stream", "zzzabsent"]


def q_batch_wand_topk(spark, sf_dir, k: int = 5):
    """Batch per-shard top-k: all queries in one segment scan, posting
    lists decoded once per shard. Oracle = the exhaustive batch SQL."""
    from searchengine_spark.operators.wand import serve_topk_batch

    segs, _, stats, scalars = _doc_segments(spark, sf_dir)
    out, _ = serve_topk_batch(segs, list(enumerate(_BATCH_QUERIES)), stats,
                              scalars.n_docs, scalars.avgdl, k=k)
    return out.select(
        "query_id", F.col("rank").cast("long").alias("rank"), "doc_id",
        F.round("score", 6).alias("score"),
    )


def q_batch_topk(spark, sf_dir, k: int = 5):
    from searchengine_spark.functions.tokenize import tokenize_udf

    _, _, tf_table, stats, scalars = _index_parts(spark, sf_dir)
    queries = spark.createDataFrame(
        list(enumerate(_BATCH_QUERIES)), "query_id int, query string"
    )
    qterms = (
        queries.select("query_id", F.explode(tokenize_udf(F.col("query"))).alias("term"))
        .groupBy("query_id", "term")
        .agg(F.count("*").alias("qf"))
    )
    from searchengine_spark.operators.topk import _partial_weight

    joined = tf_table.join(F.broadcast(qterms), "term").join(stats, "term")
    scored = _partial_weight(joined, scalars, "bm25")
    per_doc = scored.groupBy("query_id", "doc_id").agg(
        F.round(F.sum("partial"), 6).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        per_doc.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )


def _batch_topk_sql(k: int = 5) -> str:
    return f"""WITH {BASE_CTES},
{_query_cte(*_BATCH_QUERIES)},
partial AS (
  SELECT q.query_id, tf.doc_id, {_BM25_W} AS w
  FROM tf JOIN q USING (term) JOIN stats s USING (term) JOIN dl USING (doc_id)
  CROSS JOIN consts c
),
scored AS (SELECT query_id, doc_id, round(sum(w), 6) AS score FROM partial GROUP BY 1, 2)
SELECT query_id, rank, doc_id, score FROM (
  SELECT query_id, doc_id, score,
         (row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC))::BIGINT AS rank
  FROM scored
) WHERE rank <= {k}"""


def q_doc_id_rank(spark, sf_dir):
    """The deterministic dense doc-id operator, oracled by a SQL window."""
    import datetime

    from searchengine_spark.operators.docids import assign_doc_ids

    docs = _docs(spark, sf_dir)
    as_transcripts = docs.select(
        F.lpad(F.col("doc_id").cast("string"), 10, "0").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.lit("user").alias("role"),
        "text",
        F.lit(None).cast("string").alias("tool"),
        F.lit(datetime.datetime(2026, 1, 1)).alias("ts"),
    )
    out = assign_doc_ids(as_transcripts, num_partitions=4)
    return out.select("conv_id", F.col("doc_id").alias("rank_id"))


SQL_DOC_ID_RANK = (
    "SELECT lpad(doc_id::VARCHAR, 10, '0') AS conv_id,"
    " (row_number() OVER (ORDER BY lpad(doc_id::VARCHAR, 10, '0')) - 1)::BIGINT AS rank_id"
    " FROM documents"
)
