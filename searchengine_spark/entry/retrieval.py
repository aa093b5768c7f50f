"""Retrieval extras: phrase/NEAR, scorers, rewrite, federation, LTR, rescoring.

Split out of entry_queries.py (round 5); the ordered registry lives there.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from searchengine_spark.operators.topk import score_all
from searchengine_spark.operators import similarity, textstats
from searchengine_spark.operators.forward import (CorpusScalars, build_forward, build_term_stats, explode_forward)
from searchengine_spark.entry._shared import (BASE_CTES, BM25_B, BM25_K1, _BM25_W, _TOKS_QUERY, _TOKS_TEXT, _docs, _index_parts, _load, _query_cte)
from searchengine_spark.entry.core import (_BATCH_QUERIES, _bm25_topk, _bm25_topk_sql)
from searchengine_spark.entry.similarity import (_query_vec)


def q_doc_keywords(spark, sf_dir, k: int = 3):
    """Per-doc top-k TF-IDF keywords (operators/textstats.doc_keywords):
    rank-pushdown window over tf x broadcast stats."""
    from searchengine_spark.operators.textstats import doc_keywords

    _, _, tf_table, stats, scalars = _index_parts(spark, sf_dir)
    return doc_keywords(tf_table, stats, scalars.n_docs, k=k)


SQL_DOC_KEYWORDS = f"""WITH {BASE_CTES},
scored AS (
  SELECT tf.doc_id, tf.term,
    tf.tf * ln(c.n::DOUBLE / s.df) AS tfidf
  FROM tf JOIN stats s USING (term) CROSS JOIN consts c
)
SELECT doc_id, rank, term, round(tfidf, 6) AS tfidf FROM (
  SELECT doc_id, term, tfidf,
    row_number() OVER (PARTITION BY doc_id
                       ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored
) WHERE rank <= 3"""


def q_search_snippets(spark, sf_dir, query: str = "spark join",
                      k: int = 10, width: int = 30):
    """Top-k + first-hit snippet (operators/snippets.py): JVM
    lower/locate/substring over the k result docs only."""
    from searchengine_spark.operators.snippets import first_snippet

    _, _, tf_table, stats, scalars = _index_parts(spark, sf_dir)
    allsc = score_all(tf_table, stats, scalars, query, mode="bm25")
    topk = (
        allsc.select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    out = first_snippet(docs.join(F.broadcast(topk), "doc_id"),
                        query, width=width)
    return out.select("doc_id", "score", "snip_pos", "snippet")         .orderBy(F.desc("score"), F.asc("doc_id"))


def _search_snippets_sql(query: str = "spark join", k: int = 10,
                         width: int = 30) -> str:
    terms = ["spark", "join"]
    pos_exprs = ", ".join(f"strpos(lower(d.text), '{t}')" for t in terms)
    return f"""WITH {BASE_CTES},
{_query_cte(query)},
partial AS (
  SELECT tf.doc_id, {_BM25_W} AS w
  FROM tf JOIN q USING (term) JOIN stats s USING (term) JOIN dl USING (doc_id)
  CROSS JOIN consts c
),
topk AS (
  SELECT doc_id, round(sum(w), 6) AS score FROM partial GROUP BY doc_id
  ORDER BY score DESC, doc_id ASC LIMIT {k}
),
hit AS (
  SELECT t.doc_id, t.score,
    (SELECT coalesce(min(p), 0) FROM unnest([{pos_exprs}]) AS u(p)
     WHERE p > 0) AS snip_pos,
    d.text
  FROM topk t JOIN documents d USING (doc_id)
)
SELECT doc_id, score, snip_pos::BIGINT AS snip_pos,
  CASE WHEN snip_pos > 0
       THEN substr(text, greatest(1, snip_pos - {width}), {2 * width})
       ELSE substr(text, 1, {width}) END AS snippet
FROM hit ORDER BY score DESC, doc_id ASC"""


def q_boolean_topk(spark, sf_dir,
                   query: str = "spark join +fast -slow", k: int = 10):
    """MUST/NOT boolean retrieval (operators/boolquery.py): BM25 over
    the scored terms, every '+' term required (semi-join gate), docs
    with any '-' term excluded (anti-join)."""
    from searchengine_spark.operators.boolquery import boolean_topk

    _, _, tf_table, stats, scalars = _index_parts(spark, sf_dir)
    out = boolean_topk(tf_table, stats, scalars, query, k=k)
    return (
        out.select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


SQL_BOOLEAN_TOPK = f"""WITH {BASE_CTES},
{_query_cte("spark join fast")},
partial AS (
  SELECT tf.doc_id, {_BM25_W} AS w
  FROM tf JOIN q USING (term) JOIN stats s USING (term) JOIN dl USING (doc_id)
  CROSS JOIN consts c
),
scored AS (SELECT doc_id, sum(w) AS score FROM partial GROUP BY doc_id),
must_ok AS (SELECT doc_id FROM tf WHERE term IN ('fast')
            GROUP BY doc_id HAVING count(DISTINCT term) = 1),
excl AS (SELECT DISTINCT doc_id FROM tf WHERE term = 'slow')
SELECT s.doc_id, round(s.score, 6) AS score
FROM scored s JOIN must_ok USING (doc_id)
WHERE s.doc_id NOT IN (SELECT doc_id FROM excl)
ORDER BY score DESC, doc_id ASC LIMIT 10"""


def q_phrase_topk(spark, sf_dir, phrase: str = "table hash", k: int = 10):
    """Exact-phrase retrieval (operators/positional.py): consecutive
    admitted-token match via posexplode + position-adjacency joins,
    BM25-scored on phrase tf (phrase as one synthetic term)."""
    from searchengine_spark.operators.positional import phrase_topk

    docs, forward, _, _, scalars = _index_parts(spark, sf_dir)
    out = phrase_topk(docs, forward, phrase, scalars.n_docs, scalars.avgdl,
                      k=k + 8)
    return (
        out.select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


_TOKP_CTE = (
    "tokp AS (SELECT doc_id, unnest(t) AS term,"
    " generate_subscripts(t, 1) - 1 AS pos FROM tokd)"
)

_SYNTH_BM25_SELECT = f"""SELECT m.doc_id,
       round(ln((c.n - pd.pdf + 0.5) / (pd.pdf + 0.5) + 1.0)
             * (m.mtf * {BM25_K1 + 1.0})
             / (m.mtf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl.dl / c.avgdl)), 6) AS score
FROM m JOIN dl USING (doc_id) CROSS JOIN consts c CROSS JOIN pdfc pd
ORDER BY score DESC, doc_id ASC LIMIT 10"""

SQL_PHRASE_TOPK = f"""WITH {BASE_CTES},
{_TOKP_CTE},
h0 AS (SELECT doc_id, pos AS p0 FROM tokp WHERE term = 'table'),
h1 AS (SELECT doc_id, pos - 1 AS p0 FROM tokp WHERE term = 'hash'),
hits AS (SELECT h0.doc_id FROM h0 JOIN h1 USING (doc_id, p0)),
m AS (SELECT doc_id, count(*)::BIGINT AS mtf FROM hits GROUP BY 1),
pdfc AS (SELECT count(*)::BIGINT AS pdf FROM m)
{_SYNTH_BM25_SELECT}"""


def q_near_topk(spark, sf_dir, term_a: str = "spark", term_b: str = "join",
                window: int = 3, k: int = 10):
    """Proximity retrieval (operators/positional.py): docs with the two
    terms within ``window`` admitted tokens (any order), BM25-scored on
    the within-window occurrence-pair count."""
    from searchengine_spark.operators.positional import near_topk

    docs, forward, _, _, scalars = _index_parts(spark, sf_dir)
    out = near_topk(docs, forward, term_a, term_b, scalars.n_docs,
                    scalars.avgdl, window=window, k=k + 8)
    return (
        out.select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


SQL_NEAR_TOPK = f"""WITH {BASE_CTES},
{_TOKP_CTE},
m AS (SELECT a.doc_id, count(*)::BIGINT AS mtf
      FROM tokp a JOIN tokp b
        ON a.doc_id = b.doc_id AND b.term = 'join'
       AND abs(a.pos - b.pos) <= 3
      WHERE a.term = 'spark'
      GROUP BY 1),
pdfc AS (SELECT count(*)::BIGINT AS pdf FROM m)
{_SYNTH_BM25_SELECT}"""


def q_slop_topk(spark, sf_dir, term_a: str = "spark", term_b: str = "join",
                slop: int = 2, k: int = 10):
    """Ordered-proximity retrieval (operators/positional.py slop_topk):
    docs where ``term_a`` precedes ``term_b`` by 1..slop admitted tokens
    (Lucene PhraseQuery-with-slop for two terms), BM25-scored on the
    ordered occurrence-pair count."""
    from searchengine_spark.operators.positional import slop_topk

    docs, forward, _, _, scalars = _index_parts(spark, sf_dir)
    out = slop_topk(docs, forward, term_a, term_b, scalars.n_docs,
                    scalars.avgdl, slop=slop, k=k + 8)
    return (
        out.select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


SQL_SLOP_TOPK = f"""WITH {BASE_CTES},
{_TOKP_CTE},
m AS (SELECT a.doc_id, count(*)::BIGINT AS mtf
      FROM tokp a JOIN tokp b
        ON a.doc_id = b.doc_id AND b.term = 'join'
       AND b.pos - a.pos BETWEEN 1 AND 2
      WHERE a.term = 'spark'
      GROUP BY 1),
pdfc AS (SELECT count(*)::BIGINT AS pdf FROM m)
{_SYNTH_BM25_SELECT}"""


def q_suggest_prefix(spark, sf_dir, prefix: str = "s", k: int = 10):
    """Autocomplete over the term dictionary (operators/lexicon.py):
    contiguous-range prefix filter + df-ranked top-k."""
    from searchengine_spark.operators.lexicon import suggest_prefix

    _, _, _, stats, _ = _index_parts(spark, sf_dir)
    return suggest_prefix(stats, prefix, k=k)


SQL_SUGGEST_PREFIX = f"""WITH {BASE_CTES}
SELECT term, df FROM stats WHERE term LIKE 's%'
ORDER BY df DESC, term ASC LIMIT 10"""


def q_did_you_mean(spark, sf_dir, term: str = "sar", k: int = 5):
    """Spelling suggestion: levenshtein <= 2 over the lexicon with a
    pushed-down length pre-filter, ranked (distance, df)."""
    from searchengine_spark.operators.lexicon import did_you_mean

    _, _, _, stats, _ = _index_parts(spark, sf_dir)
    return did_you_mean(stats, term, k=k)


SQL_DID_YOU_MEAN = f"""WITH {BASE_CTES}
SELECT term, levenshtein(term, 'sar')::BIGINT AS dist, df
FROM stats
WHERE abs(length(term) - 3) <= 2
  AND levenshtein(term, 'sar') <= 2 AND term != 'sar'
ORDER BY dist ASC, df DESC, term ASC LIMIT 5"""


_RRF_DEPTH = 20


def q_hybrid_rrf(spark, sf_dir, query: str = "spark join fast",
                 k: int = 10, depth: int = _RRF_DEPTH):
    """Hybrid retrieval: RRF fusion (operators/hybrid.py) of the lexical
    BM25 top-`depth` (documents) and the dense cosine top-`depth`
    (embeddings; vec_id ≡ doc_id). Both inputs are k-row; the fusion is
    a union + one agg over O(2·depth) rows."""
    from searchengine_spark.operators.hybrid import rrf_fuse, with_rank

    lex = _bm25_topk(query, depth)(spark, sf_dir)
    dense = similarity.cosine_topk(
        _load(spark, sf_dir, "embeddings"), _query_vec(spark, sf_dir),
        k=depth)
    return rrf_fuse(
        [with_rank(lex, "doc_id", "score"),
         with_rank(dense, "vec_id", "cos")],
        id_col="doc_id", k=k,
    )


def _hybrid_rrf_sql(query: str, k: int = 10, depth: int = _RRF_DEPTH) -> str:
    cos_topk = f"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
c AS (
  SELECT vec_id,
    list_sum(list_transform(range(1, len(embedding) + 1),
             i -> embedding[i]::DOUBLE * qe[i]::DOUBLE))
    / (sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
       * sqrt(list_sum(list_transform(qe, x -> x::DOUBLE * x::DOUBLE)))) AS cos
  FROM embeddings CROSS JOIN q
)
SELECT vec_id, round(cos, 6) AS cos FROM c
ORDER BY cos DESC, vec_id ASC LIMIT {depth}"""
    return f"""WITH lex AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS r
  FROM ({_bm25_topk_sql(query, depth)})
),
dense AS (
  SELECT vec_id AS doc_id, row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS r
  FROM ({cos_topk})
),
u AS (SELECT * FROM lex UNION ALL SELECT * FROM dense)
SELECT doc_id, round(sum(1.0 / (60 + r)), 6) AS rrf_score,
  count(*)::BIGINT AS n_lists
FROM u GROUP BY 1 ORDER BY rrf_score DESC, doc_id ASC LIMIT {k}"""


def q_bm25_page2(spark, sf_dir, query: str = "spark join fast",
                 k: int = 10):
    """Cursor pagination (operators/topk.py score_topk_after): page 2 is
    fetched through the SEARCH-AFTER predicate (score < cursor OR
    (= cursor AND doc_id > cursor-doc)) seeded from page 1's last row —
    while the oracle fetches it with OFFSET/LIMIT. Two different access
    paths that must agree row-for-row."""
    from searchengine_spark.operators.topk import score_topk_after

    _, _, tf_table, stats, scalars = _index_parts(spark, sf_dir)
    page1 = _bm25_topk(query, k)(spark, sf_dir).collect()
    last = page1[-1]
    return score_topk_after(tf_table, stats, scalars, query,
                            float(last["score"]), int(last["doc_id"]), k=k)


def _bm25_page2_sql(query: str, k: int = 10) -> str:
    return f"""WITH {BASE_CTES},
{_query_cte(query)},
partial AS (
  SELECT tf.doc_id, {_BM25_W} AS w
  FROM tf JOIN q USING (term) JOIN stats s USING (term) JOIN dl USING (doc_id)
  CROSS JOIN consts c
)
SELECT doc_id, round(sum(w), 6) AS score FROM partial GROUP BY doc_id
ORDER BY score DESC, doc_id ASC LIMIT {k} OFFSET {k}"""


_MLT_DOC, _MLT_E = 7, 5


def q_more_like_this(spark, sf_dir, doc_id: int = _MLT_DOC, k: int = 10):
    """Related-document retrieval (operators/mlt.py): the seed doc's e
    most characteristic terms (tf·ln(N/df)) run as a BM25 query with the
    seed excluded — the Lucene MoreLikeThis analog."""
    from searchengine_spark.operators.mlt import more_like_this

    _, _, tf_table, stats, scalars = _index_parts(spark, sf_dir)
    return more_like_this(tf_table, stats, scalars, doc_id, k=k, e=_MLT_E)


def _more_like_this_sql(doc_id: int = _MLT_DOC, k: int = 10,
                        e: int = _MLT_E) -> str:
    return f"""WITH {BASE_CTES},
seed AS (
  SELECT tf.term, round(tf.tf * ln(c.n / s.df), 6) AS w
  FROM tf JOIN stats s USING (term) CROSS JOIN consts c
  WHERE tf.doc_id = {doc_id}),
q AS (SELECT term, 1.0::DOUBLE AS qf FROM seed
      ORDER BY w DESC, term ASC LIMIT {e}),
partial AS (
  SELECT tf.doc_id, {_BM25_W} AS w
  FROM tf JOIN q USING (term) JOIN stats s USING (term)
  JOIN dl USING (doc_id) CROSS JOIN consts c
  WHERE tf.doc_id <> {doc_id}
)
SELECT doc_id, round(sum(w), 6) AS score FROM partial GROUP BY doc_id
ORDER BY score DESC, doc_id ASC LIMIT {k}"""


_PRF_R, _PRF_E, _PRF_BETA = 10, 3, 0.4


def q_prf_topk(spark, sf_dir, query: str = "spark join fast", k: int = 10):
    """Pseudo-relevance feedback (operators/prf.py): BM25 top-r docs ->
    top-e expansion terms by tf·ln(N/df) -> re-score with expansion terms
    at weight β. Two broadcast-query passes; the mining agg touches only
    the top-r docs' postings."""
    from searchengine_spark.operators.prf import prf_topk

    _, _, tf_table, stats, scalars = _index_parts(spark, sf_dir)
    return prf_topk(tf_table, stats, scalars, query, k=k,
                    r=_PRF_R, e=_PRF_E, beta=_PRF_BETA)


def _prf_topk_sql(query: str, k: int = 10, r: int = _PRF_R,
                  e: int = _PRF_E, beta: float = _PRF_BETA) -> str:
    return f"""WITH {BASE_CTES},
{_query_cte(query)},
partial0 AS (
  SELECT tf.doc_id, {_BM25_W} AS w
  FROM tf JOIN q USING (term) JOIN stats s USING (term) JOIN dl USING (doc_id)
  CROSS JOIN consts c
),
base AS (SELECT doc_id FROM (
  SELECT doc_id, round(sum(w), 6) AS score FROM partial0 GROUP BY doc_id
  ORDER BY score DESC, doc_id ASC LIMIT {r})),
expw AS (
  SELECT tf.term, round(sum(tf.tf * ln(c.n / s.df)), 6) AS w
  FROM tf JOIN base USING (doc_id) JOIN stats s USING (term)
  CROSS JOIN consts c
  WHERE tf.term NOT IN (SELECT term FROM q)
  GROUP BY tf.term),
exp AS (SELECT term, {beta}::DOUBLE AS qf FROM expw
        ORDER BY w DESC, term ASC LIMIT {e}),
q2 AS (SELECT term, qf::DOUBLE AS qf FROM q
       UNION ALL SELECT term, qf FROM exp),
partial AS (
  SELECT tf.doc_id, {_BM25_W} AS w
  FROM tf JOIN q2 q USING (term) JOIN stats s USING (term)
  JOIN dl USING (doc_id) CROSS JOIN consts c
)
SELECT doc_id, round(sum(w), 6) AS score FROM partial GROUP BY doc_id
ORDER BY score DESC, doc_id ASC LIMIT {k}"""


_COLLAPSE_QUERY = "spark join fast"
_COLLAPSE_K = 8


def q_collapse_topk(spark, sf_dir):
    """Field collapsing (operators/collapse.py): grouped top-k with the
    documents' source as the collapse field — best doc per source, groups
    ranked by their best score. The conversation-level serving twin is
    engine.search_convs (WAND over-fetch); this is the exact path."""
    from searchengine_spark.operators.collapse import collapse_topk

    docs, _, tf_table, stats, scalars = _index_parts(spark, sf_dir)
    groups = docs.select("doc_id", F.col("source").alias("group"))
    return collapse_topk(tf_table, stats, scalars, groups,
                         _COLLAPSE_QUERY, k=_COLLAPSE_K, agg="max")


SQL_COLLAPSE_TOPK = f"""WITH {BASE_CTES},
{_query_cte(_COLLAPSE_QUERY)},
partial AS (
  SELECT tf.doc_id, {_BM25_W} AS w
  FROM tf JOIN q USING (term) JOIN stats s USING (term) JOIN dl USING (doc_id)
  CROSS JOIN consts c
),
scores AS (SELECT doc_id, round(sum(w), 6) AS score FROM partial GROUP BY doc_id),
g AS (SELECT d.source AS grp, sc.score, sc.doc_id
      FROM scores sc JOIN documents d USING (doc_id)),
best AS (SELECT grp, doc_id AS best_doc_id FROM (
  SELECT grp, doc_id,
         row_number() OVER (PARTITION BY grp ORDER BY score DESC, doc_id ASC) AS rn
  FROM g) WHERE rn = 1),
aggd AS (SELECT grp, max(score) AS group_score, count(*)::BIGINT AS n_matching
         FROM g GROUP BY 1)
SELECT a.grp AS "group", a.group_score, b.best_doc_id, a.n_matching
FROM aggd a JOIN best b USING (grp)
ORDER BY group_score DESC, "group" ASC LIMIT {_COLLAPSE_K}"""


_PREFIX_Q = "s"
_PREFIX_EXPAND = 5
_FUZZY_Q = "slot"
_FUZZY_DIST = 2
_FUZZY_EXPAND = 3

# the BM25 partial with the expansion standing in for the query-term CTE
# (expansion aliased q so _BM25_W's q.qf resolves to the rewrite weight)
_EXPANDED_SCORE_SQL = f"""partial AS (
  SELECT tf.doc_id, {_BM25_W} AS w
  FROM tf JOIN exp q USING (term) JOIN stats s USING (term) JOIN dl USING (doc_id)
  CROSS JOIN consts c
)
SELECT doc_id, round(sum(w), 6) AS score FROM partial GROUP BY doc_id
ORDER BY score DESC, doc_id ASC LIMIT 10"""


def q_prefix_search(spark, sf_dir):
    """Wildcard rewrite `s*` (operators/lexicon.py prefix_search_topk):
    dictionary expansion (df-ranked, capped) -> weighted BM25 OR-union."""
    from searchengine_spark.operators.lexicon import prefix_search_topk

    _, _, tf_table, stats, scalars = _index_parts(spark, sf_dir)
    return prefix_search_topk(tf_table, stats, scalars, _PREFIX_Q,
                              k=10, n_expand=_PREFIX_EXPAND)


SQL_PREFIX_SEARCH = f"""WITH {BASE_CTES},
exp AS (
  SELECT term, 1.0 AS qf FROM stats
  WHERE term LIKE '{_PREFIX_Q}%'
  ORDER BY df DESC, term ASC LIMIT {_PREFIX_EXPAND}
),
{_EXPANDED_SCORE_SQL}"""


def q_fuzzy_search(spark, sf_dir):
    """Fuzzy rewrite `slot~2` (operators/lexicon.py fuzzy_search_topk):
    levenshtein expansion weighted 1/(1+dist) -> BM25 OR-union. The
    corpus dictionary expands this to slow (dist 1) + sort (dist 2)."""
    from searchengine_spark.operators.lexicon import fuzzy_search_topk

    _, _, tf_table, stats, scalars = _index_parts(spark, sf_dir)
    return fuzzy_search_topk(tf_table, stats, scalars, _FUZZY_Q,
                             k=10, max_dist=_FUZZY_DIST,
                             n_expand=_FUZZY_EXPAND)


SQL_FUZZY_SEARCH = f"""WITH {BASE_CTES},
exp AS (
  SELECT term, 1.0 / (1 + levenshtein(term, '{_FUZZY_Q}')) AS qf FROM stats
  WHERE abs(length(term) - {len(_FUZZY_Q)}) <= {_FUZZY_DIST}
    AND levenshtein(term, '{_FUZZY_Q}') <= {_FUZZY_DIST}
  ORDER BY levenshtein(term, '{_FUZZY_Q}') ASC, df DESC, term ASC
  LIMIT {_FUZZY_EXPAND}
),
{_EXPANDED_SCORE_SQL}"""


_REGEX_PAT = "ow$"
_REGEX_EXPAND = 5


def q_regex_search(spark, sf_dir):
    """Regex rewrite `/ow$/` (operators/lexicon.py regex_search_topk):
    the dictionary terms matching the pattern (slow/row/window in this
    corpus), df-ranked and capped, scored as a unit-weight BM25
    OR-union."""
    from searchengine_spark.operators.lexicon import regex_search_topk

    _, _, tf_table, stats, scalars = _index_parts(spark, sf_dir)
    return regex_search_topk(tf_table, stats, scalars, _REGEX_PAT,
                             k=10, n_expand=_REGEX_EXPAND)


SQL_REGEX_SEARCH = f"""WITH {BASE_CTES},
exp AS (
  SELECT term, 1.0 AS qf FROM stats
  WHERE regexp_matches(term, '{_REGEX_PAT}')
  ORDER BY df DESC, term ASC LIMIT {_REGEX_EXPAND}
),
{_EXPANDED_SCORE_SQL}"""


_LM_QUERY = "spark join fast"
_LM_MU = 2000.0


def q_lm_dirichlet_topk(spark, sf_dir):
    """Dirichlet-smoothed query likelihood (operators/topk.py
    lm_dirichlet_topk) — the second probabilistic scorer next to BM25;
    rank-equivalent sparse form, per-doc addend rides the hash agg."""
    from searchengine_spark.operators.topk import lm_dirichlet_topk

    _, _, tf_table, stats, scalars = _index_parts(spark, sf_dir)
    return lm_dirichlet_topk(tf_table, stats, scalars, _LM_QUERY,
                             k=10, mu=_LM_MU)


def _lm_dirichlet_sql(query: str, k: int = 10, mu: float = _LM_MU) -> str:
    # |q| = IN-VOCAB query tokens (OOV terms have p(t|C)=0 — dropped on
    # both sides of the rank equivalence, matching the operator)
    return f"""WITH {BASE_CTES},
{_query_cte(query)},
tot AS (SELECT sum(dl)::DOUBLE AS c FROM dl),
qlen AS (SELECT sum(qf)::DOUBLE AS n FROM q JOIN stats USING (term)),
partial AS (
  SELECT tf.doc_id, q.qf * ln(1.0 + tf.tf / ({mu} * (s.cf::DOUBLE / t.c))) AS w
  FROM tf JOIN q USING (term) JOIN stats s USING (term) CROSS JOIN tot t
),
agg AS (SELECT doc_id, sum(w) AS s FROM partial GROUP BY 1)
SELECT a.doc_id, round(a.s + ql.n * ln({mu} / (dl.dl + {mu})), 6) AS score
FROM agg a JOIN dl ON dl.doc_id = a.doc_id CROSS JOIN qlen ql
ORDER BY score DESC, a.doc_id ASC LIMIT {k}"""


_BM25F_QUERY = "spark join fast"
_BM25F_TITLE_LEN = 8
_BM25F_W_TITLE, _BM25F_W_BODY = 2.0, 1.0
_BM25F_B_TITLE, _BM25F_B_BODY = 0.5, 0.75


def q_bm25f_topk(spark, sf_dir):
    """TRUE BM25F (operators/fielded.py bm25f_topk): field-weighted,
    per-field-length-normalized tf accumulated ACROSS fields, saturated
    once with document-level idf (Robertson & Zaragoza 2009 §3.3).
    Fields = title (first 8 tokens) / body (rest)."""
    from searchengine_spark.operators.fielded import bm25f_topk

    docs, _, _, stats, scalars = _index_parts(spark, sf_dir)
    return bm25f_topk(
        docs, stats, scalars.n_docs, _BM25F_QUERY, k=10,
        title_len=_BM25F_TITLE_LEN,
        weights={"title": _BM25F_W_TITLE, "body": _BM25F_W_BODY},
        b_per_field={"title": _BM25F_B_TITLE, "body": _BM25F_B_BODY},
    )


_BM25F_W_SQL = f"CASE WHEN f.field = 'title' THEN {_BM25F_W_TITLE} ELSE {_BM25F_W_BODY} END"
_BM25F_B_SQL = f"CASE WHEN f.field = 'title' THEN {_BM25F_B_TITLE} ELSE {_BM25F_B_BODY} END"


def _bm25f_sql(query: str, k: int = 10) -> str:
    t = _BM25F_TITLE_LEN
    return f"""WITH {BASE_CTES},
fslice AS (SELECT doc_id, t[1:{t}] AS title, t[{t + 1}:] AS body FROM tokd),
funion AS (
  SELECT doc_id, 'title' AS field, unnest(title) AS term, len(title)::BIGINT AS fdl FROM fslice
  UNION ALL
  SELECT doc_id, 'body' AS field, unnest(body) AS term, len(body)::BIGINT AS fdl FROM fslice
),
ftf AS (SELECT doc_id, field, term, fdl, count(*)::BIGINT AS tf FROM funion GROUP BY 1, 2, 3, 4),
fscal AS (SELECT field, avg(fdl) AS avgfdl
          FROM (SELECT DISTINCT doc_id, field, fdl FROM funion) GROUP BY 1),
{_query_cte(query)},
wtf AS (
  SELECT f.doc_id, f.term,
         sum(({_BM25F_W_SQL}) * f.tf
             / (1.0 - ({_BM25F_B_SQL}) + ({_BM25F_B_SQL}) * f.fdl / sc.avgfdl)) AS wtf
  FROM ftf f JOIN q USING (term) JOIN fscal sc USING (field)
  GROUP BY 1, 2
),
partial AS (
  SELECT w.doc_id,
         q.qf * ln((c.n - s.df + 0.5) / (s.df + 0.5) + 1.0)
              * w.wtf / ({BM25_K1} + w.wtf) AS p
  FROM wtf w JOIN q USING (term) JOIN stats s USING (term) CROSS JOIN consts c
)
SELECT doc_id, round(sum(p), 6) AS score FROM partial GROUP BY doc_id
ORDER BY score DESC, doc_id ASC LIMIT {k}"""


_DECAY_QUERY = "spark join fast"
_DECAY_BASE = 1700000000
_DECAY_NOW = _DECAY_BASE + 600000
_DECAY_HALF = 86400.0


def q_decay_topk(spark, sf_dir):
    """Recency-decayed BM25 (operators/topk.py decay_topk): score *
    2^(-age/half_life), Elasticsearch function_score exp-decay analog.
    The documents proxy carries no timestamp, so the gate derives a
    deterministic one from doc_id (base + (doc_id % 10000) * 60 s) on
    BOTH engines; transcripts use the doc_map ts."""
    from searchengine_spark.operators.topk import decay_topk

    docs, _, tf_table, stats, scalars = _index_parts(spark, sf_dir)
    doc_ts = docs.select(
        "doc_id",
        (F.lit(float(_DECAY_BASE))
         + (F.col("doc_id") % 10000).cast("double") * F.lit(60.0)).alias("ts_s"),
    )
    return decay_topk(tf_table, stats, scalars, doc_ts, _DECAY_QUERY,
                      now_s=float(_DECAY_NOW), half_life_s=_DECAY_HALF, k=10)


def _decay_topk_sql(query: str, k: int = 10) -> str:
    return f"""WITH {BASE_CTES},
{_query_cte(query)},
partial AS (
  SELECT tf.doc_id, {_BM25_W} AS w
  FROM tf JOIN q USING (term) JOIN stats s USING (term) JOIN dl USING (doc_id)
  CROSS JOIN consts c
),
agg AS (SELECT doc_id, sum(w) AS s FROM partial GROUP BY 1)
SELECT doc_id,
       round(s * power(2.0, -({float(_DECAY_NOW)} - ({float(_DECAY_BASE)} + (doc_id % 10000) * 60.0)) / {_DECAY_HALF}), 6) AS score
FROM agg ORDER BY score DESC, doc_id ASC LIMIT {k}"""


_SYN_QUERY = "spark join fast"
_SYN_TABLE = [("join", "merge", 0.6), ("fast", "stream", 0.3)]


def q_synonym_topk(spark, sf_dir):
    """Query-time weighted synonym expansion (operators/lexicon.py
    synonym_search_topk): originals at full weight + synonyms at damped
    weight, summed per term, scored as one weighted BM25 OR-union."""
    from searchengine_spark.operators.lexicon import synonym_search_topk

    _, _, tf_table, stats, scalars = _index_parts(spark, sf_dir)
    syn = spark.createDataFrame(_SYN_TABLE, "term string, syn string, weight double")
    return synonym_search_topk(tf_table, stats, scalars, _SYN_QUERY, syn, k=10)


def _synonym_topk_sql(query: str, k: int = 10) -> str:
    vals = ", ".join(f"('{t}', '{s}', {w})" for t, s, w in _SYN_TABLE)
    return f"""WITH {BASE_CTES},
{_query_cte(query)},
syn(term, syn, w) AS (VALUES {vals}),
expall AS (
  SELECT term, qf::DOUBLE AS qf FROM q
  UNION ALL
  SELECT s.syn AS term, q0.qf * s.w AS qf FROM q q0 JOIN syn s USING (term)
),
exp AS (SELECT term, sum(qf) AS qf FROM expall GROUP BY 1),
{_EXPANDED_SCORE_SQL}"""


_FILTER_QUERY = "spark join fast"
_FILTER_LANG = "en"


def q_filtered_topk(spark, sf_dir):
    """Metadata-filtered BM25 (operators/topk.py filtered_topk): rank
    only lang='en' docs; left-semi filter BEFORE scoring, global corpus
    stats (standard filtered-search semantics)."""
    from searchengine_spark.operators.topk import filtered_topk

    docs, _, tf_table, stats, scalars = _index_parts(spark, sf_dir)
    allowed = docs.filter(F.col("lang") == _FILTER_LANG).select("doc_id")
    return filtered_topk(tf_table, stats, scalars, allowed,
                         _FILTER_QUERY, k=10)


def _filtered_topk_sql(query: str, k: int = 10) -> str:
    return f"""WITH {BASE_CTES},
{_query_cte(query)},
allowed AS (SELECT doc_id FROM documents WHERE lang = '{_FILTER_LANG}'),
partial AS (
  SELECT tf.doc_id, {_BM25_W} AS w
  FROM tf JOIN allowed USING (doc_id)
          JOIN q USING (term) JOIN stats s USING (term) JOIN dl USING (doc_id)
  CROSS JOIN consts c
)
SELECT doc_id, round(sum(w), 6) AS score FROM partial GROUP BY doc_id
ORDER BY score DESC, doc_id ASC LIMIT {k}"""


_COUNT_QUERY = "spark join fast"


def q_match_count(spark, sf_dir):
    """Total-hit counts (operators/topk.py match_count): one row with
    the OR-semantics candidate count and the AND-semantics count."""
    from searchengine_spark.operators.topk import match_count

    _, _, tf_table, *_ = _index_parts(spark, sf_dir)
    any_n = match_count(tf_table, _COUNT_QUERY, require_all=False)
    all_n = (match_count(tf_table, _COUNT_QUERY, require_all=True)
             .withColumnRenamed("n_hits", "n_hits_all"))
    return any_n.crossJoin(all_n)


def _match_count_sql(query: str) -> str:
    return f"""WITH {BASE_CTES},
{_query_cte(query)},
matched AS (SELECT DISTINCT tf.doc_id, tf.term FROM tf JOIN q USING (term)),
anyc AS (SELECT count(DISTINCT doc_id)::BIGINT AS n_hits FROM matched),
allc AS (
  SELECT count(*)::BIGINT AS n_hits_all FROM (
    SELECT doc_id FROM matched GROUP BY doc_id
    HAVING count(DISTINCT term) = (SELECT count(*) FROM q)
  )
)
SELECT anyc.n_hits, allc.n_hits_all FROM anyc CROSS JOIN allc"""


# -- round-3: result-set analytics + ranking evaluation --------------------

_SIG_QUERY = "spark join fast"
_SIG_K = 100
_SIG_TOP = 10
_SIG_MIN_DF = 2


def q_significant_terms(spark, sf_dir):
    """JLH significant terms over the query's top-100 hit set
    (operators/sigterms.py) — the ES significant_terms aggregation:
    terms unusually frequent in the hits relative to the corpus. The
    hit set is the same rounded-then-ranked BM25 top-k the facet query
    uses, so both engines derive an identical foreground."""
    from searchengine_spark.operators.sigterms import significant_terms

    _, _, tf_table, stats, scalars = _index_parts(spark, sf_dir)
    hits = (
        score_all(tf_table, stats, scalars, _SIG_QUERY, mode="bm25")
        .select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(_SIG_K)
        .select("doc_id")
    )
    return significant_terms(tf_table, stats, scalars.n_docs, hits,
                             n_top=_SIG_TOP, min_doc_count=_SIG_MIN_DF)


def _sig_terms_sql(query: str = _SIG_QUERY, k: int = _SIG_K,
                   n_top: int = _SIG_TOP, min_df: int = _SIG_MIN_DF) -> str:
    return f"""WITH {BASE_CTES},
{_query_cte(query)},
partial AS (
  SELECT tf.doc_id, {_BM25_W} AS w
  FROM tf JOIN q USING (term) JOIN stats s USING (term) JOIN dl USING (doc_id)
  CROSS JOIN consts c
),
top AS (SELECT doc_id FROM (
  SELECT doc_id, round(sum(w), 6) AS score FROM partial GROUP BY doc_id
  ORDER BY score DESC, doc_id ASC LIMIT {k})),
fgsize AS (SELECT count(*)::DOUBLE AS m FROM top),
fg AS (SELECT term, count(*)::BIGINT AS fg_df
       FROM tf JOIN top USING (doc_id) GROUP BY 1
       HAVING count(*) >= {min_df})
SELECT f.term, f.fg_df, s.df,
       round(((f.fg_df / g.m) - (s.df::DOUBLE / c.n))
             * ((f.fg_df / g.m) / (s.df::DOUBLE / c.n)), 6) AS score
FROM fg f JOIN stats s USING (term) CROSS JOIN consts c CROSS JOIN fgsize g
ORDER BY score DESC, term ASC LIMIT {n_top}"""


_RE_QUERIES = ["spark join fast", "dup", "window agg stream"]
_RE_K = 10
_RE_CAP = 1000


def q_rank_eval(spark, sf_dir):
    """Per-query nDCG@10 / MRR / P@10 (operators/rankeval.py — the ES
    _rank_eval analog) of the BM25 batch ranking against graded
    judgments mined from the reference scorer's top-10 (rel 3 for ranks
    1-3, 2 for 4-6, 1 for 7-10) — the scorer-A/B harness, measuring how
    far BM25 drifts from the reference ranking. Both rankings are
    rounded-then-ranked so the two engines agree on every rank."""
    from searchengine_spark.functions.tokenize import tokenize_udf
    from searchengine_spark.operators.rankeval import rank_eval
    from searchengine_spark.operators.topk import _partial_weight

    _, _, tf_table, stats, scalars = _index_parts(spark, sf_dir)
    queries = spark.createDataFrame(
        list(enumerate(_RE_QUERIES)), "query_id int, query string")
    qterms = (
        queries.select("query_id",
                       F.explode(tokenize_udf(F.col("query"))).alias("term"))
        .groupBy("query_id", "term")
        .agg(F.count("*").alias("qf"))
    )
    joined = tf_table.join(F.broadcast(qterms), "term").join(stats, "term")
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))

    bm = (
        _partial_weight(joined, scalars, "bm25")
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("partial"), 6).alias("score"))
    )
    ranking = (
        bm.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _RE_K)
        .select("query_id", "rank", "doc_id")
    )

    cw = Window.partitionBy("query_id", "term").orderBy(
        F.desc("tf"), F.asc("doc_id"))
    capped = (
        joined.withColumn("_rn", F.row_number().over(cw))
        .filter(F.col("_rn") <= _RE_CAP)
        .drop("_rn")
    )
    ref = (
        _partial_weight(capped, scalars, "reference")
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("partial"), 6).alias("score"))
    )
    judgments = (
        ref.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _RE_K)
        .select(
            "query_id", "doc_id",
            F.when(F.col("rn") <= 3, 3)
            .when(F.col("rn") <= 6, 2)
            .otherwise(1).alias("rel"),
        )
    )
    return rank_eval(ranking, judgments, k=_RE_K)


def _rank_eval_sql(k: int = _RE_K, cap: int = _RE_CAP) -> str:
    return f"""WITH {BASE_CTES},
{_query_cte(*_RE_QUERIES)},
partial AS (
  SELECT q.query_id, tf.doc_id, {_BM25_W} AS w
  FROM tf JOIN q USING (term) JOIN stats s USING (term) JOIN dl USING (doc_id)
  CROSS JOIN consts c
),
scored AS (SELECT query_id, doc_id, round(sum(w), 6) AS score FROM partial GROUP BY 1, 2),
ranking AS (SELECT query_id, doc_id, rank FROM (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored) WHERE rank <= {k}),
rcap AS (SELECT query_id, doc_id, tf, qf, cf FROM (
  SELECT q.query_id, tf.doc_id, tf.tf, q.qf, s.cf,
         row_number() OVER (PARTITION BY q.query_id, tf.term
                            ORDER BY tf.tf DESC, tf.doc_id ASC) AS rn
  FROM tf JOIN q USING (term) JOIN stats s USING (term)) WHERE rn <= {cap}),
rpart AS (SELECT query_id, doc_id, (tf / (cf::DOUBLE / c.n)) * qf AS w
          FROM rcap CROSS JOIN consts c),
rscored AS (SELECT query_id, doc_id, round(sum(w), 6) AS score FROM rpart GROUP BY 1, 2),
judg AS (SELECT query_id, doc_id,
                CASE WHEN rn <= 3 THEN 3 WHEN rn <= 6 THEN 2 ELSE 1 END AS rel
  FROM (SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rn
        FROM rscored) WHERE rn <= {k}),
hit AS (SELECT r.query_id, r.rank, coalesce(j.rel, 0)::DOUBLE AS rel
        FROM ranking r LEFT JOIN judg j
          ON r.query_id = j.query_id AND r.doc_id = j.doc_id),
perq AS (SELECT query_id,
    sum((power(2.0, rel) - 1.0) / log2(rank + 1.0)) AS dcg,
    coalesce(max(CASE WHEN rel > 0 THEN 1.0 / rank END), 0.0) AS mrr,
    sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END)::DOUBLE / {k} AS p_at_k
  FROM hit GROUP BY 1),
ideal AS (SELECT query_id, sum((power(2.0, rel) - 1.0) / log2(rn + 1.0)) AS idcg
  FROM (SELECT query_id, rel::DOUBLE AS rel,
               row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, doc_id ASC) AS rn
        FROM judg) WHERE rn <= {k} GROUP BY 1)
SELECT p.query_id,
       round(CASE WHEN i.idcg > 0 THEN p.dcg / i.idcg ELSE 0.0 END, 6) AS ndcg,
       round(p.mrr, 6) AS mrr, round(p.p_at_k, 6) AS p_at_k
FROM perq p LEFT JOIN ideal i USING (query_id)
ORDER BY query_id ASC"""


_MSM_QUERY = "spark join fast"
_MSM_M = 2


def q_msm_topk(spark, sf_dir):
    """Minimum-should-match retrieval (operators/topk.py msm_topk — the
    ES minimum_should_match knob): BM25 top-k over only the docs that
    match at least 2 of the 3 query terms; the distinct-term count rides
    the same hash agg as the score."""
    from searchengine_spark.operators.topk import msm_topk

    _, _, tf_table, stats, scalars = _index_parts(spark, sf_dir)
    return msm_topk(tf_table, stats, scalars, _MSM_QUERY,
                    min_should_match=_MSM_M, k=10)


def _msm_topk_sql(query: str = _MSM_QUERY, m: int = _MSM_M,
                  k: int = 10) -> str:
    return f"""WITH {BASE_CTES},
{_query_cte(query)},
partial AS (
  SELECT tf.doc_id, tf.term, {_BM25_W} AS w
  FROM tf JOIN q USING (term) JOIN stats s USING (term) JOIN dl USING (doc_id)
  CROSS JOIN consts c
),
agg AS (SELECT doc_id, count(DISTINCT term)::BIGINT AS n_matched,
               round(sum(w), 6) AS score
        FROM partial GROUP BY 1)
SELECT doc_id, n_matched, score FROM agg WHERE n_matched >= {m}
ORDER BY score DESC, doc_id ASC LIMIT {k}"""


_EXPLAIN_QUERY = "spark join fast"


def q_explain_score(spark, sf_dir):
    """Score explanation (operators/topk.py explain_score — the ES
    _explain analog): per-term (qf, tf, df, dl, partial) breakdown for
    the query's rounded-rank top-1 doc; partials sum to the reported
    score. Both engines pick the same doc (rounded-then-ranked,
    doc-id tie-break)."""
    from searchengine_spark.operators.topk import explain_score

    _, _, tf_table, stats, scalars = _index_parts(spark, sf_dir)
    top1 = (
        score_all(tf_table, stats, scalars, _EXPLAIN_QUERY, mode="bm25")
        .select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(1)
        .collect()[0]["doc_id"]
    )
    return explain_score(tf_table, stats, scalars, _EXPLAIN_QUERY,
                         int(top1))


def _explain_score_sql(query: str = _EXPLAIN_QUERY) -> str:
    return f"""WITH {BASE_CTES},
{_query_cte(query)},
partial AS (
  SELECT tf.doc_id, tf.term, q.qf, tf.tf, s.df, dl.dl, {_BM25_W} AS w
  FROM tf JOIN q USING (term) JOIN stats s USING (term) JOIN dl USING (doc_id)
  CROSS JOIN consts c
),
top1 AS (SELECT doc_id FROM (
  SELECT doc_id, round(sum(w), 6) AS score FROM partial GROUP BY doc_id
  ORDER BY score DESC, doc_id ASC LIMIT 1))
SELECT p.term, p.qf::BIGINT AS qf, p.tf::BIGINT AS tf, p.df::BIGINT AS df,
       p.dl::BIGINT AS dl, round(p.w, 6) AS partial
FROM partial p JOIN top1 USING (doc_id)
ORDER BY partial DESC, term ASC"""


_PERC_QUERIES = [(0, "spark join"), (1, "dup"), (2, "window agg stream")]


def q_percolate_hits(spark, sf_dir):
    """Percolation (operators/percolate.py — the ES percolate-query /
    Lucene reverse-search analog): match every document against three
    STORED queries under AND semantics; one (doc, query) row per
    triggered alert. The compiled query table is broadcast; the only
    shuffle is the (doc, query) count agg."""
    from searchengine_spark.operators.percolate import (
        compile_queries,
        percolate,
    )

    queries = spark.createDataFrame(_PERC_QUERIES,
                                    "query_id int, query string")
    return percolate(_docs(spark, sf_dir), compile_queries(queries))


def _percolate_sql() -> str:
    vals = ", ".join(f"({i}, '{q}')" for i, q in _PERC_QUERIES)
    return f"""WITH tokd AS (SELECT doc_id, {_TOKS_TEXT} AS t FROM documents),
dterms AS (SELECT DISTINCT doc_id, unnest(t) AS term FROM tokd),
qraw(query_id, query) AS (VALUES {vals}),
qt AS (SELECT DISTINCT query_id, unnest({_TOKS_QUERY}) AS term FROM qraw),
req AS (SELECT query_id, count(*)::BIGINT AS n_required FROM qt GROUP BY 1),
hits AS (SELECT d.doc_id, q.query_id, count(*)::BIGINT AS n_matched
         FROM dterms d JOIN qt q USING (term) GROUP BY 1, 2)
SELECT h.doc_id, h.query_id, h.n_matched, r.n_required
FROM hits h JOIN req r USING (query_id)
WHERE h.n_matched >= r.n_required
ORDER BY doc_id ASC, query_id ASC"""


# -- round-3b: analyzers, substring search, term vectors, range facets ------

# (key, from, to): half-open [from, to), None = unbounded; 'long'
# deliberately overlaps 'mid' to exercise the ES a-doc-counts-in-every-
# matching-range semantics, and 'huge' is empty at gate scale to pin the
# emit-zero-count-ranges contract.


_STEM_QUERY = "tables joins sessions"
# crosses a token boundary ("...join fast...") — a raw-text substring the
# term index cannot express; 49 matching docs at sf0.01 (non-vacuous).
_SUBSTR_NEEDLE = "oin f"
_TV_DOC = 7


def q_stemmed_topk(spark, sf_dir, query: str = _STEM_QUERY, k: int = 10):
    """S-stemmed retrieval (operators/analyzers.py): the tf relation is
    re-keyed through Harman's S-stemmer (one portable CASE expression,
    JVM codegen), df/cf recomputed over stems, the query stemmed with the
    identical rules — so 'tables' retrieves docs saying 'table'. No
    second corpus pass: stemming is a projection + one hash re-agg of
    the existing tf table."""
    from searchengine_spark.operators.analyzers import stemmed_topk

    _, _, tf_table, _, scalars = _index_parts(spark, sf_dir)
    return stemmed_topk(tf_table, scalars, query, k=k)


def _stemmed_topk_sql(query: str = _STEM_QUERY, k: int = 10) -> str:
    from searchengine_spark.operators.analyzers import STEM_CASE_SQL

    stem_t = STEM_CASE_SQL.format(c="term")
    return f"""WITH {BASE_CTES},
{_query_cte(query)},
tfs AS (SELECT doc_id, {stem_t} AS term, sum(tf)::BIGINT AS tf
        FROM tf GROUP BY 1, 2),
statss AS (SELECT term, count(*)::BIGINT AS df FROM tfs GROUP BY 1),
qs AS (SELECT {stem_t} AS term, sum(qf)::BIGINT AS qf FROM q GROUP BY 1),
partial AS (
  SELECT tf.doc_id,
         q.qf * ln((c.n - s.df + 0.5) / (s.df + 0.5) + 1.0)
         * (tf.tf * {BM25_K1 + 1.0})
         / (tf.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl.dl / c.avgdl)) AS w
  FROM tfs tf JOIN qs q USING (term) JOIN statss s USING (term)
  JOIN dl USING (doc_id) CROSS JOIN consts c
)
SELECT doc_id, round(sum(w), 6) AS score FROM partial GROUP BY doc_id
ORDER BY score DESC, doc_id ASC LIMIT {k}"""


def q_substring_search(spark, sf_dir, needle: str = _SUBSTR_NEEDLE,
                       k: int = 10):
    """Substring search via the character-trigram index
    (operators/substring.py — the pg_trgm / Lucene wildcard-field shape):
    the needle's trigrams prune the gram posting table (pushed-down IN),
    ALL-grams candidates only are verified with one JVM occurrence-count
    expression; ranked by occurrences. The oracle is the ground-truth
    full LIKE scan — index path == scan path is the correctness claim."""
    from searchengine_spark.operators.substring import substring_search

    return substring_search(_docs(spark, sf_dir), needle, k=k)


def _substring_search_sql(needle: str = _SUBSTR_NEEDLE, k: int = 10) -> str:
    nd = needle.lower()
    return f"""WITH occ AS (
  SELECT doc_id,
         CAST((length(lower(text)) - length(replace(lower(text), '{nd}', '')))
              / {len(nd)} AS BIGINT) AS occ
  FROM documents
)
SELECT doc_id, occ FROM occ WHERE occ > 0
ORDER BY occ DESC, doc_id ASC LIMIT {k}"""


def q_term_vectors(spark, sf_dir, doc_id: int = _TV_DOC):
    """Per-doc term vectors (operators/termvectors.py — the ES
    _termvectors analog): every admitted term of one doc with tf, first
    position (admitted-token ordinal), and corpus df/cf. The doc_id
    filter is pushed to the doc-store scan; the doc's tiny term set is
    broadcast into the stats join."""
    from searchengine_spark.operators.termvectors import term_vectors

    _, _, _, stats, _ = _index_parts(spark, sf_dir)
    return term_vectors(_docs(spark, sf_dir), stats, doc_id)


def _term_vectors_sql(doc_id: int = _TV_DOC) -> str:
    return f"""WITH {BASE_CTES},
{_TOKP_CTE},
tv AS (SELECT term, count(*)::BIGINT AS tf, min(pos)::BIGINT AS first_pos
       FROM tokp WHERE doc_id = {doc_id} GROUP BY 1)
SELECT tv.term, tv.tf, tv.first_pos, s.df, s.cf
FROM tv JOIN stats s USING (term)
ORDER BY term ASC"""


# -- round-3c: sub-aggregations, dis_max, function_score, federation --------


_DISMAX_QUERY = "spark join fast"
_DISMAX_TIE = 0.3


def q_dis_max_topk(spark, sf_dir):
    """Disjunction-max multi-field retrieval (operators/fielded.py
    dis_max_topk — ES dis_max / best_fields): per-field BM25 over the
    same title/body split as bm25f, combined as max + tie_breaker *
    rest. Shares the bm25f field-split layout and stats treatment."""
    from searchengine_spark.operators.fielded import (
        build_split_field_tf, dis_max_topk,
    )

    docs, _, _, stats, scalars = _index_parts(spark, sf_dir)
    ftf = build_split_field_tf(docs, title_len=_BM25F_TITLE_LEN)
    return dis_max_topk(
        ftf, stats, scalars.n_docs, _DISMAX_QUERY, k=10,
        tie_breaker=_DISMAX_TIE,
        b_per_field={"title": _BM25F_B_TITLE, "body": _BM25F_B_BODY},
    )


def _dis_max_sql(query: str = _DISMAX_QUERY, k: int = 10,
                 tie: float = _DISMAX_TIE) -> str:
    t = _BM25F_TITLE_LEN
    k1 = BM25_K1
    return f"""WITH {BASE_CTES},
fslice AS (SELECT doc_id, t[1:{t}] AS title, t[{t + 1}:] AS body FROM tokd),
funion AS (
  SELECT doc_id, 'title' AS field, unnest(title) AS term, len(title)::BIGINT AS fdl FROM fslice
  UNION ALL
  SELECT doc_id, 'body' AS field, unnest(body) AS term, len(body)::BIGINT AS fdl FROM fslice
),
ftf AS (SELECT doc_id, field, term, fdl, count(*)::BIGINT AS tf FROM funion GROUP BY 1, 2, 3, 4),
fscal AS (SELECT field, avg(fdl) AS avgfdl
          FROM (SELECT DISTINCT doc_id, field, fdl FROM funion) GROUP BY 1),
{_query_cte(query)},
pf AS (
  SELECT f.doc_id, f.field,
         sum(q.qf * ln((c.n - s.df + 0.5) / (s.df + 0.5) + 1.0)
             * (f.tf * {k1 + 1.0})
             / (f.tf + {k1} * (1.0 - ({_BM25F_B_SQL})
                + ({_BM25F_B_SQL}) * f.fdl / sc.avgfdl))) AS s_f
  FROM ftf f JOIN q USING (term) JOIN stats s USING (term)
       JOIN fscal sc USING (field) CROSS JOIN consts c
  GROUP BY 1, 2
)
SELECT doc_id, round(max(s_f) + {tie} * (sum(s_f) - max(s_f)), 6) AS score
FROM pf GROUP BY doc_id ORDER BY score DESC, doc_id ASC LIMIT {k}"""


_FSCORE_QUERY = "spark join fast"
_FSCORE_FACTOR = 0.01


def q_function_score_topk(spark, sf_dir):
    """Field-value-factor scoring (operators/topk.py function_score_topk
    — ES function_score): BM25 * ln(1 + 0.01 * n_chars), the static-
    popularity-signal fold; candidate-side attribute join only."""
    from searchengine_spark.operators.topk import function_score_topk

    docs, _, tf_table, stats, scalars = _index_parts(spark, sf_dir)
    return function_score_topk(
        tf_table, stats, scalars, docs.select("doc_id", "n_chars"),
        _FSCORE_QUERY, attr="n_chars", factor=_FSCORE_FACTOR,
        modifier="log1p", k=10,
    )


def _function_score_sql(query: str = _FSCORE_QUERY, k: int = 10) -> str:
    return f"""WITH {BASE_CTES},
{_query_cte(query)},
partial AS (
  SELECT tf.doc_id, {_BM25_W} AS w
  FROM tf JOIN q USING (term) JOIN stats s USING (term) JOIN dl USING (doc_id)
  CROSS JOIN consts c
),
agg AS (SELECT doc_id, sum(w) AS s FROM partial GROUP BY 1)
SELECT a.doc_id,
       round(a.s * ln(1.0 + {_FSCORE_FACTOR} * coalesce(d.n_chars, 0)), 6) AS score
FROM agg a LEFT JOIN documents d ON d.doc_id = a.doc_id
ORDER BY score DESC, a.doc_id ASC LIMIT {k}"""


_FED_QUERY = "spark join fast"
_FED_SLICES = 3


def q_federated_topk(spark, sf_dir):
    """Federated search over independently-built index slices
    (operators/federation.py): the corpus split into 3 slices by
    doc_id % 3, each slice's tf/stats/scalars built SEPARATELY (as
    independent daily/tenant builds would), then queried together with
    merged global statistics. The oracle is plain monolithic BM25 —
    slice-invariance (identical scores to a single index over the union)
    is exactly the property the statistics merge must deliver."""
    from searchengine_spark.operators.federation import federated_topk

    docs = _docs(spark, sf_dir)
    slices, slice_stats, slice_scalars = [], [], []
    for i in range(_FED_SLICES):
        sdocs = docs.filter(F.col("doc_id") % _FED_SLICES == i)
        fwd = build_forward(sdocs)
        tf = explode_forward(fwd)
        slices.append((f"s{i}", tf))
        slice_stats.append(build_term_stats(tf))
        slice_scalars.append(CorpusScalars.compute(fwd))
    return federated_topk(slices, slice_stats, slice_scalars,
                          _FED_QUERY, k=10)


_RESCORE_QUERY = "spark join fast"
_RESCORE_WINDOW = 50


def q_rescore_topk(spark, sf_dir):
    """Two-pass rescoring (operators/topk.py rescore_topk — ES rescore
    API): BM25 window of 50 candidates re-scored with the Dirichlet
    query likelihood, final = bm25 + 0.5 * lm. The second pass is a
    window-row broadcast join — corpus-size-independent."""
    from searchengine_spark.operators.topk import rescore_topk

    _, _, tf_table, stats, scalars = _index_parts(spark, sf_dir)
    return rescore_topk(tf_table, stats, scalars, _RESCORE_QUERY, k=10,
                        window=_RESCORE_WINDOW, rescore_weight=0.5)


def _rescore_topk_sql(query: str = _RESCORE_QUERY, k: int = 10,
                      window: int = _RESCORE_WINDOW,
                      rw: float = 0.5, mu: float = 2000.0) -> str:
    return f"""WITH {BASE_CTES},
{_query_cte(query)},
bpartial AS (
  SELECT tf.doc_id, {_BM25_W} AS w
  FROM tf JOIN q USING (term) JOIN stats s USING (term) JOIN dl USING (doc_id)
  CROSS JOIN consts c
),
win AS (
  SELECT doc_id, round(sum(w), 6) AS bm25 FROM bpartial GROUP BY 1
  ORDER BY bm25 DESC, doc_id ASC LIMIT {window}
),
tot AS (SELECT sum(dl)::DOUBLE AS c FROM dl),
qlen AS (SELECT sum(qf)::DOUBLE AS n FROM q JOIN stats USING (term)),
lpartial AS (
  SELECT tf.doc_id, q.qf * ln(1.0 + tf.tf / ({mu} * (s.cf::DOUBLE / t.c))) AS w
  FROM tf JOIN q USING (term) JOIN stats s USING (term) CROSS JOIN tot t
  WHERE tf.doc_id IN (SELECT doc_id FROM win)
),
lagg AS (SELECT doc_id, sum(w) AS s FROM lpartial GROUP BY 1),
lm AS (SELECT a.doc_id, round(a.s + ql.n * ln({mu} / (dl.dl + {mu})), 6) AS lm
       FROM lagg a JOIN dl ON dl.doc_id = a.doc_id CROSS JOIN qlen ql)
SELECT w.doc_id, round(w.bm25 + {rw} * coalesce(lm.lm, 0.0), 6) AS score
FROM win w LEFT JOIN lm USING (doc_id)
ORDER BY score DESC, doc_id ASC LIMIT {k}"""


_LTR_K = 20


def q_ltr_features(spark, sf_dir):
    """LTR training-data assembly (operators/ltr.py): batch candidate
    generation (top-20 BM25 per query) + the lexical feature vector per
    (query, doc) — bm25, matched/query term counts, tf/idf sums, max
    per-term partial, dl — all riding ONE hash agg over the scoring
    join. The offline twin of the serving engine's ranking, for
    training re-rankers on the same corpus statistics."""
    from searchengine_spark.operators.ltr import ltr_features

    _, _, tf_table, stats, scalars = _index_parts(spark, sf_dir)
    queries = spark.createDataFrame(
        list(enumerate(_BATCH_QUERIES)), "query_id int, query string"
    )
    return ltr_features(queries, tf_table, stats, scalars, k=_LTR_K)


def _ltr_features_sql(k: int = _LTR_K) -> str:
    return f"""WITH {BASE_CTES},
{_query_cte(*_BATCH_QUERIES)},
qlen AS (SELECT query_id, count(DISTINCT term)::BIGINT AS q_terms
         FROM q GROUP BY 1),
partial AS (
  SELECT q.query_id, tf.doc_id, tf.term, {_BM25_W} AS w, tf.tf, dl.dl,
         ln((c.n - s.df + 0.5) / (s.df + 0.5) + 1.0) AS idf
  FROM tf JOIN q USING (term) JOIN stats s USING (term)
       JOIN dl USING (doc_id) CROSS JOIN consts c
),
feats AS (
  SELECT query_id, doc_id, round(sum(w), 6) AS bm25,
         count(DISTINCT term)::BIGINT AS matched_terms,
         sum(tf)::BIGINT AS tf_sum, round(sum(idf), 6) AS idf_sum,
         round(max(w), 6) AS max_partial, max(dl)::BIGINT AS dl
  FROM partial GROUP BY 1, 2
),
ranked AS (
  SELECT *, (row_number() OVER (PARTITION BY query_id
             ORDER BY bm25 DESC, doc_id ASC))::BIGINT AS rank
  FROM feats
)
SELECT r.query_id, r.rank, r.doc_id, r.bm25, r.matched_terms, ql.q_terms,
       r.tf_sum, r.idf_sum, r.max_partial, r.dl
FROM ranked r JOIN qlen ql USING (query_id)
WHERE r.rank <= {k}"""


_FEDW_SPLIT_CHARS = 300


def q_federated_wand_topk(spark, sf_dir):
    """Federated per-shard top-k over per-slice SEGMENT layouts
    (operators/federation.py federated_wand_topk): corpus split into a
    short-doc and a long-doc slice (n_chars < 300) so each slice's own
    avgdl diverges from the global one, each slice's segments built
    INDEPENDENTLY with its own stats, then queried together with merged
    global statistics. The oracle is plain monolithic exhaustive BM25 —
    the strongest slice-invariance claim: the serving path is
    bit-identical across the federation boundary."""
    from searchengine_spark.operators.federation import federated_wand_topk
    from searchengine_spark.operators.segments import build_doc_segments

    docs = _docs(spark, sf_dir)
    slice_segments, slice_stats, slice_scalars = [], [], []
    for name, cond in [
        ("short", F.col("n_chars") < _FEDW_SPLIT_CHARS),
        ("long", F.col("n_chars") >= _FEDW_SPLIT_CHARS),
    ]:
        fwd = build_forward(docs.filter(cond))
        tf = explode_forward(fwd)
        st = build_term_stats(tf)
        sc = CorpusScalars.compute(fwd)
        slice_segments.append(
            (name, build_doc_segments(tf, st, sc.n_docs, sc.avgdl,
                                      n_shards=4)))
        slice_stats.append(st)
        slice_scalars.append(sc)
    topk = federated_wand_topk(slice_segments, slice_stats, slice_scalars,
                               _FED_QUERY, k=10)
    return (
        topk.select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
    )


def q_consolidated_topk(spark, sf_dir):
    """Slice retirement end-to-end (operators/federation.py
    consolidate_slices + FederatedEngine.load/search): the corpus is
    split into three doc-id tertile slices; each slice's term layout is
    built independently with its OWN stats and written as an on-disk
    slice dir; the two OUTER slices are consolidated into one — their
    scalars.json records the exact constituent range SET, which is
    non-contiguous because the middle tertile's ids sit in the gap —
    then the consolidated slice federates with the middle slice (the
    exact shape an envelope disjointness check would falsely reject).
    The oracle is plain monolithic exhaustive BM25: consolidation, the
    range-set check, and federation must all be invisible in the served
    results."""
    import json as _json
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from searchengine_spark.operators.federation import (
        FederatedEngine,
        consolidate_slices,
    )
    from searchengine_spark.operators.segments import build_term_segments

    docs = _docs(spark, sf_dir)
    ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    t1, t2 = ids[len(ids) // 3], ids[2 * len(ids) // 3]
    root = _tempfile.mkdtemp(prefix="consol_gate_")
    try:
        dirs = []
        for name, cond in [
            ("lo", F.col("doc_id") < t1),
            ("mid", (F.col("doc_id") >= t1) & (F.col("doc_id") < t2)),
            ("hi", F.col("doc_id") >= t2),
        ]:
            part = docs.filter(cond)
            fwd = build_forward(part)
            tf = explode_forward(fwd)
            st = build_term_stats(tf)
            sc = CorpusScalars.compute(fwd)
            d = _os.path.join(root, name)
            build_term_segments(tf, st, sc.n_docs, sc.avgdl).write.parquet(
                _os.path.join(d, "term_segments.parquet"))
            st.write.parquet(_os.path.join(d, "term_stats.parquet"))
            fwd.select(
                "doc_id", "dl",
                F.expr("transform(postings, p -> p.term)").alias("terms"),
                F.expr("transform(postings, p -> p.tf)").alias("tfs"),
            ).write.parquet(_os.path.join(d, "doc_map.parquet"))
            span = part.agg(F.min("doc_id").alias("lo"),
                            F.max("doc_id").alias("hi")).collect()[0]
            with open(_os.path.join(d, "scalars.json"), "w") as f:
                _json.dump({
                    "n_docs": sc.n_docs, "sum_dl": sc.sum_dl,
                    "avgdl": sc.avgdl,
                    "doc_id_base": int(span["lo"]),
                    "doc_id_end": int(span["hi"]) + 1,
                }, f)
            dirs.append(d)
        cold = consolidate_slices(spark, [dirs[0], dirs[2]],
                                  _os.path.join(root, "cold"))
        fed = FederatedEngine.load(spark, [cold, dirs[1]])
        out = [(int(r["doc_id"]), float(r["score"]))
               for r in fed.search(_FED_QUERY, k=10)
               .select("doc_id", "score").collect()]
    finally:
        _shutil.rmtree(root, ignore_errors=True)
    # k rows, rematerialized because the slice dirs are gone (lazy plans
    # over a deleted tempdir would rescan at driver-collect time)
    res = spark.createDataFrame(out, "doc_id long, score double")
    return (res.select("doc_id", F.round("score", 6).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(10))
