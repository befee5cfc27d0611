"""Keyword retrieval over the documents table: BM25 top-k scoring.

The missing piece between the exact/fuzzy dedup family (content equality)
and the embedding ANN family (semantic similarity): lexical relevance
ranking, the op behind corpus search, hard-negative mining, and
retrieval-augmented filtering in training-data pipelines.

Scale design: the corpus side never materializes an all-terms inverted
index — tokens are filtered to the query's term set *inside the explode
stage* (predicate on the generator output, so the shuffle carries only
|terms|-matching postings). Document-length and corpus stats are
dimension-sized aggregates joined back via broadcast. The only shuffle
keyed by doc_id carries at most |query terms| rows per doc.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiered_storage_for_apache_kafka_spark.operators.dedup import tokens_cached
from tiered_storage_for_apache_kafka_spark.operators.registry import (
    lineage_cut,
    query,
)
from tiered_storage_for_apache_kafka_spark.session import session_fixture
from tiered_storage_for_apache_kafka_spark.operators.similarity import _DOT
from tiered_storage_for_apache_kafka_spark.tables import load_table

K1 = 1.2
B = 0.75
B1 = 0.25  # 1 - B, pre-folded so both engines evaluate the same literal
TOP_N = 10
QUERY_TERMS = ["spark", "join", "window", "stream"]

_TERMS_SQL = ", ".join(f"'{t}'" for t in QUERY_TERMS)

# identical arithmetic shape on both engines (same literals, same
# parenthesization → identical IEEE evaluation order); `ln` on doubles
# plus ROUND(4) output is the established portable pattern
# (unigram_logprob_quality, tfidf_top_terms)
_SCORE = (
    "SUM(ln(1 + ({n} - {df} + 0.5) / ({df} + 0.5)) * "
    "{tf} * {k1p1} / ({tf} + {k1} * ({b1} + {b} * {dl} / ({tot} / {n}))))"
)


def _score_sql(n: str, df: str, tf: str, dl: str, tot: str) -> str:
    return _SCORE.format(n=n, df=df, tf=tf, dl=dl, tot=tot, k1=K1, k1p1=K1 + 1, b1=B1, b=B)


@session_fixture
def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_matched_terms, score) for every doc matching ≥1 query
    term — postings pruned to the query's terms before any shuffle,
    df/avgdl broadcast. Shared by the pure-BM25 top-k and the hybrid
    RRF fusion, so the scored frame (a few hundred matching docs) is
    materialized once per (session, corpus) with its lineage cut — the
    two consumers each re-ran the whole postings pipeline otherwise."""
    return lineage_cut(_bm25_scored_plan(spark, sf_dir))


def _bm25_scored_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = tokens_cached(spark, sf_dir)
    dl = toks.select("doc_id", F.size("toks").cast("bigint").alias("dl"))
    stats = dl.agg(
        F.sum("dl").cast("bigint").alias("total_dl"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
    )
    tf = (
        toks.select("doc_id", F.explode("toks").alias("tok"))
        .filter(F.col("tok").isin(QUERY_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    joined = (
        tf.join(F.broadcast(df), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_matched_terms"),
        F.expr(_score_sql("n_docs", "df", "tf", "dl", "total_dl")).alias("score"),
    )


# the BM25 scoring CTE chain, shared verbatim by the pure-BM25 oracle
# and the hybrid-RRF oracle so the two can never silently disagree
_BM25_CTE = rf"""toks AS (
  -- string_split_regex mirrors Spark's split() exactly (including the
  -- [''] result for empty text), keeping dl/avgdl engine-identical
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
), dl AS (
  SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks
), stats AS (
  SELECT CAST(SUM(dl) AS BIGINT) AS total_dl, CAST(COUNT(*) AS BIGINT) AS n_docs FROM dl
), tf AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
  WHERE tok IN ({_TERMS_SQL})
  GROUP BY doc_id, tok
), df AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok
), scored AS (
  SELECT tf.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_matched_terms,
         {_score_sql("s.n_docs", "d.df", "tf.tf", "dl.dl", "s.total_dl")} AS score
  FROM tf
  JOIN df d USING (tok)
  JOIN dl USING (doc_id)
  CROSS JOIN stats s
  GROUP BY tf.doc_id
)"""


@query(
    "bm25_topk_docs",
    oracle=f"""
WITH {_BM25_CTE}
SELECT doc_id, n_matched_terms, ROUND(score, 4) AS bm25_score,
       CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY ROUND(score, 4) DESC, doc_id ASC) AS rnk
  FROM scored
) WHERE rnk <= {TOP_N}
""",
)
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (k1={K1}, b={B}) top-{TOP_N} documents for a fixed keyword
    query. Postings are pruned to the query's terms before any shuffle;
    df/avgdl stats are broadcast; the final top-k is an orderBy+limit
    (TakeOrderedAndProject — no global window over the corpus)."""
    scored = _bm25_scored(spark, sf_dir)
    top = (
        scored.orderBy(F.round(F.col("score"), 4).desc(), F.col("doc_id").asc())
        .limit(TOP_N)
        .withColumn("bm25_score", F.round("score", 4))
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("bm25_score").desc(), F.col("doc_id").asc())
    return (
        top.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .select("doc_id", "n_matched_terms", "bm25_score", "rnk")
    )


RRF_K = 60  # the standard reciprocal-rank-fusion constant (Cormack et al.)
RRF_POOL = 50  # candidate pool per ranker
RRF_TOP = 10
RRF_QUERY_VEC = 7  # the query's embedding = this corpus vector

_COS = (
    "ROUND(list_dot_product(q.q_emb, v.emb)"
    " / (sqrt(list_dot_product(q.q_emb, q.q_emb))"
    " * sqrt(list_dot_product(v.emb, v.emb))), 4)"
)


@query(
    "hybrid_rrf_retrieval",
    oracle=f"""
WITH {_BM25_CTE}, text_pool AS (
  SELECT doc_id, CAST(rn AS BIGINT) AS r_text FROM (
    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY ROUND(score, 4) DESC, doc_id ASC) AS rn
    FROM scored
  ) WHERE rn <= {RRF_POOL}
), vecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
), qv AS (
  SELECT emb AS q_emb FROM vecs WHERE vec_id = {RRF_QUERY_VEC}
), vec_scored AS (
  SELECT v.vec_id AS doc_id, {_COS} AS cs
  FROM vecs v CROSS JOIN qv q
  WHERE v.vec_id != {RRF_QUERY_VEC}
), vec_pool AS (
  SELECT doc_id, CAST(rn AS BIGINT) AS r_vec FROM (
    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cs DESC, doc_id ASC) AS rn
    FROM vec_scored
  ) WHERE rn <= {RRF_POOL}
), fused AS (
  SELECT COALESCE(t.doc_id, v.doc_id) AS doc_id,
         CAST(COALESCE(t.r_text, 0) AS BIGINT) AS text_rank,
         CAST(COALESCE(v.r_vec, 0) AS BIGINT) AS vec_rank,
         CAST(COALESCE(1000000000 // ({RRF_K} + t.r_text), 0)
              + COALESCE(1000000000 // ({RRF_K} + v.r_vec), 0) AS BIGINT) AS rrf_e9
  FROM text_pool t FULL OUTER JOIN vec_pool v ON t.doc_id = v.doc_id
)
SELECT doc_id, text_rank, vec_rank, rrf_e9
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY rrf_e9 DESC, doc_id ASC) AS rn FROM fused
) WHERE rn <= {RRF_TOP}
""",
)
def hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion (RRF, k={RRF_K}):
    the standard two-ranker RAG pattern — a keyword ranker (BM25 over
    the fixed query terms) and a dense ranker (cosine against the
    query's embedding) each produce a top-{RRF_POOL} pool, fused by
    1/(k + rank) and re-ranked. A doc absent from one pool contributes
    only its other-ranker term (ranks reported as 0), the canonical RRF
    treatment of unretrieved candidates. Scores are exact integers
    (1e9 div (k + rank)) so the oracle matches bit-for-bit.

    Plan shape: the BM25 side is the shared pruned-postings pipeline
    (nothing corpus-sized shuffles beyond the per-doc sum); the dense
    side broadcasts ONE query vector over a single corpus scan (the
    documented brute-force baseline — at 100 TB the IVF probe path in
    `similarity.ann_ivf_kmeans_topk` substitutes, same output contract);
    each ranker is TakeOrdered into a {RRF_POOL}-row pool, and the
    fusion full-outer-join + final top-{RRF_TOP} touch only pool-sized
    data. No reference analog (LLM-pipeline extension)."""
    from pyspark.sql import Window

    scored = _bm25_scored(spark, sf_dir)
    text_pool = (
        scored.orderBy(F.round("score", 4).desc(), F.col("doc_id").asc())
        .limit(RRF_POOL)
        .withColumn(
            "r_text",
            F.row_number()
            .over(Window.orderBy(F.round("score", 4).desc(), F.col("doc_id").asc()))
            .cast("bigint"),
        )
        .select("doc_id", "r_text")
    )
    vecs = load_table(spark, sf_dir, "embeddings")
    norm = F.sqrt(F.expr(_DOT.format(a="embedding", b="embedding")))
    q = (
        vecs.filter(F.col("vec_id") == RRF_QUERY_VEC)
        .select(F.col("embedding").alias("q_emb"), norm.alias("q_norm"))
    )
    v = vecs.select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").alias("emb"),
        norm.alias("v_norm"),
    ).filter(F.col("doc_id") != RRF_QUERY_VEC)
    cs = F.round(
        F.expr(_DOT.format(a="q_emb", b="emb")) / (F.col("q_norm") * F.col("v_norm")),
        4,
    )
    vec_scored = F.broadcast(q).crossJoin(v).select("doc_id", cs.alias("cs"))
    vec_pool = (
        vec_scored.orderBy(F.col("cs").desc(), F.col("doc_id").asc())
        .limit(RRF_POOL)
        .withColumn(
            "r_vec",
            F.row_number()
            .over(Window.orderBy(F.col("cs").desc(), F.col("doc_id").asc()))
            .cast("bigint"),
        )
        .select("doc_id", "r_vec")
    )
    fused = (
        text_pool.join(vec_pool, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("r_text", F.lit(0)).cast("bigint").alias("text_rank"),
            F.coalesce("r_vec", F.lit(0)).cast("bigint").alias("vec_rank"),
            (
                F.coalesce(F.expr(f"1000000000 div ({RRF_K} + r_text)"), F.lit(0))
                + F.coalesce(F.expr(f"1000000000 div ({RRF_K} + r_vec)"), F.lit(0))
            )
            .cast("bigint")
            .alias("rrf_e9"),
        )
    )
    return fused.orderBy(F.col("rrf_e9").desc(), F.col("doc_id").asc()).limit(RRF_TOP)
