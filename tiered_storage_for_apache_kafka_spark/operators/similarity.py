"""Similarity search over the embedding column.

`ann_cosine_topk` is the brute-force baseline: a broadcast of the (small)
query set against the full vector corpus — at 100 TB the corpus side stays
partitioned and never shuffles; each executor scores its shard and a
global top-k per query is taken (k*|Q| rows survive the final exchange).

All arithmetic is forced to DOUBLE on both engines (float32 paths differ
by ~1e-6 — enough to flip a 4-decimal rounding — double paths differ only
in ulps). Scores are output rounded to 4 decimals and ranking ties are
broken by vec_id, so Spark and the DuckDB oracle produce identical rows.

`ann_lsh_bucketed` and `ann_ivf_topk` are the scale paths: candidates
come from an LSH bucket join / an IVF cell join instead of the full
cross product, so the per-query work is |corpus|/2^planes (resp.
|corpus|*nprobe/n_cells) and the shuffle key is the bucket/cell id.
`dedup_embedding_cosine` applies the same blocking to near-duplicate
*pair* detection (cosine >= threshold within a bucket).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tiered_storage_for_apache_kafka_spark.operators.registry import (
    lineage_cut,
    query,
)
from tiered_storage_for_apache_kafka_spark.session import session_fixture
from tiered_storage_for_apache_kafka_spark.tables import load_table

N_QUERIES = 8
TOP_K = 5

_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)


@query(
    "ann_cosine_topk",
    oracle=f"""
WITH vecs AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings
), q AS (
  SELECT vec_id AS query_id, emb AS q_emb FROM vecs WHERE vec_id < {N_QUERIES}
), scored AS (
  SELECT q.query_id, v.vec_id AS neighbor_id, v.label AS neighbor_label,
         ROUND(list_dot_product(q.q_emb, v.emb)
               / (sqrt(list_dot_product(q.q_emb, q.q_emb))
                  * sqrt(list_dot_product(v.emb, v.emb))), 4) AS cosine_sim
  FROM q CROSS JOIN vecs v
  WHERE v.vec_id != q.query_id
)
SELECT query_id, neighbor_id, neighbor_label, cosine_sim,
       CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine_sim DESC, neighbor_id ASC) AS rnk
  FROM scored
) WHERE rnk <= {TOP_K}
""",
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: queries broadcast against the corpus,
    dot products via zip_with/aggregate (JVM-side, no Python)."""
    vecs = load_table(spark, sf_dir, "embeddings")
    # precompute norms ONCE per vector (map stage) instead of per pair —
    # cuts the pair-stage arithmetic to a single dot product
    norm = F.sqrt(F.expr(_DOT.format(a="embedding", b="embedding")))
    q = (
        vecs.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            norm.alias("q_norm"),
        )
    )
    v = vecs.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        F.col("embedding").alias("emb"),
        norm.alias("v_norm"),
    )
    dot_qv = F.expr(_DOT.format(a="q_emb", b="emb"))
    scored = (
        F.broadcast(q)
        .crossJoin(v)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            F.round(dot_qv / (F.col("q_norm") * F.col("v_norm")), 4).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id", "neighbor_label", "cosine_sim", "rnk")
    )


N_PLANES = 8
DIM = 64


def _planes() -> list[list[int]]:
    """Deterministic random hyperplanes with {-1,+1} components, derived
    from md5 so Spark and the oracle share them as inline literals."""
    import hashlib

    planes = []
    for p in range(N_PLANES):
        row = []
        for i in range(DIM):
            h = hashlib.md5(f"plane:{p}:{i}".encode()).hexdigest()
            row.append(-1 if h[0] < "8" else 1)
        planes.append(row)
    return planes


_PLANES = _planes()


def _signature_spark() -> str:
    """SQL expr producing the LSH bucket signature of column `emb`."""
    bits = []
    for row in _PLANES:
        vals = ",".join(f"{v}.0D" for v in row)
        dot = (
            f"aggregate(zip_with(emb, array({vals}), "
            "(x, y) -> CAST(x AS DOUBLE) * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        bits.append(f"CASE WHEN {dot} > 0 THEN '1' ELSE '0' END")
    return "concat(" + ", ".join(bits) + ")"


def _signature_sql() -> str:
    bits = []
    for row in _PLANES:
        vals = ",".join(f"{v}.0" for v in row)
        dot = f"list_dot_product(emb, [{vals}])"
        bits.append(f"CASE WHEN {dot} > 0 THEN '1' ELSE '0' END")
    return " || ".join(bits)


@query(
    "ann_lsh_bucketed",
    oracle=f"""
WITH vecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
), sigs AS (
  SELECT vec_id, emb, {_signature_sql()} AS bucket FROM vecs
), q AS (
  SELECT vec_id AS query_id, emb AS q_emb, bucket FROM sigs WHERE vec_id < {N_QUERIES}
), cand AS (
  SELECT q.query_id, s.vec_id AS neighbor_id,
         ROUND(list_dot_product(q.q_emb, s.emb)
               / (sqrt(list_dot_product(q.q_emb, q.q_emb))
                  * sqrt(list_dot_product(s.emb, s.emb))), 4) AS cosine_sim
  FROM q JOIN sigs s ON s.bucket = q.bucket AND s.vec_id != q.query_id
)
SELECT query_id, neighbor_id, cosine_sim, CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine_sim DESC, neighbor_id ASC) AS rnk
  FROM cand
) WHERE rnk <= {TOP_K}
""",
)
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN *scale path*: random-hyperplane LSH bucketing — candidates
    are only same-bucket vectors, so the scoring join is
    |corpus|/2^planes per query instead of |corpus| (at 100 TB: bucket is
    the shuffle key; queries broadcast; no cross product)."""
    vecs = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("emb")
    )
    norm = F.sqrt(F.expr(_DOT.format(a="emb", b="emb")))
    sigs = vecs.withColumn("bucket", F.expr(_signature_spark())).withColumn(
        "v_norm", norm
    )
    q = (
        sigs.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("emb").alias("q_emb"),
            F.col("v_norm").alias("q_norm"),
            F.col("bucket"),
        )
    )
    dot_qv = F.expr(_DOT.format(a="q_emb", b="emb"))
    cand = (
        sigs.join(F.broadcast(q), ["bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(dot_qv / (F.col("q_norm") * F.col("v_norm")), 4).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine_sim", "rnk")
    )


@query(
    "dedup_embedding_cosine",
    oracle=f"""
WITH vecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
), sigs AS (
  SELECT vec_id, emb, {_signature_sql()} AS bucket FROM vecs
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND(list_dot_product(a.emb, b.emb)
             / (sqrt(list_dot_product(a.emb, a.emb))
                * sqrt(list_dot_product(b.emb, b.emb))), 4) AS cosine_sim
FROM sigs a JOIN sigs b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE ROUND(list_dot_product(a.emb, b.emb)
            / (sqrt(list_dot_product(a.emb, a.emb))
               * sqrt(list_dot_product(b.emb, b.emb))), 4) >= 0.35
""",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: random-hyperplane LSH
    blocking (same 8-bit bucket) followed by exact cosine verification at
    threshold 0.35 (tuned to the synthetic corpus's similarity range). At 100 TB the bucket id is the one shuffle key and the
    per-bucket pair loop replaces the O(n^2) corpus cross product —
    identical blocking on both engines keeps the oracle exact."""
    vecs = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("emb")
    )
    norm = F.sqrt(F.expr(_DOT.format(a="emb", b="emb")))
    sigs = (
        vecs.withColumn("bucket", F.expr(_signature_spark()))
        .withColumn("v_norm", norm)
    )
    a = sigs.select(
        F.col("vec_id").alias("vec_a"),
        F.col("emb").alias("emb_a"),
        F.col("v_norm").alias("norm_a"),
        "bucket",
    )
    b = sigs.select(
        F.col("vec_id").alias("vec_b"),
        F.col("emb").alias("emb_b"),
        F.col("v_norm").alias("norm_b"),
        "bucket",
    )
    cos = F.round(
        F.expr(_DOT.format(a="emb_a", b="emb_b")) / (F.col("norm_a") * F.col("norm_b")),
        4,
    )
    return (
        a.join(b, ["bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cos.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= 0.35)
    )


N_CENTROIDS = 16
N_PROBE = 2


@session_fixture
def _ivf_affinity_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cid, crnk) rows with crnk <= N_PROBE: each vector's
    N_PROBE nearest of the first-N_CENTROIDS coarse quantizer, ranked by
    rounded cosine with a cid tiebreak. The IVF cell assignment is the
    index-build artifact every IVF consumer shares (`ann_ivf_topk`
    probes it, `semdedup_keep_drop` clusters by it), so it is
    materialized once per (session, corpus) — the same cross-query
    lineage_cut discipline as the token/shingle caches. The window runs
    over |corpus| x N_CENTROIDS *narrow* rows (ids + one double; the
    embedding payload never enters the exchange)."""
    vecs = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("emb")
    )
    norm = F.sqrt(F.expr(_DOT.format(a="emb", b="emb")))
    vn = vecs.withColumn("v_norm", norm)
    cent = (
        vn.filter(F.col("vec_id") < N_CENTROIDS)
        .select(
            F.col("vec_id").alias("cid"),
            F.col("emb").alias("c_emb"),
            F.col("v_norm").alias("c_norm"),
        )
    )
    cos_vc = F.round(
        F.expr(_DOT.format(a="emb", b="c_emb"))
        / (F.col("v_norm") * F.col("c_norm")),
        4,
    )
    w_aff = Window.partitionBy("vec_id").orderBy(
        F.col("aff").desc(), F.col("cid").asc()
    )
    affinity = (
        vn.crossJoin(F.broadcast(cent))
        .select("vec_id", "cid", cos_vc.alias("aff"))
        .withColumn("crnk", F.row_number().over(w_aff))
        .filter(F.col("crnk") <= N_PROBE)
        .select("vec_id", "cid", "crnk")
    )
    return lineage_cut(affinity)


@query(
    "ann_ivf_topk",
    oracle=f"""
WITH vecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
), cent AS (
  SELECT vec_id AS cid, emb AS c_emb FROM vecs WHERE vec_id < {N_CENTROIDS}
), affinity AS (
  SELECT v.vec_id, c.cid,
         ROW_NUMBER() OVER (
           PARTITION BY v.vec_id
           ORDER BY ROUND(list_dot_product(v.emb, c.c_emb)
                          / (sqrt(list_dot_product(v.emb, v.emb))
                             * sqrt(list_dot_product(c.c_emb, c.c_emb))), 4) DESC,
                    c.cid ASC) AS crnk
  FROM vecs v CROSS JOIN cent c
), assign AS (
  SELECT vec_id, cid AS cell FROM affinity WHERE crnk = 1
), probes AS (
  SELECT vec_id AS query_id, cid AS cell FROM affinity
  WHERE crnk <= {N_PROBE} AND vec_id < {N_QUERIES}
), cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         ROUND(list_dot_product(q.emb, v.emb)
               / (sqrt(list_dot_product(q.emb, q.emb))
                  * sqrt(list_dot_product(v.emb, v.emb))), 4) AS cosine_sim
  FROM probes p
  JOIN assign a ON a.cell = p.cell AND a.vec_id != p.query_id
  JOIN vecs q ON q.vec_id = p.query_id
  JOIN vecs v ON v.vec_id = a.vec_id
)
SELECT query_id, neighbor_id, cosine_sim, CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine_sim DESC, neighbor_id ASC) AS rnk
  FROM cand
) WHERE rnk <= {TOP_K}
""",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN: every vector is assigned to its nearest
    of {N_CENTROIDS} centroids (the coarse quantizer; here the first
    {N_CENTROIDS} corpus vectors stand in for k-means cell centers — the
    query plan is identical whichever way centroids are trained), queries
    probe their {N_PROBE} nearest cells, and only same-cell vectors are
    scored. At 100 TB: centroids broadcast (tiny), the corpus shuffles
    once on cell id at build time, and each query touches
    nprobe/n_cells of the data instead of all of it. Ties in cell
    affinity are broken on rounded cosine + centroid id so the
    assignment is engine-exact."""
    vecs = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("emb")
    )
    norm = F.sqrt(F.expr(_DOT.format(a="emb", b="emb")))
    vn = vecs.withColumn("v_norm", norm)
    affinity = _ivf_affinity_cached(spark, sf_dir)
    assign = affinity.filter(F.col("crnk") == 1).select(
        "vec_id", F.col("cid").alias("cell")
    )
    probes = (
        affinity.filter((F.col("crnk") <= N_PROBE) & (F.col("vec_id") < N_QUERIES))
        .select(F.col("vec_id").alias("query_id"), F.col("cid").alias("cell"))
    )
    q = vn.select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("v_norm").alias("q_norm"),
    )
    v = vn.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("emb").alias("n_emb"),
        F.col("v_norm").alias("n_norm"),
    )
    cos_qv = F.round(
        F.expr(_DOT.format(a="q_emb", b="n_emb")) / (F.col("q_norm") * F.col("n_norm")),
        4,
    )
    cand = (
        assign.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(F.col("query_id"), F.col("vec_id").alias("neighbor_id"))
        .join(F.broadcast(q), "query_id")
        .join(v, "neighbor_id")
        .select("query_id", "neighbor_id", cos_qv.alias("cosine_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine_sim", "rnk")
    )


@query(
    "embedding_label_stats",
    oracle="""
WITH vecs AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings
)
SELECT label,
       COUNT(*) AS n_vectors,
       CAST(MIN(len(emb)) AS BIGINT) AS dim_min,
       CAST(MAX(len(emb)) AS BIGINT) AS dim_max,
       ROUND(MIN(sqrt(list_dot_product(emb, emb))), 4) AS min_norm,
       ROUND(MAX(sqrt(list_dot_product(emb, emb))), 4) AS max_norm
FROM vecs
GROUP BY label
""",
)
def embedding_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label corpus stats (dimension sanity + norm envelope) — the
    monitoring aggregate of an embedding ingest pipeline."""
    vecs = load_table(spark, sf_dir, "embeddings")
    norm = F.sqrt(F.expr(_DOT.format(a="embedding", b="embedding")))
    return (
        vecs.select("label", F.size("embedding").alias("dim"), norm.alias("norm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min("dim").cast("bigint").alias("dim_min"),
            F.max("dim").cast("bigint").alias("dim_max"),
            F.round(F.min("norm"), 4).alias("min_norm"),
            F.round(F.max("norm"), 4).alias("max_norm"),
        )
    )


SEMDEDUP_TAU = 0.35  # within-cluster cosine above this = semantic duplicate


@query(
    "semdedup_keep_drop",
    oracle=f"""
WITH vecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
), cent AS (
  SELECT vec_id AS cid, emb AS c_emb FROM vecs WHERE vec_id < {N_CENTROIDS}
), affinity AS (
  SELECT v.vec_id, c.cid,
         ROW_NUMBER() OVER (
           PARTITION BY v.vec_id
           ORDER BY ROUND(list_dot_product(v.emb, c.c_emb)
                          / (sqrt(list_dot_product(v.emb, v.emb))
                             * sqrt(list_dot_product(c.c_emb, c.c_emb))), 4) DESC,
                    c.cid ASC) AS crnk
  FROM vecs v CROSS JOIN cent c
), assign AS (
  SELECT vec_id, cid AS cell FROM affinity WHERE crnk = 1
), pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM assign a
  JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
  JOIN vecs va ON va.vec_id = a.vec_id
  JOIN vecs vb ON vb.vec_id = b.vec_id
  WHERE ROUND(list_dot_product(va.emb, vb.emb)
              / (sqrt(list_dot_product(va.emb, va.emb))
                 * sqrt(list_dot_product(vb.emb, vb.emb))), 4) >= {SEMDEDUP_TAU}
)
SELECT s.vec_id, s.cell,
       CASE WHEN d.vec_b IS NULL THEN 1 ELSE 0 END AS kept
FROM assign s
LEFT JOIN (SELECT DISTINCT vec_b FROM pairs) d ON d.vec_b = s.vec_id
""",
)
def semdedup_keep_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication by clustering
    the embedding space and dropping all but one member of each
    within-cluster near-duplicate group. Clustering reuses the IVF coarse
    quantizer's engine-exact assignment (rounded-cosine affinity,
    deterministic cid tiebreak); pruning is the paper's greedy rule —
    a vector is dropped when a lower-id vector in its cell has cosine
    >= {SEMDEDUP_TAU}.

    Plan shape: centroids broadcast (tiny), ONE corpus shuffle on cell
    id, within-cell self-join (quadratic only inside a cell — n_cells
    scales with the corpus so cell size stays bounded), then an anti
    join of the dropped set back onto the assignment. No Python, no
    all-pairs product. The keep/drop frame is exactly what a curation
    pipeline joins against the documents table."""
    vecs = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("emb")
    )
    norm = F.sqrt(F.expr(_DOT.format(a="emb", b="emb")))
    vn = vecs.withColumn("v_norm", norm)
    # cell assignment from the shared IVF quantizer cache (the heavy
    # vector payload re-attaches via a vec_id join — only ids and ranks
    # ever crossed the assignment window's exchange)
    assign = (
        _ivf_affinity_cached(spark, sf_dir)
        .filter(F.col("crnk") == 1)
        .select("vec_id", F.col("cid").alias("cell"))
        .join(vn, "vec_id")
        .select("vec_id", "cell", "emb", "v_norm")
    )
    a = assign.select(
        F.col("vec_id").alias("vec_a"),
        F.col("emb").alias("emb_a"),
        F.col("v_norm").alias("norm_a"),
        "cell",
    )
    b = assign.select(
        F.col("vec_id").alias("vec_b"),
        F.col("emb").alias("emb_b"),
        F.col("v_norm").alias("norm_b"),
        "cell",
    )
    cos_ab = F.round(
        F.expr(_DOT.format(a="emb_a", b="emb_b")) / (F.col("norm_a") * F.col("norm_b")),
        4,
    )
    dropped = (
        a.join(b, "cell")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_b", cos_ab.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= SEMDEDUP_TAU)
        .select("vec_b")
        .distinct()
    )
    return (
        assign.select("vec_id", "cell")
        .join(dropped, assign.vec_id == dropped.vec_b, "left")
        .select(
            "vec_id",
            "cell",
            F.when(F.col("vec_b").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("kept"),
        )
    )


SQ_BITS_MAX = 127  # symmetric int8 code range


@query(
    "embedding_int8_quantize",
    oracle="""
WITH emb AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
), scaled AS (
  SELECT vec_id, label, e,
         list_max(list_transform(e, x -> abs(x))) AS scale
  FROM emb
), coded AS (
  SELECT vec_id, label, e, scale,
         list_transform(e, x -> round(x / scale * 127)) AS q
  FROM scaled WHERE scale > 0
)
SELECT vec_id, label,
       CAST(len(e) AS BIGINT) AS n_dims,
       ROUND(scale, 4) AS scale_r,
       CAST(len(list_filter(q, c -> abs(c) = 127)) AS BIGINT) AS n_saturated,
       ROUND(sqrt(list_sum(list_transform(range(1, len(e) + 1),
             i -> (e[i] - q[i] * scale / 127) ^ 2)) / len(e)), 4) AS rmse_r
FROM coded
""",
)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column — the
    SQ8 compression stage of a production ANN index (IVF+SQ8): per-vector
    max-abs scale, codes `round(x/scale*127)` in [-127,127], plus the
    reconstruction RMSE that tells you whether 8 bits suffice.

    Scan-shaped: every step is a JVM array expression (`transform`/
    `aggregate`/`filter`) over the vector column — no shuffle, no Python.
    At 100 TB the codes column (n_dims bytes/vector vs 4·n_dims) is what
    you'd persist next to the IVF cell assignment; here the query emits
    the quality stats the driver can hash-check. All math is forced to
    DOUBLE with identical evaluation order on both engines; outputs are
    ROUND(...,4) per the portability rules. Zero vectors (scale=0) are
    excluded on both sides — int8 SQ is undefined for them."""
    vecs = load_table(spark, sf_dir, "embeddings")
    e = "transform(embedding, x -> CAST(x AS DOUBLE))"
    scaled = vecs.select(
        "vec_id",
        "label",
        F.expr(e).alias("e"),
        F.expr(f"array_max(transform({e}, x -> abs(x)))").alias("scale"),
    ).filter(F.col("scale") > 0)
    coded = scaled.withColumn(
        "q", F.expr("transform(e, x -> round(x / scale * 127))")
    )
    return coded.select(
        "vec_id",
        "label",
        F.size("e").cast("bigint").alias("n_dims"),
        F.round(F.col("scale"), 4).alias("scale_r"),
        F.expr("size(filter(q, c -> abs(c) = 127))").cast("bigint").alias("n_saturated"),
        F.round(
            F.sqrt(
                F.expr(
                    "aggregate(zip_with(e, q, (x, c) -> pow(x - c * scale / 127, 2)),"
                    " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
                )
                / F.size("e")
            ),
            4,
        ).alias("rmse_r"),
    )


SEMDECON_BENCH_MOD = 97  # vec_id % 97 == 0 stands in for the eval-set vectors
SEMDECON_TAU = 0.2  # cosine above this = semantically contaminated (low
# enough to produce non-trivial flags on the synthetic corpus at sf0.01)


@query(
    "semantic_decontamination",
    oracle=f"""
WITH vecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
), sigs AS (
  SELECT vec_id, emb, {_signature_sql()} AS bucket FROM vecs
), corpus AS (
  SELECT * FROM sigs WHERE vec_id % {SEMDECON_BENCH_MOD} <> 0
), bench AS (
  SELECT * FROM sigs WHERE vec_id % {SEMDECON_BENCH_MOD} = 0
), hits AS (
  SELECT c.vec_id,
         ROUND(list_dot_product(c.emb, b.emb)
               / (sqrt(list_dot_product(c.emb, c.emb))
                  * sqrt(list_dot_product(b.emb, b.emb))), 4) AS cos
  FROM corpus c JOIN bench b ON b.bucket = c.bucket
)
SELECT vec_id,
       CAST(COUNT(*) AS BIGINT) AS n_bench_matches,
       MAX(cos) AS max_cosine
FROM hits WHERE cos >= {SEMDECON_TAU}
GROUP BY vec_id
""",
)
def semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space eval-set decontamination — the SEMANTIC sibling of
    the lexical `benchmark_decontamination`: flag corpus vectors whose
    cosine against ANY benchmark vector (vec_id % {SEMDECON_BENCH_MOD}
    == 0 stands in for the eval suite) reaches {SEMDECON_TAU}, the leak
    mode 5-gram overlap misses (paraphrases, translations, near-copies).

    100 TB shape: the same random-hyperplane LSH blocking as the
    embedding dedup family — candidate pairs share a bucket, never
    all-pairs — with the decontamination asymmetry exploited: the bench
    side is tiny by construction, so its signed signatures BROADCAST and
    the corpus never shuffles at all (scan → bucket → broadcast-join →
    per-vector aggregate; map-side combine on vec_id). Per-pair cosines
    are rounded to 4 before MAX on both engines (portability rules)."""
    vecs = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb")
    )
    sigs = vecs.select(
        "vec_id", "emb", F.expr(_signature_spark()).alias("bucket")
    )
    corpus = sigs.filter(F.col("vec_id") % SEMDECON_BENCH_MOD != 0)
    bench = sigs.filter(F.col("vec_id") % SEMDECON_BENCH_MOD == 0).select(
        F.col("vec_id").alias("b_id"),
        F.col("emb").alias("b_emb"),
        "bucket",
    )
    cos = F.round(
        F.expr(_DOT.format(a="emb", b="b_emb"))
        / (
            F.sqrt(F.expr(_DOT.format(a="emb", b="emb")))
            * F.sqrt(F.expr(_DOT.format(a="b_emb", b="b_emb")))
        ),
        4,
    )
    return (
        corpus.join(F.broadcast(bench), "bucket")
        .select("vec_id", cos.alias("cos"))
        .filter(F.col("cos") >= SEMDECON_TAU)
        .groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bench_matches"),
            F.max("cos").alias("max_cosine"),
        )
    )


@query(
    "sq8_recall_at_k",
    oracle=f"""
WITH vecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), coded AS (
  SELECT vec_id, e,
         list_transform(e, x -> round(x / list_max(list_transform(e, v -> abs(v))) * 127)
                               * list_max(list_transform(e, v -> abs(v))) / 127) AS r
  FROM vecs WHERE list_max(list_transform(e, v -> abs(v))) > 0
), q AS (
  SELECT vec_id AS query_id, e AS qe, r AS qr FROM coded WHERE vec_id < {N_QUERIES}
), exact_rk AS (
  SELECT query_id, vec_id AS neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
           ROUND(list_dot_product(qe, e)
                 / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(e, e))), 4) DESC,
           vec_id ASC) AS rnk
  FROM q JOIN coded ON vec_id != query_id
), quant_rk AS (
  SELECT query_id, vec_id AS neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
           ROUND(list_dot_product(qr, r)
                 / (sqrt(list_dot_product(qr, qr)) * sqrt(list_dot_product(r, r))), 4) DESC,
           vec_id ASC) AS rnk
  FROM q JOIN coded ON vec_id != query_id
)
SELECT e.query_id,
       CAST(COUNT(qk.neighbor_id) AS BIGINT) AS n_overlap,
       CAST({TOP_K} AS BIGINT) AS k
FROM exact_rk e
LEFT JOIN quant_rk qk
  ON qk.query_id = e.query_id AND qk.neighbor_id = e.neighbor_id
 AND qk.rnk <= {TOP_K}
WHERE e.rnk <= {TOP_K}
GROUP BY e.query_id
""",
)
def sq8_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantization-quality evaluation: recall@{TOP_K} of int8 scalar
    quantization — for each query vector, how many of the exact-cosine
    top-{TOP_K} neighbors survive when every vector is replaced by its
    SQ8 reconstruction (`round(x/scale*127) * scale/127`). This is the
    acceptance gate an ANN pipeline runs before committing to a
    compressed index: recall ≈ k/k ⇒ 4x smaller index at no ranking
    cost.

    Plan: queries broadcast twice (exact and reconstructed forms) over
    one corpus scan that computes both representations in the same
    projection — two windowed top-k rankings, one per-query overlap
    count. Rankings order by ROUND(cos,4) with vec_id tiebreak so both
    engines rank identically; the reconstruction arithmetic is written
    with the identical op order on both sides."""
    vecs = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("e")
    )
    # scale = max |e_i| hoisted to a column: inside the reconstruction
    # lambda Catalyst re-evaluates the array_max PER ELEMENT (O(dim^2)
    # per vector); as a column it is computed once per row and the
    # per-element arithmetic (round(x/scale*127)*scale/127) is unchanged
    coded = (
        vecs.withColumn("scale", F.expr("array_max(transform(e, v -> abs(v)))"))
        .filter(F.col("scale") > 0)
        .select(
            "vec_id",
            "e",
            F.expr("transform(e, x -> round(x / scale * 127) * scale / 127)").alias(
                "r"
            ),
        )
    )
    q = coded.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("r").alias("qr"),
    )
    pairs = (
        F.broadcast(q)
        .crossJoin(coded)
        .filter(F.col("vec_id") != F.col("query_id"))
    )

    def ranked(a: str, b: str) -> DataFrame:
        cos = F.round(
            F.expr(_DOT.format(a=a, b=b))
            / (
                F.sqrt(F.expr(_DOT.format(a=a, b=a)))
                * F.sqrt(F.expr(_DOT.format(a=b, b=b)))
            ),
            4,
        )
        w = Window.partitionBy("query_id").orderBy(
            cos.desc(), F.col("vec_id").asc()
        )
        return (
            pairs.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= TOP_K)
            .select("query_id", F.col("vec_id").alias("neighbor_id"))
        )

    exact = ranked("qe", "e")
    quant = ranked("qr", "r").select(
        F.col("query_id").alias("q_query"), F.col("neighbor_id").alias("q_neighbor")
    )
    return (
        exact.join(
            quant,
            (F.col("query_id") == F.col("q_query"))
            & (F.col("neighbor_id") == F.col("q_neighbor")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("q_neighbor").cast("bigint").alias("n_overlap"),
            F.lit(TOP_K).cast("bigint").alias("k"),
        )
    )


# -- Johnson-Lindenstrauss random projection ------------------------------------

JL_DIMS = 16  # projected dimensionality; JL distance RSE ~ sqrt(2/D') ~ 35%
JL_SCALE = 1000  # embedding quantization: q = floor(x*1000 + 0.5)
JL_SAMPLE_MOD = 25  # audit pairs drawn from vec_id % 25 == 0 (~N/25 docs)
_EMB_DIM = 64


def _jl_sign(i: int, j: int) -> int:
    """±1 from the parity of the first md5 hex digit of "i:j" — the same
    value SQL computes as 1 - 2*((hexval of md5 char 1) % 2)."""
    import hashlib

    return 1 - 2 * (int(hashlib.md5(f"{i}:{j}".encode()).hexdigest()[0], 16) % 2)


def _jl_oracle() -> str:
    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE)*{JL_SCALE} + 0.5) AS BIGINT)) AS q
  FROM embeddings WHERE vec_id % {JL_SAMPLE_MOD} = 0
), dims AS (
  SELECT i, j,
         1 - 2*((strpos('0123456789abcdef',
                 substr(md5(CAST(i AS VARCHAR) || ':' || CAST(j AS VARCHAR)),
                        1, 1)) - 1) % 2) AS s
  FROM generate_series(0, {_EMB_DIM - 1}) t(i),
       generate_series(0, {JL_DIMS - 1}) u(j)
), proj AS (
  SELECT vec_id, j, CAST(SUM(q[i + 1] * s) AS BIGINT) AS p
  FROM q, dims GROUP BY vec_id, j
), d2o AS (
  SELECT a.vec_id AS va, b.vec_id AS vb,
         CAST(list_sum(list_transform(generate_series(1, {_EMB_DIM}),
              i -> (a.q[i]-b.q[i])*(a.q[i]-b.q[i]))) AS BIGINT) AS d2
  FROM q a JOIN q b ON a.vec_id < b.vec_id
), d2p AS (
  SELECT a.vec_id AS va, b.vec_id AS vb,
         CAST(SUM((a.p-b.p)*(a.p-b.p)) AS BIGINT) AS d2
  FROM proj a JOIN proj b ON a.vec_id < b.vec_id AND a.j = b.j
  GROUP BY a.vec_id, b.vec_id
)
SELECT CAST((1000 * d2p.d2) // ({JL_DIMS} * d2o.d2) // 100 AS BIGINT)
           AS ratio_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(MIN((1000 * d2p.d2) // ({JL_DIMS} * d2o.d2)) AS BIGINT)
           AS min_ratio_pm,
       CAST(MAX((1000 * d2p.d2) // ({JL_DIMS} * d2o.d2)) AS BIGINT)
           AS max_ratio_pm
FROM d2o JOIN d2p ON d2o.va = d2p.va AND d2o.vb = d2p.vb
GROUP BY 1
"""


@query("jl_projection_audit", oracle=_jl_oracle())
def jl_projection_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection (Achlioptas 2001 ±1
    signs) audited for distance preservation: embeddings are quantized
    to integers, projected 64→{JL_DIMS} dims with a deterministic
    md5-derived sign matrix, and the audit reports the histogram of
    projected-vs-original squared-distance ratios over a hash-sampled
    doc subset. Everything is INTEGER arithmetic end-to-end (quantize →
    signed sums → squared distances → integer-division ratio), so sums
    are order-independent and the DuckDB oracle reproduces the exact
    histogram — no float-accumulation hazard anywhere.

    Scale: the projection itself is a narrow map (16 JVM `aggregate`
    expressions over the embedding array — this is the 100 TB path that
    shrinks vectors 4x before any ANN indexing); only the O((N/mod)^2)
    audit join is quadratic, and it runs on the hash-sampled subset
    only, the established audit-baseline pattern."""
    vecs = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") % JL_SAMPLE_MOD == 0
    )
    q = vecs.select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> cast(floor(cast(x as double)*{JL_SCALE}"
            " + 0.5) as bigint))"
        ).alias("q"),
    )
    proj_cols = []
    for j in range(JL_DIMS):
        signs = ",".join(str(_jl_sign(i, j)) for i in range(_EMB_DIM))
        proj_cols.append(
            F.expr(
                f"aggregate(zip_with(q, array({signs}), (x, s) -> x * s), "
                "0L, (acc, x) -> acc + x)"
            ).alias(f"p{j}")
        )
    p = q.select("vec_id", "q", *proj_cols)
    a = p.select(
        F.col("vec_id").alias("va"),
        F.col("q").alias("qa"),
        *[F.col(f"p{j}").alias(f"pa{j}") for j in range(JL_DIMS)],
    )
    b = p.select(
        F.col("vec_id").alias("vb"),
        F.col("q").alias("qb"),
        *[F.col(f"p{j}").alias(f"pb{j}") for j in range(JL_DIMS)],
    )
    d2p_expr = " + ".join(
        f"(pa{j} - pb{j}) * (pa{j} - pb{j})" for j in range(JL_DIMS)
    )
    pairs = (
        a.join(b, F.col("va") < F.col("vb"))
        .select(
            F.expr(
                "aggregate(zip_with(qa, qb, (x, y) -> (x - y) * (x - y)), "
                "0L, (acc, x) -> acc + x)"
            ).alias("d2o"),
            F.expr(f"cast({d2p_expr} as bigint)").alias("d2p"),
        )
        .select(
            F.expr(f"(1000 * d2p) div ({JL_DIMS} * d2o)").alias("ratio_pm")
        )
    )
    return pairs.groupBy(
        F.expr("ratio_pm div 100").cast("bigint").alias("ratio_bucket")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.min("ratio_pm").cast("bigint").alias("min_ratio_pm"),
        F.max("ratio_pm").cast("bigint").alias("max_ratio_pm"),
    )
