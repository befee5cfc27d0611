"""Graph analytics over the verified near-duplicate pair graph.

`dedup_connected_components` (dedup.py) turns the pair graph into
keep/drop clusters; this module adds PageRank over the same graph — the
centrality signal pipelines use to pick the *best* representative of a
duplicate cluster (most-linked ≈ most canonical) rather than the
arbitrary min-id.

All arithmetic is exact integer micro-units (rank starts at 1e6; damping
0.85 applied as *17 // 20; per-edge contribution is rank // degree), so
three unrolled Lloyd—er, power-iteration rounds produce bit-identical
BIGINTs on Spark and the DuckDB oracle, with no float summation order to
disagree on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiered_storage_for_apache_kafka_spark.operators.dedup import (
    _CC_EDGES_PREFIX,
    dedup_minhash_lsh,
)
from tiered_storage_for_apache_kafka_spark.operators.registry import (
    lineage_cut,
    query,
)
from tiered_storage_for_apache_kafka_spark.session import session_fixture

PR_ITERS = 3
R0 = 1_000_000
BASE = 150_000  # (1 - 0.85) * 1e6


@session_fixture
def _edges_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected edge list of the verified near-dup graph, one cached
    materialization per (process, sf_dir) — the same pattern as the
    dedup family's shingle/pair caches, so repeated graph queries don't
    re-pin fresh copies.

    Size-gated compaction: a near-dup graph is usually a sliver of the
    corpus — when it fits one partition, collapse it so every power-
    iteration job is a handful of tasks instead of rounds of 32-way
    shuffles of a few hundred rows. Above the gate the graph stays
    distributed and the iterations shuffle on dst as designed."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.union(
        pairs.select(F.col("doc_b"), F.col("doc_a"))
    ).toDF("a", "b")
    if edges.count() < 1_000_000:
        edges = edges.repartition(1)
    return lineage_cut(edges)


def _pagerank_cte() -> str:
    parts = [
        """deg AS (
  SELECT a AS doc, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY a
)""",
        f"""r0 AS (
  SELECT doc, CAST({R0} AS BIGINT) AS r FROM deg
)""",
    ]
    for it in range(PR_ITERS):
        parts.append(
            f"""r{it + 1} AS (
  SELECT d.doc,
         CAST({BASE} + (COALESCE(s.inflow, 0) * 17) // 20 AS BIGINT) AS r
  FROM deg d
  LEFT JOIN (
    SELECT e.b AS doc, SUM(r.r // dg.deg) AS inflow
    FROM edges e
    JOIN r{it} r ON r.doc = e.a
    JOIN deg dg ON dg.doc = e.a
    GROUP BY e.b
  ) s ON s.doc = d.doc
)"""
        )
    return ",\n".join(parts)


@query(
    "pagerank_dup_graph",
    oracle=_CC_EDGES_PREFIX
    + ",\n"
    + _pagerank_cte()
    + f"""
SELECT d.doc AS doc_id, r.r AS pagerank_micro, d.deg
FROM deg d JOIN r{PR_ITERS} r ON r.doc = d.doc
""",
)
def pagerank_dup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{PR_ITERS} exact-integer PageRank rounds over the verified near-dup
    graph (undirected → both edge directions), emitting per-doc rank and
    degree.

    Scale: classic distributed power iteration — one shuffle per round,
    keyed by destination; contributions are map-side partial sums; the
    rank table stays distributed (never collected). The pair graph comes
    from the shared LSH pipeline cache, so the expensive
    shingle/signature work is already paid for by the dedup family."""
    edges = _edges_cached(spark, sf_dir)
    deg = edges.groupBy("a").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    ranks = deg.select(F.col("a").alias("doc"), F.lit(R0).cast("bigint").alias("r"))
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(ranks.withColumnRenamed("doc", "a"), "a")
            .join(deg, "a")
            .select("b", F.expr("r div deg").alias("contrib"))
        )
        inflow = contrib.groupBy("b").agg(F.sum("contrib").alias("inflow"))
        ranks = (
            deg.select(F.col("a").alias("doc"))
            .join(inflow.withColumnRenamed("b", "doc"), "doc", "left")
            .select(
                "doc",
                (
                    F.lit(BASE)
                    + F.expr("coalesce(inflow, 0) * 17 div 20")
                ).cast("bigint").alias("r"),
            )
        )
    return (
        deg.select(F.col("a").alias("doc"), "deg")
        .join(ranks, "doc")
        .select(F.col("doc").alias("doc_id"), F.col("r").alias("pagerank_micro"), "deg")
    )
