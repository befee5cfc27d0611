"""Training-data curation operators: the decisions a pipeline makes
*after* analysis — which docs go to train/valid/test, which are sampled,
which are contaminated by eval data, which duplicate survives.

Scale design at 100 TB:

- **hash split / stratified sample**: pure column expressions over the
  scan (narrow map; the split is a deterministic function of doc_id so
  re-runs and backfills assign identically — no stored split table, no
  shuffle). The stratified variant needs one window per stratum —
  shuffle keyed by the low-cardinality `lang`, acceptable because the
  per-stratum payload is only (doc_id, sort-hash), not text.
- **decontamination**: the benchmark set is tiny by construction →
  its gram inventory broadcasts; the corpus-side gram explode is a
  narrow map and the contamination join is map-side. The corpus never
  shuffles.
- **cluster representatives**: one groupBy over the connected-components
  labeling (itself LSH-bounded, never all-pairs).

Hash portability: bucket = value of the first two md5 hex digits
(0..255), computed with locate/strpos arithmetic that is identical in
Spark and DuckDB — no engine-specific hash function is ever used.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tiered_storage_for_apache_kafka_spark.operators.dedup import (
    dedup_connected_components,
    tokens_cached,
    _CC_ORACLE_PREFIX,
)
from tiered_storage_for_apache_kafka_spark.operators.registry import (
    lineage_cut,
    query,
)
from tiered_storage_for_apache_kafka_spark.session import session_fixture
from tiered_storage_for_apache_kafka_spark.tables import load_table, scan_parallel

# split fractions in 256ths of the md5 bucket space: [0, TEST) test,
# [TEST, VALID) valid, rest train  (~3.1% / ~9.4% / 87.5%)
SPLIT_TEST_UB = 8
SPLIT_VALID_UB = 32

# stratified sampling: keep docs whose bucket falls under ceil(256/4)
SAMPLE_BUCKET_UB = 64  # ~25% per stratum

DECON_GRAM_WORDS = 5  # word 5-grams for benchmark-overlap detection


@session_fixture
def _grams5_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, word-5-gram string) over the whole corpus,
    materialized once per (session, corpus) with its lineage cut — the
    shared overlap-detection inventory that both decontamination passes
    (eval-set overlap, incremental near-dup verdicts) previously each
    rebuilt from a fresh tokenize+explode+distinct of the corpus.
    Tokenization comes from the shared token cache; the gram lambda
    stays fused into the explode (a staged `.select(grams)` measures
    ~5x slower — extra projection boundary)."""
    n = DECON_GRAM_WORDS
    return lineage_cut(
        tokens_cached(spark, sf_dir)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, greatest(size(toks) - {n - 1}, 1)), "
                    f"i -> array_join(slice(toks, i, {n}), ' '))"
                )
            ).alias("gram"),
        )
        .distinct()
    )
BENCH_MOD = 97  # doc_id % 97 == 0 stands in for "the benchmark set"


def _bucket_expr(hash_col: str) -> str:
    """Spark/DuckDB-portable 0..255 bucket from a hex md5 column.

    locate/strpos are both 1-based; the arithmetic is integer-exact in
    both engines."""
    return (
        f"(locate(substr({hash_col}, 1, 1), '0123456789abcdef') - 1) * 16 + "
        f"(locate(substr({hash_col}, 2, 1), '0123456789abcdef') - 1)"
    )


def _bucket_sql(hash_col: str) -> str:
    return (
        f"(strpos('0123456789abcdef', substr({hash_col}, 1, 1)) - 1) * 16 + "
        f"(strpos('0123456789abcdef', substr({hash_col}, 2, 1)) - 1)"
    )


@query(
    "train_test_split_hash",
    oracle=f"""
WITH b AS (
  SELECT doc_id, lang, n_chars,
         {_bucket_sql("md5(CAST(doc_id AS VARCHAR))")} AS bucket
  FROM documents
), assigned AS (
  SELECT *,
         CASE WHEN bucket < {SPLIT_TEST_UB} THEN 'test'
              WHEN bucket < {SPLIT_VALID_UB} THEN 'valid'
              ELSE 'train' END AS split
  FROM b
)
SELECT split,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       COUNT(DISTINCT lang) AS n_langs,
       MIN(doc_id) AS min_doc_id,
       MAX(doc_id) AS max_doc_id
FROM assigned
GROUP BY split
""",
)
def train_test_split_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/valid/test assignment by hashing doc_id into
    256 buckets — the standard leakage-safe split: membership is a pure
    function of the id, so re-runs, backfills, and late-arriving shards
    agree without coordination or a stored split table. Emits per-split
    inventory stats (the counts a pipeline reports after splitting)."""
    docs = load_table(spark, sf_dir, "documents")
    b = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.expr(_bucket_expr("md5(cast(doc_id as string))")).alias("bucket"),
    )
    split = (
        F.when(F.col("bucket") < SPLIT_TEST_UB, F.lit("test"))
        .when(F.col("bucket") < SPLIT_VALID_UB, F.lit("valid"))
        .otherwise(F.lit("train"))
    )
    return (
        b.withColumn("split", split)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.countDistinct("lang").alias("n_langs"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


@query(
    "stratified_sample_by_lang",
    oracle=f"""
WITH b AS (
  SELECT doc_id, lang, n_chars,
         {_bucket_sql("md5(CAST(doc_id AS VARCHAR))")} AS bucket
  FROM documents
)
SELECT lang,
       COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN bucket < {SAMPLE_BUCKET_UB} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_sampled,
       CAST(SUM(CASE WHEN bucket < {SAMPLE_BUCKET_UB} THEN n_chars ELSE 0 END) AS BIGINT)
         AS sampled_chars,
       MIN(CASE WHEN bucket < {SAMPLE_BUCKET_UB} THEN doc_id END) AS first_sampled_doc
FROM b
GROUP BY lang
""",
)
def stratified_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~25% sample within every language stratum, again by
    id-hash bucket — the downsampling step that balances a corpus before
    training. Bucket membership is data-independent, so the same doc is
    sampled in every run and across engines; reports per-stratum kept
    counts. Narrow map + one agg: no window, no per-stratum shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    b = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.expr(_bucket_expr("md5(cast(doc_id as string))")).alias("bucket"),
    )
    kept = F.col("bucket") < SAMPLE_BUCKET_UB
    return b.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("n_sampled"),
        F.sum(F.when(kept, F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("sampled_chars"),
        F.min(F.when(kept, F.col("doc_id"))).alias("first_sampled_doc"),
    )


_DECON_GRAMS_SQL = f"""
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id,
           unnest(list_transform(
             generate_series(1, greatest(len(string_split_regex(trim(text), '\\s+')) - {DECON_GRAM_WORDS - 1}, 1)),
             i -> array_to_string(string_split_regex(trim(text), '\\s+')[i:i+{DECON_GRAM_WORDS - 1}], ' ')
           )) AS gram
    FROM documents {{where}})
"""


@query(
    "benchmark_decontamination",
    oracle=f"""
WITH corpus_grams AS (
{_DECON_GRAMS_SQL.format(where=f"WHERE doc_id % {BENCH_MOD} <> 0")}
), bench_grams AS (
  SELECT DISTINCT gram FROM (
{_DECON_GRAMS_SQL.format(where=f"WHERE doc_id % {BENCH_MOD} = 0")}
  )
)
SELECT c.doc_id,
       COUNT(*) AS n_shared_grams
FROM corpus_grams c
JOIN bench_grams b ON b.gram = c.gram
GROUP BY c.doc_id
""",
)
def benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: flag training docs sharing any word
     5-gram with the benchmark set (docs with doc_id % 97 == 0 stand in
    for an eval suite). The benchmark gram inventory is tiny → broadcast;
    the training corpus explodes its grams in a narrow map and joins
    map-side, so the corpus itself NEVER shuffles — the shape that makes
    decontamination tractable at 100 TB. Both sides come from the shared
    5-gram inventory (`_grams5_cached`) and join on the gram string
    itself — the same equality the oracle evaluates."""
    g5 = _grams5_cached(spark, sf_dir)
    corpus = g5.filter(F.col("doc_id") % BENCH_MOD != 0)
    bench = (
        g5.filter(F.col("doc_id") % BENCH_MOD == 0).select("gram").distinct()
    )
    return (
        corpus.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


@query(
    "dup_cluster_representatives",
    oracle=_CC_ORACLE_PREFIX
    + """
SELECT canonical_doc_id,
       COUNT(*) AS cluster_size,
       MIN(doc_id) AS min_doc_id,
       MAX(doc_id) AS max_doc_id
FROM labeled
GROUP BY canonical_doc_id
""",
)
def dup_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection, cluster view: collapse the
    connected-components labeling into one row per near-duplicate
    cluster (representative = min doc_id, the label itself) with its
    size — the table a pipeline joins against to DROP all non-canonical
    members. One extra groupBy over the (small) labeling."""
    labels = dedup_connected_components(spark, sf_dir)
    return labels.groupBy("canonical_doc_id").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


@query(
    "curation_funnel",
    oracle=f"""
WITH flagged AS (
  SELECT d.doc_id, d.n_chars,
         CASE WHEN LENGTH(d.text) >= 100
               AND LEN(regexp_extract_all(d.text, '\\S+')) >= 20
              THEN 1 ELSE 0 END AS quality_pass,
         CASE WHEN d.doc_id = (SELECT MIN(doc_id) FROM documents d2
                               WHERE md5(d2.text) = md5(d.text))
              THEN 1 ELSE 0 END AS is_canonical,
         CASE WHEN {_bucket_sql("md5(CAST(d.doc_id AS VARCHAR))")} >= {SPLIT_VALID_UB}
              THEN 1 ELSE 0 END AS in_train
  FROM documents d
)
SELECT COUNT(*) AS n_total,
       CAST(SUM(quality_pass) AS BIGINT) AS n_quality,
       CAST(SUM(quality_pass * is_canonical) AS BIGINT) AS n_quality_unique,
       CAST(SUM(quality_pass * is_canonical * in_train) AS BIGINT) AS n_kept_train,
       CAST(SUM(CASE WHEN quality_pass = 1 AND is_canonical = 1 AND in_train = 1
                     THEN n_chars ELSE 0 END) AS BIGINT) AS kept_train_chars
FROM flagged
""",
)
def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation report: total docs -> quality-passing ->
    unique (exact-dedup canonical) -> in the train split, with the
    surviving char mass. Composes the quality gate, exact dedup, and the
    hash split in ONE pass: quality and split are narrow expressions;
    canonicality is a min-doc_id-per-content-hash window (one shuffle on
    the uniform md5 key). This is the number-that-goes-on-the-dashboard
    query a 100 TB curation run emits."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text"))
    n_tokens = F.regexp_count(F.col("text"), F.lit(r"\S+"))
    flagged = docs.select(
        "doc_id",
        "n_chars",
        F.when((F.length("text") >= 100) & (n_tokens >= 20), 1)
        .otherwise(0)
        .alias("quality_pass"),
        F.when(F.col("doc_id") == F.min("doc_id").over(w), 1)
        .otherwise(0)
        .alias("is_canonical"),
        F.when(
            F.expr(_bucket_expr("md5(cast(doc_id as string))")) >= SPLIT_VALID_UB, 1
        )
        .otherwise(0)
        .alias("in_train"),
    )
    keep = F.col("quality_pass") * F.col("is_canonical") * F.col("in_train")
    return flagged.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum("quality_pass").cast("bigint").alias("n_quality"),
        F.sum(F.col("quality_pass") * F.col("is_canonical"))
        .cast("bigint")
        .alias("n_quality_unique"),
        F.sum(keep).cast("bigint").alias("n_kept_train"),
        F.sum(F.when(keep == 1, F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("kept_train_chars"),
    )


# sequence packing: concat-and-chunk documents into fixed-token-budget
# training sequences, independently within each of PACK_SHARDS shards
PACK_SHARDS = 8
SEQ_BUDGET = 512  # tokens per packed training sequence


@query(
    "pack_sequences",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, doc_id % {PACK_SHARDS} AS shard,
         CAST(LEN(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_toks
  FROM documents
), offs AS (
  SELECT shard, doc_id, n_toks,
         SUM(n_toks) OVER (PARTITION BY shard ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) - n_toks AS start_off
  FROM toks
)
SELECT shard,
       CAST(FLOOR(start_off / {SEQ_BUDGET}) AS BIGINT) AS seq_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM offs
GROUP BY shard, CAST(FLOOR(start_off / {SEQ_BUDGET}) AS BIGINT)
""",
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (concat-and-chunk): documents are concatenated in
    doc_id order and cut into SEQ_BUDGET-token training sequences; each
    doc is attributed to the sequence containing its first token. The
    GPT-style sample-packing step of a pre-training pipeline.

    Scale design: packing is a running sum, which is inherently
    sequential — so it runs *per shard* (doc_id % PACK_SHARDS), never as
    one global window. Parallelism = shard count (raise PACK_SHARDS at
    100 TB: 4096 shards keeps every window task at corpus/4096), and the
    window payload is (doc_id, n_toks) only — the text column is pruned
    before the shuffle, so the sort state per task is a few MB even when
    the shard's text is tens of GB."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
        F.regexp_count(F.col("text"), F.lit(r"\S+")).cast("bigint").alias("n_toks"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offs = toks.withColumn(
        "start_off", F.sum("n_toks").over(w) - F.col("n_toks")
    )
    seq = F.floor(F.col("start_off") / SEQ_BUDGET).cast("bigint")
    return offs.groupBy("shard", seq.alias("seq_id")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


MIXTURE_CAP_MICROS = 1_000_000  # downsample-only policy: weight <= 1.0


# Exact floor(1000000 * total / (n_sources * n_tokens)) that is portable
# AND overflow-free at 100 TB scale: the naive `1000000 * total_tokens`
# overflows BIGINT past ~9.2e12 corpus tokens (ANSI runtime error in
# Spark), and DECIMAL `div`/`//` ROUNDS differently across engines
# (Spark truncates, DuckDB rounds half-up). So compute in DECIMAL(38,0)
# and divide only the exactly-divisible part — (num - num % den) / den is
# an exact integer in both engines, immune to result-scale rounding.
# A source with n_tokens = 0 gets a NULL weight on both sides (DuckDB's
# `//` yields NULL on zero; Spark ANSI `div` would raise).
_WEIGHT_SQL = """
CASE WHEN n_tokens = 0 THEN CAST(NULL AS BIGINT)
     ELSE LEAST(CAST({cap} AS BIGINT), CAST(
        (CAST(total_tokens AS DECIMAL(38,0)) * 1000000
         - (CAST(total_tokens AS DECIMAL(38,0)) * 1000000)
           % (CAST(n_sources AS DECIMAL(38,0)) * CAST(n_tokens AS DECIMAL(38,0))))
        / (CAST(n_sources AS DECIMAL(38,0)) * CAST(n_tokens AS DECIMAL(38,0)))
        AS BIGINT))
END
""".replace("\n", " ")


@query(
    "source_mixture_rebalance",
    oracle=f"""
WITH per_source AS (
  SELECT source,
         COUNT(*) AS n_docs,
         CAST(SUM(CAST(LEN(regexp_extract_all(text, '\\S+')) AS BIGINT)) AS BIGINT)
           AS n_tokens
  FROM documents
  GROUP BY source
), totals AS (
  SELECT source, n_docs, n_tokens,
         (SELECT CAST(SUM(n_tokens) AS BIGINT) FROM per_source) AS total_tokens,
         (SELECT COUNT(*) FROM per_source) AS n_sources
  FROM per_source
), weighted AS (
  SELECT source, n_docs, n_tokens,
         {_WEIGHT_SQL.format(cap=MIXTURE_CAP_MICROS)} AS weight_micros
  FROM totals
)
SELECT source, n_docs, n_tokens, weight_micros,
       CAST((n_docs * weight_micros) // 1000000 AS BIGINT) AS expected_docs
FROM weighted
""",
)
def source_mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source mixture rebalancing: per-source sampling weights that move
    the corpus toward a uniform token budget per source (the mixing step
    of Pile/Dolma-style pipelines), capped at 1.0 (downsample-only).

    Scale design: one map-side-combined agg over the scan (text pruned to
    a token count before the shuffle; the shuffle key `source` is
    low-cardinality but each mapper emits one partial row per source, so
    skew is bounded by mapper count, not row count). The totals window
    then runs over the *aggregated* frame — dimension-sized, so the
    single-partition window is over |sources| rows, never the corpus.
    Weights are integer micro-units from exact DECIMAL(38,0) floor
    division (`_WEIGHT_SQL`) — engine-portable, no float division, and
    no BIGINT overflow even past 9.2e12 corpus tokens; zero-token
    sources weigh NULL instead of raising under ANSI mode."""
    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.regexp_count(F.col("text"), F.lit(r"\S+")).cast("bigint"))
        .cast("bigint")
        .alias("n_tokens"),
    )
    w = Window.partitionBy()
    return (
        per_source.withColumn("total_tokens", F.sum("n_tokens").over(w))
        .withColumn("n_sources", F.count(F.lit(1)).over(w))
        .withColumn(
            "weight_micros", F.expr(_WEIGHT_SQL.format(cap=MIXTURE_CAP_MICROS))
        )
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "weight_micros",
            F.expr("n_docs * weight_micros div 1000000").alias("expected_docs"),
        )
    )


INCR_MOD = 7  # doc_id % 7 == 0 stands in for "the newly arrived batch"
INCR_NEAR_SHARED = 8  # shared corpus 5-grams that make an arrival a near-dup


@query(
    "incremental_dedup_verdicts",
    oracle=f"""
WITH incoming AS (
  SELECT doc_id, text FROM documents WHERE doc_id % {INCR_MOD} = 0
), corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % {INCR_MOD} <> 0
), corpus_md5 AS (
  SELECT DISTINCT md5(text) AS h FROM corpus
), corpus_grams AS (
  SELECT DISTINCT gram FROM (
    SELECT unnest(list_transform(
             generate_series(1, greatest(len(string_split_regex(trim(text), '\\s+')) - {DECON_GRAM_WORDS - 1}, 1)),
             i -> array_to_string(string_split_regex(trim(text), '\\s+')[i:i+{DECON_GRAM_WORDS - 1}], ' ')
           )) AS gram
    FROM corpus)
), incoming_grams AS (
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id,
           unnest(list_transform(
             generate_series(1, greatest(len(string_split_regex(trim(text), '\\s+')) - {DECON_GRAM_WORDS - 1}, 1)),
             i -> array_to_string(string_split_regex(trim(text), '\\s+')[i:i+{DECON_GRAM_WORDS - 1}], ' ')
           )) AS gram
    FROM incoming)
), shared AS (
  SELECT ig.doc_id, COUNT(*) AS n_shared_grams
  FROM incoming_grams ig JOIN corpus_grams cg ON cg.gram = ig.gram
  GROUP BY ig.doc_id
)
SELECT i.doc_id,
       CASE WHEN cm.h IS NOT NULL THEN 1 ELSE 0 END AS is_exact_dup,
       CAST(COALESCE(s.n_shared_grams, 0) AS BIGINT) AS n_shared_grams,
       CASE WHEN cm.h IS NOT NULL THEN 'drop_exact'
            WHEN COALESCE(s.n_shared_grams, 0) >= {INCR_NEAR_SHARED} THEN 'drop_near'
            ELSE 'keep' END AS verdict
FROM incoming i
LEFT JOIN corpus_md5 cm ON cm.h = md5(i.text)
LEFT JOIN shared s ON s.doc_id = i.doc_id
""",
)
def incremental_dedup_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (new-batch-vs-corpus) deduplication — the verdict pass
    a CONTINUOUSLY-growing training corpus runs on every arriving batch:
    exact content match against the historical corpus, plus near-dup via
    shared word-5-gram count, folded into a keep/drop verdict per
    arrival. (Docs with doc_id % {INCR_MOD} == 0 stand in for the batch.)

    100 TB shape — the corpus NEVER self-joins and never broadcasts:
    the arriving batch is the small side everywhere. Exact: the corpus's
    md5 projection (16 B/doc) shuffle-joins the batch on content hash
    (AQE handles the asymmetry; no hint, the batch side auto-broadcasts
    when it fits). Near-dup: the corpus gram inventory is reduced to
    DISTINCT grams once (map-side combine), then joined by the batch's
    exploded grams — per-gram matches, grouped per arrival. In
    production the corpus sides are precomputed incremental state
    (today's corpus hashes = yesterday's + yesterday's keeps), so the
    per-batch cost is batch-sized, not corpus-sized."""
    docs = scan_parallel(load_table(spark, sf_dir, "documents"), spark)
    incoming = docs.filter(F.col("doc_id") % INCR_MOD == 0)
    corpus = docs.filter(F.col("doc_id") % INCR_MOD != 0)

    g5 = _grams5_cached(spark, sf_dir)
    corpus_md5 = corpus.select(F.md5("text").alias("h")).distinct()
    corpus_grams = (
        g5.filter(F.col("doc_id") % INCR_MOD != 0).select("gram").distinct()
    )
    incoming_grams = g5.filter(F.col("doc_id") % INCR_MOD == 0)
    # no broadcast hint: the batch's EXPLODED gram inventory can be far
    # larger than the batch itself — let AQE pick broadcast when it fits
    # (same policy as the md5 join below)
    shared = (
        corpus_grams.join(incoming_grams, "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )
    inc = incoming.select("doc_id", F.md5("text").alias("h_in"))
    return (
        inc.join(corpus_md5, inc.h_in == corpus_md5.h, "left")
        .join(shared.withColumnRenamed("doc_id", "s_doc"),
              F.col("doc_id") == F.col("s_doc"), "left")
        .select(
            "doc_id",
            F.when(F.col("h").isNotNull(), 1).otherwise(0).alias("is_exact_dup"),
            F.coalesce("n_shared_grams", F.lit(0)).cast("bigint").alias("n_shared_grams"),
            F.when(F.col("h").isNotNull(), "drop_exact")
            .when(
                F.coalesce("n_shared_grams", F.lit(0)) >= INCR_NEAR_SHARED,
                "drop_near",
            )
            .otherwise("keep")
            .alias("verdict"),
        )
    )


QW_CHAR_CAP = 2000  # chars at which the quality weight saturates at 1.0


@query(
    "quality_weighted_sample",
    oracle=f"""
WITH w AS (
  SELECT doc_id, lang, n_chars,
         (LEAST(n_chars, {QW_CHAR_CAP}) * 256) // {QW_CHAR_CAP} AS thr,
         {_bucket_sql("md5(CAST(doc_id AS VARCHAR))")} AS bucket
  FROM documents
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN bucket < thr THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN bucket < thr THEN n_chars ELSE 0 END) AS BIGINT)
         AS kept_chars,
       CAST(SUM(thr) AS BIGINT) AS expected_keep_x256
FROM w GROUP BY lang
""",
)
def quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted (importance) sampling: each document is kept with
    probability proportional to a quality proxy (here: saturating length
    weight, the DCLM/FineWeb-style score stand-in), decided
    DETERMINISTICALLY by comparing the doc's stable md5 bucket against an
    integer threshold — reproducible across runs/engines, no RNG state.
    `expected_keep_x256` (the sum of thresholds) lets the consumer audit
    realized-vs-expected keep rates per stratum.

    Scan-shaped: per-row integer arithmetic (`(LEAST(chars,cap)*256) div
    cap` — exact in both engines) plus one low-cardinality aggregation;
    no joins, no corpus shuffle. At 100 TB the weight column would come
    from a model-scored table instead; the decision rule is unchanged."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.expr(f"(LEAST(n_chars, {QW_CHAR_CAP}) * 256) div {QW_CHAR_CAP}").alias("thr"),
        F.expr(_bucket_expr("md5(CAST(doc_id AS STRING))")).alias("bucket"),
    )
    kept = F.col("bucket") < F.col("thr")
    return w.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.sum(F.when(kept, F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("kept_chars"),
        F.sum("thr").cast("bigint").alias("expected_keep_x256"),
    )


CHUNK_TOKENS = 64  # max tokens per training chunk
CHUNK_OVERLAP = 8  # tokens shared between consecutive chunks


@query(
    "chunk_documents_overlap",
    oracle=rf"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS l FROM documents
), chunks AS (
  SELECT doc_id,
         CAST(c.c AS INT) AS chunk_id,
         l[c.c * {CHUNK_TOKENS - CHUNK_OVERLAP} + 1 :
           c.c * {CHUNK_TOKENS - CHUNK_OVERLAP} + {CHUNK_TOKENS}] AS chunk
  FROM toks
  CROSS JOIN LATERAL (
    SELECT unnest(range(0, GREATEST(CAST(ceil((len(l) - {CHUNK_OVERLAP})
               / {CHUNK_TOKENS - CHUNK_OVERLAP}.0) AS INT), 1))) AS c
  ) c
)
SELECT doc_id, chunk_id,
       CAST(len(chunk) AS BIGINT) AS n_tokens,
       md5(array_to_string(chunk, ' ')) AS chunk_md5
FROM chunks WHERE len(chunk) > 0
""",
)
def chunk_documents_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking: split every document into
    {CHUNK_TOKENS}-token training chunks with {CHUNK_OVERLAP} tokens of
    overlap between consecutive chunks — the splitter side of sequence
    preparation (pack_sequences is the merger side): long docs become
    multiple windows, context is preserved across cut points.

    Scan-shaped: the chunk windows are a `transform` over each doc's
    token array (stride = chunk - overlap) followed by one explode — no
    shuffle, no Python; identity of each chunk is the md5 of its joined
    tokens so the oracle verifies the exact slicing. At 100 TB this is
    the same narrow map over however many partitions the scan yields."""
    from tiered_storage_for_apache_kafka_spark.operators.dedup import tokens_cached

    stride = CHUNK_TOKENS - CHUNK_OVERLAP
    toks = tokens_cached(spark, sf_dir)
    chunks = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, int(greatest(ceil((size(toks) - {CHUNK_OVERLAP}) / {stride}.0), 1)) - 1), "
                f"c -> struct(c AS chunk_id, slice(toks, c * {stride} + 1, {CHUNK_TOKENS}) AS chunk))"
            )
        ).alias("w"),
    ).select(
        "doc_id",
        F.col("w.chunk_id").cast("int").alias("chunk_id"),
        F.col("w.chunk").alias("chunk"),
    )
    return chunks.filter(F.size("chunk") > 0).select(
        "doc_id",
        "chunk_id",
        F.size("chunk").cast("bigint").alias("n_tokens"),
        F.md5(F.array_join("chunk", " ")).alias("chunk_md5"),
    )


OVERLAP_GRAM_WORDS = 8  # discriminative long grams for cross-source overlap


@query(
    "source_overlap_matrix",
    oracle=f"""
WITH hashes AS (
  SELECT DISTINCT source, md5(text) AS h FROM documents
), exact_pairs AS (
  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared_docs
  FROM hashes a JOIN hashes b ON a.h = b.h AND a.source < b.source
  GROUP BY a.source, b.source
), grams AS (
  SELECT DISTINCT source, gram FROM (
    SELECT source,
           unnest(list_transform(
             generate_series(1, greatest(len(string_split_regex(trim(text), '\\s+')) - {OVERLAP_GRAM_WORDS - 1}, 1)),
             i -> array_to_string(string_split_regex(trim(text), '\\s+')[i:i+{OVERLAP_GRAM_WORDS - 1}], ' ')
           )) AS gram
    FROM documents)
), gram_pairs AS (
  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared_grams
  FROM grams a JOIN grams b ON a.gram = b.gram AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT g.source_a, g.source_b,
       CAST(COALESCE(e.n_shared_docs, 0) AS BIGINT) AS n_shared_docs,
       CAST(g.n_shared_grams AS BIGINT) AS n_shared_grams
FROM gram_pairs g
LEFT JOIN exact_pairs e
  ON e.source_a = g.source_a AND e.source_b = g.source_b
""",
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every pair of sources, how
    many identical documents (content hash) AND how many distinct word
    {OVERLAP_GRAM_WORDS}-grams they share — the dataset diagnostic that
    tells you two crawls/dumps overlap BEFORE you pay for pairwise
    near-dup passes between them.

    Plan: ONE exchange per side (guide §2.4) — instead of self-joining
    the (source, key) inverted index on the key (two more shuffles of
    the same rows plus the joined fan-out), each side groups by its key
    once, collects the ≤|sources| member set per group map-side, and
    explodes the sorted set's (a < b) pairs — identical pair counts,
    bounded by |key groups| x |sources|², independent of corpus row
    count. The final matrix is |sources|² at most."""

    def _pair_counts(df: DataFrame, key: str, out: str) -> DataFrame:
        # per key: sorted source set -> every (a < b) pair, counted
        return (
            df.groupBy(key)
            .agg(F.sort_array(F.collect_set("source")).alias("ss"))
            .select(
                F.explode(
                    F.expr(
                        "flatten(transform(ss, (a, i) -> "
                        "transform(slice(ss, i + 2, size(ss)), "
                        "b -> struct(a AS source_a, b AS source_b))))"
                    )
                ).alias("p")
            )
            .select("p.source_a", "p.source_b")
            .groupBy("source_a", "source_b")
            .agg(F.count(F.lit(1)).alias(out))
        )

    docs = scan_parallel(load_table(spark, sf_dir, "documents"), spark)
    n = OVERLAP_GRAM_WORDS
    # no pre-DISTINCT on either side: collect_set dedupes sources per
    # key group inside the same (single) exchange the grouping needs
    hashes = docs.select("source", F.md5("text").alias("h"))
    exact = _pair_counts(hashes, "h", "n_shared_docs")
    toks = docs.select("source", F.split(F.trim("text"), r"\s+").alias("toks"))
    grams = toks.select(
        "source",
        F.explode(
            F.expr(
                f"transform(sequence(1, greatest(size(toks) - {n - 1}, 1)), "
                f"i -> array_join(slice(toks, i, {n}), ' '))"
            )
        ).alias("gram"),
    )
    gram_pairs = _pair_counts(grams, "gram", "n_shared_grams")
    return gram_pairs.join(exact, ["source_a", "source_b"], "left").select(
        "source_a",
        "source_b",
        F.coalesce("n_shared_docs", F.lit(0)).cast("bigint").alias("n_shared_docs"),
        F.col("n_shared_grams").cast("bigint").alias("n_shared_grams"),
    )


BLOOM_BITS_LOG2 = 16  # m = 65536 bit positions
BLOOM_K = 4  # hash functions per key


def _bloom_pos_sql(i: int, key: str) -> str:
    """DuckDB bit position i for a key: 4 salted-md5 hex digits mod 2^16."""
    h = f"md5('b{i}|' || {key})"
    return (
        f"((strpos('0123456789abcdef', substr({h}, 1, 1)) - 1) * 4096 + "
        f"(strpos('0123456789abcdef', substr({h}, 2, 1)) - 1) * 256 + "
        f"(strpos('0123456789abcdef', substr({h}, 3, 1)) - 1) * 16 + "
        f"(strpos('0123456789abcdef', substr({h}, 4, 1)) - 1))"
    )


def _bloom_pos_expr(i: int, key: str) -> str:
    h = f"md5(concat('b{i}|', {key}))"
    return (
        f"((locate(substr({h}, 1, 1), '0123456789abcdef') - 1) * 4096 + "
        f"(locate(substr({h}, 2, 1), '0123456789abcdef') - 1) * 256 + "
        f"(locate(substr({h}, 3, 1), '0123456789abcdef') - 1) * 16 + "
        f"(locate(substr({h}, 4, 1), '0123456789abcdef') - 1))"
    )


@query(
    "bloom_prefilter_audit",
    oracle=f"""
WITH incoming AS (
  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % {INCR_MOD} = 0
), corpus AS (
  SELECT md5(text) AS h FROM documents WHERE doc_id % {INCR_MOD} <> 0
), bits AS (
  SELECT DISTINCT pos FROM (
    {" UNION ALL ".join(f"SELECT {_bloom_pos_sql(i, 'h')} AS pos FROM corpus" for i in range(BLOOM_K))}
  )
), probes AS (
  SELECT doc_id, h, pos FROM (
    {" UNION ALL ".join(f"SELECT doc_id, h, {_bloom_pos_sql(i, 'h')} AS pos FROM incoming" for i in range(BLOOM_K))}
  )
), maybe AS (
  SELECT p.doc_id, p.h
  FROM probes p JOIN bits b ON b.pos = p.pos
  GROUP BY p.doc_id, p.h HAVING COUNT(*) >= {BLOOM_K}
), truth AS (
  SELECT DISTINCT i.doc_id FROM incoming i JOIN corpus c ON c.h = i.h
)
SELECT CAST((SELECT COUNT(*) FROM incoming) AS BIGINT) AS n_incoming,
       CAST((SELECT COUNT(*) FROM maybe) AS BIGINT) AS n_maybe,
       CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_true_dups,
       CAST((SELECT COUNT(*) FROM maybe m
             WHERE m.doc_id NOT IN (SELECT doc_id FROM truth)) AS BIGINT)
         AS n_false_positives
""",
)
def bloom_prefilter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter pre-filter audit for incremental dedup: the corpus's
    content hashes populate a {BLOOM_K}-hash / 2^{BLOOM_BITS_LOG2}-bit
    Bloom filter; arriving docs probe it; the report compares
    filter-maybe against exact membership — n_false_positives is what
    the filter costs in unnecessary exact checks, and (guaranteed by the
    one-sided Bloom property, pinned in tests) no true duplicate is ever
    missed. At 100 TB this is THE standard shape: the bit set is
    kilobytes broadcast to every executor, so the arriving batch joins a
    broadcast bitmap instead of shuffling against the corpus hash table;
    only the maybe-sliver pays the exact join.

    Portability: bit positions are salted-md5 hex-digit arithmetic
    (locate/strpos), bit-identical across engines; set bits are modeled
    relationally as a DISTINCT position table, so the 'all k bits set'
    probe is a join + count — no engine-specific bitmap type."""
    # ONE corpus pass (guide §2.3/§8): every per-doc verdict here is a
    # pure function of the content hash (bit positions and corpus
    # membership alike), so the corpus aggregates to a per-DISTINCT-hash
    # frame first — n_inc incoming copies + corpus membership per h —
    # and maybe/truth/false-positive counts are n_inc-weighted sums over
    # that tiny frame. Identical integers to the per-doc formulation
    # (each doc has exactly one h); the old shape re-scanned + re-hashed
    # the corpus in five separate plan branches.
    docs = load_table(spark, sf_dir, "documents")
    byh = (
        docs.select(
            (F.col("doc_id") % INCR_MOD == 0).alias("inc"),
            F.md5("text").alias("h"),
        )
        .groupBy("h")
        .agg(
            F.sum(F.when(F.col("inc"), 1).otherwise(0)).alias("n_inc"),
            F.max(F.when(~F.col("inc"), 1).otherwise(0)).alias("in_corpus"),
        )
    )
    pos_arr = F.array(*[F.expr(_bloom_pos_expr(i, "h")) for i in range(BLOOM_K)])
    bits = (
        byh.where(F.col("in_corpus") == 1)
        .select(F.explode(pos_arr).alias("pos"))
        .distinct()
    )
    probes = byh.where(F.col("n_inc") > 0).select(
        "h", "n_inc", "in_corpus", F.explode(pos_arr).alias("pos")
    )
    maybe_h = (
        probes.join(F.broadcast(bits), "pos")
        .groupBy("h", "n_inc", "in_corpus")
        .agg(F.count(F.lit(1)).alias("n_set"))
        .filter(F.col("n_set") >= BLOOM_K)
    )
    # one declarative plan (1-row aggregates cross-joined), not four
    # eager count() jobs — the caller's single action computes everything
    return (
        byh.agg(
            F.sum("n_inc").cast("bigint").alias("n_incoming"),
            F.sum(F.col("n_inc") * F.col("in_corpus"))
            .cast("bigint")
            .alias("n_true_dups"),
        )
        .crossJoin(
            maybe_h.agg(
                F.coalesce(F.sum("n_inc"), F.lit(0))
                .cast("bigint")
                .alias("n_maybe"),
                F.coalesce(
                    F.sum(F.col("n_inc") * (1 - F.col("in_corpus"))),
                    F.lit(0),
                )
                .cast("bigint")
                .alias("n_false_positives"),
            )
        )
        .select(
            "n_incoming", "n_maybe", "n_true_dups", "n_false_positives"
        )
    )


@query(
    "temperature_mixture_weights",
    oracle="""
WITH per_source AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(LEN(regexp_extract_all(trim(text), '\\S+'))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), rooted AS (
  SELECT source, n_docs, n_tokens,
         CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS isqrt_tokens
  FROM per_source
)
SELECT source, n_docs, n_tokens, isqrt_tokens,
       CAST((isqrt_tokens * 1000000)
            // (SELECT SUM(isqrt_tokens) FROM rooted) AS BIGINT) AS p_micro
FROM rooted
""",
)
def temperature_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixing (alpha = 0.5): sampling probability
    p_s proportional to n_tokens_s^alpha — the multilingual/multi-domain
    rebalancing rule (mBERT/XLM-R style) that upweights small sources
    without flattening to uniform (the alpha=0 case source_mixture_rebalance
    covers).

    Portability: sqrt is IEEE correctly-rounded in both engines and every
    n_tokens is far below 2^53, so FLOOR(SQRT(n)) is exact; from there the
    normalization is pure integer arithmetic (micro-unit floor division),
    so Spark and DuckDB emit identical BIGINTs. Scale: one map-side-
    combined aggregation; the normalizing sum runs over the
    |sources|-row aggregate, never the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.regexp_count(F.trim("text"), F.lit(r"\S+")).cast("bigint"))
        .cast("bigint")
        .alias("n_tokens"),
    )
    rooted = per_source.withColumn(
        "isqrt_tokens",
        F.floor(F.sqrt(F.col("n_tokens").cast("double"))).cast("bigint"),
    )
    return rooted.withColumn(
        "p_micro",
        F.expr("cast(isqrt_tokens * 1000000 div sum(isqrt_tokens) over () as bigint)"),
    ).select("source", "n_docs", "n_tokens", "isqrt_tokens", "p_micro")


DSIR_TOPK = 100  # resampling budget: docs selected toward the target


def _dsir_oracle() -> str:
    from tiered_storage_for_apache_kafka_spark.operators.filtering import (
        QUALITY_BUCKETS,
        _bucket_sql as _qbucket_sql,
    )

    return rf"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS l FROM documents
), feats AS (
  SELECT doc_id, tok FROM (SELECT doc_id, unnest(l) AS tok FROM toks)
  UNION ALL
  SELECT doc_id, pr[1] || '_' || pr[2] AS tok
  FROM (SELECT doc_id, unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS pr
        FROM toks)
), hashed AS (
  SELECT doc_id, {_qbucket_sql('tok')} AS bucket FROM feats
), tagged AS (
  SELECT h.doc_id, h.bucket, d.lang
  FROM hashed h JOIN documents d USING (doc_id)
), counts AS (
  SELECT bucket, COUNT(*) AS c_r,
         SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_t
  FROM tagged GROUP BY bucket
), tot AS (
  SELECT COUNT(*) AS t_r,
         SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS t_t
  FROM tagged
), model AS (
  SELECT bucket, ln(c_t + 1) - ln(c_r + 1) AS w FROM counts
), scored AS (
  SELECT t.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_features,
         ROUND(SUM(m.w)
               + COUNT(*) * (ln((SELECT t_r FROM tot) + {QUALITY_BUCKETS})
                             - ln((SELECT t_t FROM tot) + {QUALITY_BUCKETS})),
               4) AS dsir_weight
  FROM tagged t JOIN model m USING (bucket)
  GROUP BY t.doc_id
)
SELECT doc_id, n_features, dsir_weight
FROM scored
ORDER BY dsir_weight DESC, doc_id
LIMIT {DSIR_TOPK}
"""


@query("dsir_importance_topk", oracle=_dsir_oracle())
def dsir_importance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.,
    NeurIPS 2023, public): select raw-corpus documents toward a target
    distribution by importance weight under two hashed bag-of-ngrams
    models. Target = the ``lang = 'en'`` slice; features = the same
    hashed uni+bigram buckets the quality classifier uses
    (`filtering._hashed_features`, 4096 buckets, md5-bucket arithmetic
    identical in both engines). Per-bucket weight is the smoothed
    log-likelihood ratio ``ln(c_target+1) - ln(c_raw+1)``; a document's
    importance weight is the sum over its feature occurrences plus the
    normalization ``n_features * (ln(T_raw+B) - ln(T_target+B))``, and
    the deterministic resampling step keeps the top-K by (rounded
    weight, doc_id).

    100 TB shape: the corpus is never collected — bucket counting is
    one map-side-combined shuffle of (bucket, flag) pairs; the model is
    a <=4096-row broadcast dimension; scoring is a broadcast join plus
    one doc-keyed agg; the two corpus totals attach as a broadcast
    scalar; top-K plans as TakeOrderedAndProject (no global sort
    materialization). No Python UDFs anywhere."""
    from tiered_storage_for_apache_kafka_spark.operators.filtering import (
        QUALITY_BUCKETS,
        _hashed_features,
    )

    feats = _hashed_features(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    tagged = feats.join(docs, "doc_id")
    is_t = F.when(F.col("lang") == "en", 1).otherwise(0)
    # one corpus pass builds the per-bucket counts; materialize the
    # <=4096-row result (lineage_cut) so the model AND the corpus
    # totals derive from it without re-running the pass — totals are
    # exact integer sums of the bucket counts, so this is the same
    # number computed one aggregation level higher (was: a second full
    # pass over the tagged features just for the two totals)
    counts = lineage_cut(
        tagged.groupBy("bucket").agg(
            F.count(F.lit(1)).alias("c_r"), F.sum(is_t).alias("c_t")
        )
    )
    tot = counts.agg(
        F.sum("c_r").alias("t_r"), F.sum("c_t").alias("t_t")
    )
    model = counts.select(
        "bucket", (F.log(F.col("c_t") + 1) - F.log(F.col("c_r") + 1)).alias("w")
    )
    scored = (
        tagged.join(F.broadcast(model), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_features"),
            F.sum("w").alias("sw"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "n_features",
            F.round(
                F.col("sw")
                + F.col("n_features")
                * (
                    F.log(F.col("t_r") + QUALITY_BUCKETS)
                    - F.log(F.col("t_t") + QUALITY_BUCKETS)
                ),
                4,
            ).alias("dsir_weight"),
        )
    )
    return scored.orderBy(
        F.col("dsir_weight").desc(), "doc_id"
    ).limit(DSIR_TOPK)


# -- sequential Poisson (PPS) weighted sampling --------------------------------

PPS_SAMPLE_K = 20  # sampled docs per language stratum

# 40-bit uniform integer from md5 hex chars 1..10 — exact in a double,
# so priority = u / weight is ONE correctly-rounded IEEE-754 division
# and therefore bit-identical in Spark and DuckDB (the registry's
# portability rules allow raw float ORDER BY only under this property;
# transcendentals like pow/log would NOT be portable)


# word-bigram shingles, shared by the KMV and containment sketches (one
# place to fix the empty-text / single-word edge in BOTH engines).
# The split is staged into a `ws` column first: Catalyst does no
# loop-invariant code motion inside higher-order-function lambdas, so a
# split written in the lambda body re-splits the full text once per
# bigram — O(words^2) per doc (measured 7.5x on the explode at sf0.1).
BIGRAM_WORDS_SPARK_EXPR = (
    # Spark SQL string literals unescape backslashes, so the regex
    # needs double-escaping here (the DuckDB literal below does not)
    "split(trim(text), '\\\\s+')"
)
BIGRAM_FROM_WORDS_EXPR = (
    "transform(sequence(1, greatest(size(ws) - 1, 1)), "
    "i -> array_join(slice(ws, i, 2), ' '))"
)


def bigram_tokens(docs: DataFrame, *keep: str) -> DataFrame:
    """(keep..., tok) — one exploded word-bigram row per occurrence,
    with the text split evaluated once per row (see note above)."""
    return docs.select(
        *keep, F.expr(BIGRAM_WORDS_SPARK_EXPR).alias("ws")
    ).select(*keep, F.explode(F.expr(BIGRAM_FROM_WORDS_EXPR)).alias("tok"))
BIGRAM_WORDS_SQL = r"string_split_regex(trim(text), '\s+')"
BIGRAM_LIST_SQL = (
    "list_transform(generate_series(1, greatest(len(w) - 1, 1)), "
    "i -> array_to_string(w[i:i+1], ' '))"
)


def _hex40_expr(hash_col: str, fn: str) -> str:
    """40-bit BIGINT from the first 10 hex chars; `fn` is locate (Spark,
    needle-first) or strpos (DuckDB, haystack-first) — both 1-based."""
    digits = "'0123456789abcdef'"
    terms = []
    for i in range(10):
        ch = f"substr({hash_col}, {i + 1}, 1)"
        call = f"locate({ch}, {digits})" if fn == "locate" else f"strpos({digits}, {ch})"
        terms.append(f"CAST({call} - 1 AS BIGINT) * {16 ** (9 - i)}")
    return "(" + " + ".join(terms) + ")"


@query(
    "weighted_sample_pps",
    oracle=f"""
WITH pri AS (
  SELECT doc_id, lang, n_chars,
         CAST({_hex40_expr("md5(CAST(doc_id AS VARCHAR))", "strpos")} AS DOUBLE)
             / n_chars AS p
  FROM documents
), rk AS (
  SELECT doc_id, lang, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY p, doc_id) AS r
  FROM pri
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_sampled,
       CAST(SUM(n_chars) AS BIGINT) AS sample_chars,
       MIN(doc_id) AS min_doc_id,
       MAX(doc_id) AS max_doc_id
FROM rk WHERE r <= {PPS_SAMPLE_K}
GROUP BY lang
""",
)
def weighted_sample_pps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic probability-proportional-to-size sampling via
    **sequential Poisson sampling** (Ohlsson 1998, the PPS scheme used
    by large survey/statistics offices): each doc draws a uniform
    u from md5(doc_id) and is ranked by priority u / weight — taking
    the k smallest priorities per stratum approximates inclusion
    probability ∝ weight (here n_chars: longer docs proportionally
    more likely, the standard token-budget-aware corpus sampler).
    Deterministic: membership is a pure function of doc_id, so re-runs
    and distributed backfills agree with zero coordination.

    Scale: one shuffle keyed by the low-cardinality stratum (`lang`)
    for the window rank; the payload is (doc_id, priority), never text.
    At 100 TB with a hot stratum, swap ROW_NUMBER for the two-pass
    "sample the priority threshold, then filter" trick — the threshold
    is the k-th order statistic, broadcastable after a per-partition
    top-k. Priorities are a single IEEE division of two exactly-
    representable integers, so Spark and DuckDB order identically."""
    docs = load_table(spark, sf_dir, "documents")
    pri = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        (
            F.expr(
                _hex40_expr("md5(cast(doc_id as string))", "locate")
            ).cast("double")
            / F.col("n_chars")
        ).alias("p"),
    )
    w = Window.partitionBy("lang").orderBy("p", "doc_id")
    return (
        pri.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= PPS_SAMPLE_K)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sampled"),
            F.sum("n_chars").cast("bigint").alias("sample_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


# -- bottom-k containment sketch (asymmetric contamination) --------------------

CONTAIN_K = 16  # bottom-k sketch size per benchmark doc
CONTAIN_TRAIN_MOD = 7  # train-side audit sample: doc_id % 7 == 0


def _containment_oracle() -> str:
    g_bench = f"""
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, unnest({BIGRAM_LIST_SQL}) AS tok
    FROM (SELECT doc_id, {BIGRAM_WORDS_SQL} AS w
          FROM documents WHERE doc_id % {BENCH_MOD} = 0) t
  )"""
    g_train = f"""
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, unnest({BIGRAM_LIST_SQL}) AS tok
    FROM (SELECT doc_id, {BIGRAM_WORDS_SQL} AS w
          FROM documents
          WHERE doc_id % {BENCH_MOD} <> 0
            AND doc_id % {CONTAIN_TRAIN_MOD} = 0) t
  )"""
    u = _hex40_expr("md5(tok)", "strpos")
    return f"""
WITH bench_grams AS ({g_bench}
), train_grams AS ({g_train}
), bench_n AS (
  SELECT doc_id, COUNT(*) AS n_grams FROM bench_grams GROUP BY 1
), bench_rk AS (
  -- pure rank window: no count mixed in, so the engine can push the
  -- partial top-K below the exchange (same note as the KMV sketch)
  SELECT doc_id, tok,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY {u}, tok) AS r
  FROM bench_grams
), sketch AS (
  SELECT doc_id, tok FROM bench_rk WHERE r <= {CONTAIN_K}
), keff AS (
  SELECT doc_id AS bench_doc, LEAST(n_grams, {CONTAIN_K}) AS k_eff
  FROM bench_n
), hits AS (
  SELECT s.doc_id AS bench_doc, t.doc_id AS train_doc,
         CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM sketch s JOIN train_grams t ON t.tok = s.tok
  GROUP BY 1, 2
), exact AS (
  SELECT b.doc_id AS bench_doc, t.doc_id AS train_doc,
         CAST(COUNT(*) AS BIGINT) AS n_inter,
         MAX(n.n_grams) AS n_bench
  FROM bench_grams b
  JOIN train_grams t ON t.tok = b.tok
  JOIN bench_n n ON n.doc_id = b.doc_id
  GROUP BY 1, 2
)
SELECT e.bench_doc, e.train_doc,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST((1000 * COALESCE(h.n_hits, 0)) // k.k_eff AS BIGINT) AS est_pm,
       CAST((1000 * e.n_inter) // e.n_bench AS BIGINT) AS exact_pm
FROM exact e
JOIN keff k ON k.bench_doc = e.bench_doc
LEFT JOIN hits h
  ON h.bench_doc = e.bench_doc AND h.train_doc = e.train_doc
"""


@query("containment_sketch_audit", oracle=_containment_oracle())
def containment_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric contamination via **bottom-k containment sketches**
    (Broder's bottom-k; the direction Jaccard misses: a tiny eval doc
    fully CONTAINED in a huge train doc has low Jaccard but containment
    ~1): each benchmark doc keeps its k smallest bigram hashes; the
    estimated containment in a train doc is the fraction of those k
    present in the train doc's shingle set. Deterministic hash order
    statistics end-to-end, so the oracle recomputes the estimates AND
    the exact containments; the accuracy contract (RSE ~ 1/sqrt(k)) is
    pinned in pytest.

    Scale: bench sketches are O(bench x k) — broadcast; the train side
    streams its shingles through one hash join, never self-joins, and
    the exact side (the audit's ground truth) is the expensive pass the
    sketch replaces at 100 TB. The train-side audit sample keeps the
    pair surface bounded; production would score ALL train docs against
    the broadcast sketches with the same plan."""
    docs = load_table(spark, sf_dir, "documents")
    bench = bigram_tokens(
        docs.where(F.col("doc_id") % BENCH_MOD == 0), "doc_id"
    ).distinct()
    train = bigram_tokens(
        docs.where(
            (F.col("doc_id") % BENCH_MOD != 0)
            & (F.col("doc_id") % CONTAIN_TRAIN_MOD == 0)
        ),
        "doc_id",
    ).distinct()
    u = F.expr(_hex40_expr("md5(tok)", "locate"))
    # pure rank window (no count mixed in) so Spark's WindowGroupLimit
    # pushes a partial top-K below the exchange — the same note the KMV
    # sketch build carries; k_eff derives from the gram counts instead
    w = Window.partitionBy("doc_id").orderBy("u", "tok")
    sketch = (
        bench.select("doc_id", "tok", u.alias("u"))
        .select("doc_id", "tok", F.row_number().over(w).alias("r"))
        .where(F.col("r") <= CONTAIN_K)
        .select(F.col("doc_id").alias("bench_doc"), "tok")
    )
    hits = (
        F.broadcast(sketch)
        .join(train.withColumnRenamed("doc_id", "train_doc"), "tok")
        .groupBy("bench_doc", "train_doc")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    )
    n_bench = bench.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams")
    )
    keff = n_bench.select(
        F.col("doc_id").alias("bench_doc"),
        F.least(F.col("n_grams"), F.lit(CONTAIN_K)).alias("k_eff"),
    )
    exact = (
        F.broadcast(bench)
        .join(train.withColumnRenamed("doc_id", "train_doc"), "tok")
        .groupBy(F.col("doc_id").alias("bench_doc"), "train_doc")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_inter"))
        .join(
            F.broadcast(
                n_bench.select(
                    F.col("doc_id").alias("bench_doc"), "n_grams"
                )
            ),
            "bench_doc",
        )
    )
    return (
        exact.join(F.broadcast(keff), "bench_doc")
        .join(hits, ["bench_doc", "train_doc"], "left")
    ).select(
        "bench_doc",
        "train_doc",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
        F.expr("(1000 * coalesce(n_hits, 0L)) div k_eff")
        .cast("bigint")
        .alias("est_pm"),
        F.expr("(1000 * n_inter) div n_grams").cast("bigint").alias("exact_pm"),
    )
