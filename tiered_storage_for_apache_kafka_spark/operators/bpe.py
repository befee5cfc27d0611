"""Distributed BPE tokenizer training (Sennrich et al. 2016, the
subword vocabulary learner behind GPT-2/RoBERTa-style tokenizers).

The industrial layout: training never touches raw documents after one
pass — it runs on the (word, frequency) vocabulary table (Heaps-law
bounded, orders of magnitude smaller than the corpus). Each round:

1. count adjacent symbol pairs weighted by word frequency — one
   map-side-combined aggregation over the vocab table;
2. pick the globally most frequent pair (tie-break: lexicographically
   smallest pair string — deterministic on both engines);
3. apply the merge to every word's symbol sequence as a pure string
   ``replace`` (pair symbols are space-delimited; the replace is
   repeated ``MERGE_PASSES`` times — a FIXED pass count, identical on
   both engines, so the operation is bit-deterministic even where a
   single left-to-right scan would differ from a fixpoint).

Only the 1-row argmax touches the driver per round (the k-means /
perceptron pattern); the vocab table stays distributed. All counts are
exact integers, so the DuckDB oracle replays the full training loop
round by round (materialized CTEs keep the chain linear).

Reference provenance: no analog in the tiered-storage reference — this
is the LLM-pipeline extension (tokenizer training is the step between
corpus curation and model training).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiered_storage_for_apache_kafka_spark.sources.local_df import (
    local_rows_df,
)
from tiered_storage_for_apache_kafka_spark.operators.registry import (
    query,
)
from tiered_storage_for_apache_kafka_spark.session import session_fixture

BPE_MERGES = 8
MERGE_PASSES = 6  # fixed replace passes per merge (see module docstring)
END_OF_WORD = "</w>"


def _seq_sql(w: str) -> str:
    """DuckDB: word -> space-separated character symbols + </w>."""
    return (
        f"array_to_string(list_transform(generate_series(1, length({w})), "
        f"i -> substr({w}, i, 1)), ' ') || ' {END_OF_WORD}'"
    )


def _seq_expr(w: str) -> str:
    """Spark twin of :func:`_seq_sql`."""
    return (
        f"concat(array_join(transform(sequence(1, length({w})), "
        f"i -> substr({w}, i, 1)), ' '), ' {END_OF_WORD}')"
    )


def _apply_merge_sql(seq: str, pair: str, merged: str) -> str:
    """MERGE_PASSES nested space-delimited replaces (both engines share
    left-to-right non-overlapping replace semantics)."""
    out = f"' ' || {seq} || ' '"
    for _ in range(MERGE_PASSES):
        out = f"replace({out}, ' ' || {pair} || ' ', ' ' || {merged} || ' ')"
    return f"trim({out})"


def _pairs_cte(vocab: str) -> str:
    """DuckDB: (pair, weighted count) from a vocab CTE with (seq, f)."""
    return f"""
  SELECT pr[1] || ' ' || pr[2] AS pair, CAST(SUM(f) AS BIGINT) AS cnt
  FROM (
    SELECT unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS pr, f
    FROM (SELECT string_split(seq, ' ') AS l, f FROM {vocab})
  )
  WHERE pr[2] IS NOT NULL
  GROUP BY pr[1] || ' ' || pr[2]
"""


def _bpe_oracle() -> str:
    sql = rf"""
WITH words AS MATERIALIZED (
  SELECT tok AS w, CAST(COUNT(*) AS BIGINT) AS f
  FROM (
    SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
    FROM documents
  )
  WHERE tok <> '' GROUP BY tok
), v0 AS MATERIALIZED (
  SELECT {_seq_sql('w')} AS seq, f FROM words
)"""
    prev = "v0"
    for k in range(1, BPE_MERGES + 1):
        sql += f""", p{k} AS MATERIALIZED (
  SELECT pair, cnt FROM ({_pairs_cte(prev)})
), b{k} AS MATERIALIZED (
  SELECT pair, cnt FROM p{k} ORDER BY cnt DESC, pair ASC LIMIT 1
), v{k} AS MATERIALIZED (
  SELECT {_apply_merge_sql('v.seq', 'b.pair', "replace(b.pair, ' ', '')")} AS seq,
         v.f AS f
  FROM {prev} v CROSS JOIN b{k} b
)"""
        prev = f"v{k}"
    selects = "\nUNION ALL\n".join(
        f"SELECT {k} AS merge_rank, pair, replace(pair, ' ', '') AS merged, cnt FROM b{k}"
        for k in range(1, BPE_MERGES + 1)
    )
    return sql + f"\n{selects}\nORDER BY merge_rank\n"


@session_fixture
def _trained_merges(spark: SparkSession, sf_dir: str) -> list:
    """The BPE training loop: the learned (rank, pair, merged, cnt)
    merge list, trained once per session and shared by training's
    output and its application to the corpus."""
    from tiered_storage_for_apache_kafka_spark.operators.dedup import (
        tokens_cached,
    )

    toks = tokens_cached(spark, sf_dir)
    words = (
        toks.select(F.explode("toks").alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    vocab = words.select(
        F.expr(_seq_expr("w")).alias("seq"), "f"
    ).cache()
    merges = []
    for rank in range(1, BPE_MERGES + 1):
        pairs = (
            # the split is staged into a column: Catalyst does no
            # loop-invariant code motion inside HOF lambdas, so
            # split-in-the-lambda re-splits seq once per pair
            vocab.select(F.expr("split(seq, ' ')").alias("sym"), "f")
            .select(
                F.explode(
                    # size guard: a fully-merged single-symbol word
                    # makes sequence(1, size-1) DESCEND to [1, 0] —
                    # INVALID_ARRAY_INDEX under ANSI mode (same
                    # hazard as _hashed_features' bigrams)
                    F.expr(
                        "CASE WHEN size(sym) >= 2 THEN "
                        "transform(sequence(1, size(sym) - 1), "
                        "i -> concat(sym[i - 1], ' ', sym[i])) "
                        "ELSE CAST(array() AS array<string>) END"
                    )
                ).alias("pair"),
                "f",
            )
            .groupBy("pair")
            .agg(F.sum("f").cast("bigint").alias("cnt"))
        )
        best = pairs.orderBy(F.col("cnt").desc(), F.col("pair").asc()).limit(1)
        row = best.collect()
        if not row:
            break
        pair, cnt = row[0]["pair"], int(row[0]["cnt"])
        merged = pair.replace(" ", "")
        merges.append((rank, pair, merged, cnt))
        lit_pair = pair.replace("'", "''")
        lit_merged = merged.replace("'", "''")
        new_vocab = vocab.select(
            F.expr(
                _apply_merge_sql("seq", f"'{lit_pair}'", f"'{lit_merged}'")
            ).alias("seq"),
            "f",
        ).cache()
        new_vocab.count()  # materialize before dropping the parent
        vocab.unpersist()
        vocab = new_vocab
    vocab.unpersist()
    return merges


@query("bpe_train_merges", oracle=_bpe_oracle())
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED BPE merge table: {BPE_MERGES} rounds of pair-count →
    global argmax → merge application over the corpus vocabulary.
    Output = the learned merge list (rank, pair, merged symbol, weighted
    pair count) — the artifact a tokenizer ships. The DuckDB oracle
    replays the identical training loop; exact integer counts and the
    deterministic tie-break make the hashes match bit-for-bit.

    100 TB plan: the corpus is touched once (word-frequency aggregation,
    one shuffle); every training round is one map-side-combined agg over
    the Heaps-law-bounded vocab table + a 1-row argmax collect; merge
    application is a JVM string expression (no UDF anywhere). This is
    the layout of production subword trainers (HuggingFace tokenizers'
    word-count pre-aggregation), expressed on Spark."""
    merges = _trained_merges(spark, sf_dir)
    return local_rows_df(
        spark,
        merges, "merge_rank INT, pair STRING, merged STRING, cnt BIGINT"
    )


def _encode_oracle() -> str:
    """Replay training (same CTEs), then apply the learned merges in
    rank order to every document word and report per-doc subword
    stats."""
    base = _bpe_oracle()
    # strip the final UNION-ALL select: keep the WITH chain only
    cut = base.index("\nSELECT 1 AS merge_rank")
    with_chain = base[:cut]
    seq = _seq_sql("tok")
    for k in range(1, BPE_MERGES + 1):
        seq = _apply_merge_sql(
            f"({seq})", f"(SELECT pair FROM b{k})",
            f"(SELECT replace(pair, ' ', '') FROM b{k})",
        )
    return (
        with_chain
        + rf"""
, doc_words AS MATERIALIZED (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
  FROM documents
), encoded AS MATERIALIZED (
  SELECT doc_id, len(string_split({seq}, ' ')) AS n_sub
  FROM doc_words WHERE tok <> ''
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(n_sub) AS BIGINT) AS n_subwords
FROM encoded
GROUP BY doc_id
"""
    )


@query("bpe_encode_token_count", oracle=_encode_oracle())
def bpe_encode_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SERVING side of the trained tokenizer: apply the learned merge
    list (rank order) to every document word and report per-doc subword
    counts — the token accounting a training-data pipeline runs with its
    real tokenizer (sequence packing budgets, mixture weighting by
    tokens, cost estimates). The merge table is driver-held model state
    (8 rows — the broadcast-dim pattern); application is one nested JVM
    string expression per word, no UDF, one doc-keyed agg. The oracle
    retrains AND re-applies in SQL; equal hashes prove train+serve
    agree end to end."""
    from tiered_storage_for_apache_kafka_spark.operators.dedup import (
        tokens_cached,
    )

    seq = _seq_expr("tok")
    for _rank, pair, merged, _cnt in _trained_merges(spark, sf_dir):
        lp, lm = pair.replace("'", "''"), merged.replace("'", "''")
        seq = _apply_merge_sql(f"({seq})", f"'{lp}'", f"'{lm}'")

    words = (
        tokens_cached(spark, sf_dir)
        .select("doc_id", F.explode("toks").alias("tok"))
        .filter(F.col("tok") != "")
    )
    encoded = words.select(
        "doc_id", F.size(F.split(F.expr(seq), " ")).alias("n_sub")
    )
    return encoded.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.sum("n_sub").cast("bigint").alias("n_subwords"),
    )
