"""Semantic tests for the CCNet-style filtering stages (line-level
keep-first dedup, hashed linear quality classifier) on hand-built
corpora — the oracle gate (`test_queries_vs_duckdb.py`) covers the real
tables; these pin the semantics on cases small enough to check by hand.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tiered_storage_for_apache_kafka_spark.operators.filtering import (
    LINE_TOKENS,
    QUALITY_BUCKETS,
    _WEIGHT_MOD,
    _WEIGHT_MULT,
    _bucket_expr,
    _lines_expr,
)


def _lines(spark, texts):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    return docs.select(
        "doc_id",
        F.split(F.trim("text"), r"\s+").alias("toks"),
    ).select("doc_id", F.posexplode(F.expr(_lines_expr())).alias("line_no", "line"))


def test_line_segmentation_shapes(spark):
    n = LINE_TOKENS * 2 + 3  # 2 full lines + 1 ragged tail
    text = " ".join(f"w{i}" for i in range(n))
    rows = _lines(spark, [text]).collect()
    assert [r.line_no for r in rows] == [0, 1, 2]
    assert all(len(r.line.split(" ")) == LINE_TOKENS for r in rows[:2])
    assert len(rows[2].line.split(" ")) == 3
    # token-less doc -> exactly one empty line, not a descending sequence
    empty = _lines(spark, [""]).collect()
    assert len(empty) == 1 and empty[0].line_no == 0


def test_keep_first_semantics_hand_case(spark, monkeypatch):
    from tiered_storage_for_apache_kafka_spark.operators import dedup, filtering

    shared = " ".join(f"dup{i}" for i in range(LINE_TOKENS))
    uniq = [" ".join(f"u{d}x{i}" for i in range(LINE_TOKENS)) for d in range(3)]
    texts = [f"{shared} {uniq[0]}", f"{shared} {uniq[1]}", f"{uniq[2]} {shared}"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    toks = docs.select("doc_id", F.split(F.trim("text"), r"\s+").alias("toks"))
    monkeypatch.setattr(dedup, "tokens_cached", lambda s, d: toks)
    out = {
        r.doc_id: r
        for r in filtering.dedup_lines_keep_first(spark, "ignored").collect()
    }
    # doc 0 sees the shared line first -> keeps both its lines
    assert (out[0].n_lines, out[0].n_kept_lines) == (2, 2)
    # docs 1 and 2 lose their copy of the shared line
    assert (out[1].n_lines, out[1].n_kept_lines) == (2, 1)
    assert (out[2].n_lines, out[2].n_kept_lines) == (2, 1)
    # chars retained = the unique line only
    assert out[1].kept_chars == len(uniq[1])
    assert out[2].kept_chars == len(uniq[2])


def test_classifier_feature_count_and_determinism(spark, monkeypatch):
    from tiered_storage_for_apache_kafka_spark.operators import dedup, filtering

    text = "alpha beta gamma delta"
    docs = spark.createDataFrame([(7, text)], "doc_id long, text string")
    toks = docs.select("doc_id", F.split(F.trim("text"), r"\s+").alias("toks"))
    monkeypatch.setattr(dedup, "tokens_cached", lambda s, d: toks)
    rows = filtering.quality_classifier_score(spark, "ignored").collect()
    assert len(rows) == 1
    r = rows[0]
    # 4 unigrams + 3 bigrams
    assert r.n_features == 7
    # deterministic: same text scores identically on a second run
    r2 = filtering.quality_classifier_score(spark, "ignored").collect()[0]
    assert (r2.logit_sum, r2.keep_flag) == (r.logit_sum, r.keep_flag)
    # logit bounded by n_features * max|weight|
    assert abs(r.logit_sum) <= r.n_features * (_WEIGHT_MOD - 1) // 2


def test_bucket_expr_range(spark):
    df = spark.createDataFrame(
        [(f"tok{i}",) for i in range(200)], "tok string"
    ).select(F.expr(_bucket_expr("tok")).alias("b"))
    stats = df.agg(F.min("b"), F.max("b"), F.count_distinct("b")).collect()[0]
    assert stats[0] >= 0 and stats[1] < QUALITY_BUCKETS
    assert stats[2] > 150  # hashing actually spreads


def test_weight_formula_matches_duckdb():
    import duckdb

    got = duckdb.connect().execute(
        f"SELECT g, (g * {_WEIGHT_MULT}) % {_WEIGHT_MOD} - {(_WEIGHT_MOD-1)//2} "
        f"FROM generate_series(0, 99) t(g)"
    ).fetchall()
    for g, w in got:
        assert w == (g * _WEIGHT_MULT) % _WEIGHT_MOD - (_WEIGHT_MOD - 1) // 2
        assert -((_WEIGHT_MOD - 1) // 2) <= w <= (_WEIGHT_MOD - 1) // 2


def test_trained_classifier_beats_base_rate(spark):
    """The perceptron must actually LEARN: full-corpus accuracy well
    above the majority-class base rate (the training loop's oracle
    parity is covered by the DuckDB gate; this pins model quality)."""
    from tiered_storage_for_apache_kafka_spark.operators import QUERIES

    rows = QUERIES["quality_classifier_trained"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    acc = sum(1 for r in rows if r.pred == r.label) / len(rows)
    pos = sum(1 for r in rows if r.label == 1) / len(rows)
    base = max(pos, 1 - pos)
    assert acc >= 0.75, f"accuracy {acc:.3f}"
    assert acc >= base + 0.15, f"accuracy {acc:.3f} vs base rate {base:.3f}"


def test_kmv_set_ops_accuracy_and_algebra(spark):
    """KMV estimates must respect the sketch's accuracy contract
    (RSE ~ 1/sqrt(K-2) at K=64 -> 3 sigma ~ 38%) and basic set algebra
    on the exact side."""
    from tiered_storage_for_apache_kafka_spark.operators.sketch_audits import (
        kmv_set_ops_audit,
    )

    rows = {
        r["set_name"]: r
        for r in kmv_set_ops_audit(spark, "/root/testdata/sf0.01").collect()
    }
    assert set(rows) == {"en", "de", "union", "intersect"}
    for name, r in rows.items():
        assert r["n_exact"] > 0
        err = abs(r["n_estimate"] - r["n_exact"]) / r["n_exact"]
        assert err <= 0.38, (name, r["n_estimate"], r["n_exact"])
    assert rows["union"]["n_exact"] >= max(
        rows["en"]["n_exact"], rows["de"]["n_exact"]
    )
    assert rows["intersect"]["n_exact"] <= min(
        rows["en"]["n_exact"], rows["de"]["n_exact"]
    )
    # inclusion-exclusion on the exact side
    assert (
        rows["union"]["n_exact"] + rows["intersect"]["n_exact"]
        == rows["en"]["n_exact"] + rows["de"]["n_exact"]
    )
