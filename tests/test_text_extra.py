"""Semantic + plan tests for the round-3 text/embedding operators
(oracle equality is covered by test_queries_vs_duckdb)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tiered_storage_for_apache_kafka_spark.operators import QUERIES
from tiered_storage_for_apache_kafka_spark.operators.text_extra import (
    PMI_MIN_COUNT,
    scan_redact_pii,
)

SF = "/root/testdata/sf0.01"


def test_pii_detects_and_redacts_synthetic_spans(spark):
    """The driver corpus has no PII, so detection itself is pinned here
    on synthetic text: each pattern kind is found, counted, and replaced,
    and clean text passes through byte-identical."""
    rows = [
        (1, "contact john.doe+spam@example.co.uk or 555-867-5309 today"),
        (2, "server at 192.168.1.254 responded; backup 10.0.0.1 did not"),
        (3, "no pii here, just words and 42 numbers"),
        (4, "mail a@b.io and b@c.dev; call 212-555-0199; ping 8.8.8.8"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in scan_redact_pii(df).collect()}
    assert (out[1]["n_emails"], out[1]["n_phones"], out[1]["n_ips"]) == (1, 1, 0)
    assert "[EMAIL]" in out[1]["redacted_text"]
    assert "[PHONE]" in out[1]["redacted_text"]
    assert "john.doe" not in out[1]["redacted_text"]
    assert out[2]["n_ips"] == 2
    assert out[2]["redacted_text"].count("[IP]") == 2
    assert (out[3]["n_emails"], out[3]["n_phones"], out[3]["n_ips"]) == (0, 0, 0)
    assert out[3]["redacted_text"] == rows[2][1]  # clean text untouched
    assert (out[4]["n_emails"], out[4]["n_phones"], out[4]["n_ips"]) == (2, 1, 1)


def test_pii_scan_is_shuffle_free(spark):
    plan = (
        QUERIES["pii_scan_redact"](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan  # pure scan→project, the 100 TB shape


def test_quantize_codes_bounded_and_rmse_small(spark):
    out = QUERIES["embedding_int8_quantize"](spark, SF)
    rows = out.collect()
    assert rows, "no vectors quantized"
    for r in rows:
        assert 0 <= r["n_saturated"] <= r["n_dims"]
        assert r["n_saturated"] >= 1  # the max-abs dim always saturates
        assert 0.0 <= r["rmse_r"] < r["scale_r"]  # int8 err ≪ the value range


def test_quantize_is_shuffle_free(spark):
    plan = (
        QUERIES["embedding_int8_quantize"](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_pmi_symmetric_pairs_agree(spark):
    """PMI is symmetric in its marginals: for a pair and its reverse
    (both above min count), the count-identical case must score
    identically — pins the marginal join wiring (w1 vs w2 columns)."""
    out = QUERIES["pmi_bigram_collocations"](spark, SF)
    rows = out.collect()
    assert rows, "no collocations above min count"
    assert all(r["pair_count"] >= PMI_MIN_COUNT for r in rows)
    by_pair = {(r["w1"], r["w2"]): r for r in rows}
    sym = [
        (a, by_pair[(a["w2"], a["w1"])])
        for a in rows
        if (a["w2"], a["w1"]) in by_pair and a["pair_count"] == by_pair[(a["w2"], a["w1"])]["pair_count"]
    ]
    assert sym, "expected at least one symmetric pair in the corpus"
    for a, b in sym:
        assert abs(a["pmi"] - b["pmi"]) < 1e-9


def test_vocab_growth_ttr_bounds(spark):
    for r in QUERIES["source_vocab_growth"](spark, SF).collect():
        assert 0 < r["vocab_size"] <= r["n_tokens"]
        assert 0.0 < r["type_token_ratio"] <= 1.0


def test_cms_never_underestimates_and_is_tight_here(spark):
    """The count-min property: estimate >= truth for EVERY token; on this
    small vocab the 4x256 grid should also be nearly exact."""
    rows = QUERIES["heavy_hitters_cms"](spark, SF).collect()
    assert rows, "no heavy hitters found"
    for r in rows:
        assert r["overestimate"] >= 0  # one-sided error, always
        assert r["cms_estimate"] >= r["true_count"]


def test_promoted_queries_inside_driver_sample_window():
    """The external driver samples the first 50 registered queries; the
    registry prefix must START with exactly the round's declared
    rotation window (operators.__init__._R14_WINDOW), in order —
    new/changed queries first, then the oldest-verdict cohort; the
    remaining sample slots backfill from registration order.
    Regression guard: a reorder bug once silently pushed a promote
    block past the window."""
    import tiered_storage_for_apache_kafka_spark.operators as ops

    names = list(ops.QUERIES)
    expected = [n for n in ops._R14_WINDOW if n in ops.QUERIES]
    assert len(expected) == len(ops._R14_WINDOW)  # every name resolves
    assert names[: len(expected)] == expected
    assert len(names) >= 50  # the driver's sample width stays covered


def test_sq8_recall_high_and_bounded(spark):
    rows = QUERIES["sq8_recall_at_k"](spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_overlap"] <= r["k"]
    # int8 reconstruction should preserve most of the exact top-k
    assert sum(r["n_overlap"] for r in rows) >= 0.8 * sum(r["k"] for r in rows)


def test_minhash_estimate_tracks_exact_jaccard(spark):
    rows = QUERIES["minhash_jaccard_audit"](spark, SF).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["est_jaccard"] <= 1.0
        assert 0.0 <= r["exact_jaccard"] <= 1.0
    # 8-hash estimator: mean absolute error should be moderate, not random
    mae = sum(abs(r["est_jaccard"] - r["exact_jaccard"]) for r in rows) / len(rows)
    assert mae < 0.35


def test_jl_projection_concentrates_distances(spark):
    """JL with D'=16 has distance-ratio RSE ~ sqrt(2/16) ~ 35%; the
    bulk of sampled pairs must land within +-50% of exact (ratio_pm in
    [500, 1500]) and the histogram must be integer-consistent."""
    rows = QUERIES["jl_projection_audit"](spark, SF).collect()
    assert rows
    total = sum(r["n_pairs"] for r in rows)
    inside = sum(
        r["n_pairs"] for r in rows if 5 <= r["ratio_bucket"] <= 14
    )
    assert total >= 100  # sf0.01: C(20,2) = 190 sampled pairs
    assert inside / total >= 0.7, (inside, total)
    for r in rows:
        assert r["ratio_bucket"] * 100 <= r["min_ratio_pm"]
        assert r["max_ratio_pm"] < (r["ratio_bucket"] + 1) * 100
