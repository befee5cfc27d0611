"""Physical-plan quality gates: the 100 TB design assertions.

These tests pin the plan properties that matter at scale — filter/
projection pushdown into the parquet scan, broadcast joins for dims,
whole-stage codegen coverage, partial aggregation — so a regression that
silently de-optimizes a query fails CI, not the cluster."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tiered_storage_for_apache_kafka_spark.operators import QUERIES
from tiered_storage_for_apache_kafka_spark.tables import load_table

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    df = QUERIES["q6_forecast_revenue"](spark, SF)
    plan = plan_of(df)
    assert "PushedFilters: [" in plan
    # at least the shipdate range predicates must be pushed
    assert "l_shipdate" in plan.split("PushedFilters")[1][:400]


def test_column_pruning(spark):
    df = QUERIES["q1_pricing_summary"](spark, SF)
    plan = plan_of(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    # only the 7 needed columns, not all 11
    assert "l_orderkey" not in read_schema
    assert "l_partkey" not in read_schema
    assert "l_extendedprice" in read_schema


def test_dimension_joins_are_broadcast(spark):
    plan = plan_of(QUERIES["q5_local_supplier_volume"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 4  # c, s, n, r all broadcast
    assert "SortMergeJoin" not in plan or plan.count("SortMergeJoin") <= 1


def test_partial_aggregation_present(spark):
    plan = plan_of(QUERIES["q1_pricing_summary"](spark, SF))
    # two-phase agg: partial_ functions before the exchange
    assert "partial_" in plan


def test_whole_stage_codegen_spans(spark):
    import contextlib
    import io

    df = QUERIES["q1_pricing_summary"](spark, SF)
    df.collect()  # AQE finalizes (and codegens) the plan only on execution
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    assert "codegen id" in buf.getvalue()


def test_semi_anti_realized_as_such(spark):
    plan = plan_of(QUERIES["semi_anti_join_orders"](spark, SF))
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_table_mode_pushdown_on_nested_offset(spark, tmp_path):
    from tiered_storage_for_apache_kafka_spark.sources.segment_source import (
        manager_conf,
        read_tiered_records,
        tier_events_table,
    )
    from tiered_storage_for_apache_kafka_spark.sources.table_mode import (
        read_table,
        records_to_envelope,
        write_table,
    )

    conf = manager_conf(str(tmp_path / "store"), chunk_size=2048)
    events = load_table(spark, "/root/testdata/sf0.001", "events")
    manifests = tier_events_table(spark, events, conf)
    write_table(records_to_envelope(read_tiered_records(spark, manifests, conf)),
                str(tmp_path / "table"))
    plan = plan_of(read_table(spark, str(tmp_path / "table"), partition=1, start_offset=500))
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters")[1][:300]
    assert "offset" in pushed
    # partition column pruned at directory level, not scanned as data
    assert "PartitionFilters" in plan


def test_no_cartesian_products_in_joins(spark):
    """Joins must never fall back to a cartesian product (the broadcast
    'cross joins' of the ANN queries carry an explicit tiny broadcast —
    BroadcastNestedLoopJoin — which is intended; CartesianProduct with
    two big sides is not)."""
    for name in [
        "q3_shipping_priority",
        "q5_local_supplier_volume",
        "dedup_minhash_lsh",
        "q17_small_quantity_parts",
    ]:
        plan = plan_of(QUERIES[name](spark, SF))
        assert "CartesianProduct" not in plan, name


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Bucketing parity: pre-bucketed tables joined on the bucket key must
    not re-shuffle either side (the co-located join strategy for repeated
    100 TB fact-fact joins)."""
    import uuid

    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, SF, "orders").select("o_orderkey", "o_orderpriority")
    suffix = uuid.uuid4().hex[:8]
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode("overwrite").saveAsTable(
            f"li_b_{suffix}"
        )
        orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode(
            "overwrite"
        ).saveAsTable(f"o_b_{suffix}")
        joined = spark.table(f"li_b_{suffix}").join(
            spark.table(f"o_b_{suffix}"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = plan_of(joined)
        assert "Exchange" not in plan, plan[:1500]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql(f"DROP TABLE IF EXISTS li_b_{suffix}")
        spark.sql(f"DROP TABLE IF EXISTS o_b_{suffix}")


def test_topk_uses_take_ordered_not_global_sort(spark):
    """q10's ORDER BY + LIMIT must compile to TakeOrderedAndProject —
    k rows move per partition, never a full sort of the aggregate."""
    plan = plan_of(QUERIES["q10_returned_items"](spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_asof_join_is_single_exchange_window(spark):
    """The as-of join plan: exactly one shuffle (on the key) + one sort +
    one window — no join operator, no Python."""
    plan = plan_of(QUERIES["asof_latest_order_per_event"](spark, SF))
    assert plan.count("Exchange") - plan.count("BroadcastExchange") <= 1
    assert "Window" in plan
    assert "FlatMapCoGroupsInPandas" not in plan


def test_q9_dims_all_broadcast(spark):
    plan = plan_of(QUERIES["q9_product_profit"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3  # part, supplier, nation
    assert "CartesianProduct" not in plan


def test_cube_single_expand(spark):
    """CUBE compiles to one Expand + one shuffle, not a union of jobs."""
    plan = plan_of(QUERIES["cube_order_stats"](spark, SF))
    assert plan.count("Expand") == 1


def test_coverage_doc_names_exist():
    """Every backtick-quoted queries() name cited in COVERAGE.md §2.4
    must exist in the registry — the coverage map can't rot."""
    import re

    text = open("COVERAGE.md").read()
    cited = set(re.findall(r"`([a-z0-9_]+)`", text))
    known = set(QUERIES)
    ghost = {c for c in cited if c in {q.split("(")[0] for q in cited} and
             c in cited and c not in known and "_" in c and
             not c.endswith((".py", ".md")) and
             c in text and c.startswith(tuple("abcdefghijklmnopqrstuvwxyz"))}
    # only flag names that look like query ids (exist-like) but aren't registered
    lookalikes = {c for c in ghost if any(c.startswith(p) for p in (
        "q1", "q2", "q3", "q4", "q5", "q6", "q7", "q8", "q9", "dedup_", "ann_",
        "tiered_", "streaming_", "multimodal_", "doc_", "simhash_", "minhash_",
        "chunk_index_", "range_", "salted_", "asof_", "top", "cube_", "value_",
        "json_", "datasource_", "corpus_", "lang_", "token_", "text_", "set_",
        "semi_", "rollup_", "pivot_", "moving_", "sessionize_", "events_",
        "distinct_", "manifest_", "segment_", "scalar_", "batch_", "table_mode_",
        "embedding_",
    ))}
    # cited identifiers that are legitimately not queries() entries;
    # streaming_user_type_counts_tws registers only where protobuf
    # exists (transformWithState runner dependency, documented)
    non_queries = {
        "tiered_segments",
        "segment_bytes",
        "streaming_user_type_counts_tws",
    }
    lookalikes -= non_queries
    assert not lookalikes, f"COVERAGE.md cites unregistered queries: {lookalikes}"


def test_q16_exclusion_is_broadcast_anti_join(spark):
    """The NOT IN exclusion set must broadcast (anti join), never shuffle
    the fact side against a 100-row dimension."""
    plan = plan_of(QUERIES["q16_supplier_part_variety"](spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_simhash64_banding_beats_16bit_blocking(spark):
    """The 64-bit banded SimHash must spread candidates over MORE buckets
    than the 16-bit high-byte blocking can ever have (256 fixed blocks —
    which go dense at scale and degenerate the intra-block join toward
    all-pairs), and its densest bucket must be smaller than the densest
    16-bit block. These are the two properties that keep the candidate
    join sub-quadratic at 100x corpus size."""
    from pyspark.sql import functions as F

    from tiered_storage_for_apache_kafka_spark.operators.dedup import (
        SIMHASH64_BANDS,
        _sim64_signatures,
    )

    sigs = _sim64_signatures(spark, SF).cache()
    buckets = sigs.select(
        F.posexplode(
            F.array(*[F.col(f"b{k}") for k in range(SIMHASH64_BANDS)])
        ).alias("band_id", "band_val")
    )
    occupancy = buckets.groupBy("band_id", "band_val").count()
    n_buckets_64 = occupancy.count()
    max_bucket_64 = occupancy.agg(F.max("count")).collect()[0][0]

    # the 16-bit scheme blocks on the signature's high byte: 256 buckets max
    from tiered_storage_for_apache_kafka_spark.operators.dedup import (
        simhash_near_dup_pairs,  # noqa: F401  (documentation anchor)
    )

    docs = load_table(spark, SF, "documents").count()
    max_block_16 = (
        # densest high-byte block under the 16-bit scheme
        QUERIES["simhash_fingerprint"](spark, SF)
        .select(F.substring("simhash", 1, 8).alias("hi"))
        .groupBy("hi")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert n_buckets_64 > 256, n_buckets_64
    assert max_bucket_64 < max_block_16, (max_bucket_64, max_block_16, docs)


def test_dedup_cand_broadcast_gated(spark):
    """With the candidate-broadcast threshold forced to 0, the verify
    join must fall back to a non-broadcast plan (no unconditional
    broadcast of an unbounded pair set at 100 TB)."""
    from tiered_storage_for_apache_kafka_spark.operators import dedup

    sh = dedup._shingles_cached(spark, SF)
    cand = dedup._candidates_from_bands(
        dedup._bands_from_wide(dedup._wide_signatures(sh))
    )
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")

    def top_join(plan: str) -> str:
        # the first join node in the rendered tree is the top-level join
        # (cached InMemoryRelations embed their own historical sub-plans
        # further down, which may legitimately contain broadcasts)
        joins = [
            (plan.find(j), j)
            for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
            if plan.find(j) != -1
        ]
        return min(joins)[1]

    sc = spark.sparkContext

    def jobs_run(fn):
        before = sc.statusTracker().getJobIdsForGroup(None)
        out = fn()
        after = sc.statusTracker().getJobIdsForGroup(None)
        return out, len(set(after) - set(before))

    try:
        # --- default (aqe) gate: NO eager count job during plan
        # construction (the round-3 verdict's barrier complaint), and the
        # broadcast decision is AQE's at runtime -------------------------
        (_, n_jobs) = jobs_run(lambda: dedup._maybe_broadcast(cand))
        assert n_jobs == 0, f"aqe gate ran {n_jobs} driver job(s)"
        joined = sa.join(dedup._maybe_broadcast(cand), "doc_a")
        # static plan: unhinted → adaptive; after execution AQE converts
        # the small build side to broadcast
        assert "AdaptiveSparkPlan" in plan_of(joined)
        joined.collect()  # executes joined's own queryExecution → final plan
        final = plan_of(joined)
        assert "BroadcastHashJoin" in final or "BroadcastQueryStage" in final, (
            final[:800]
        )

        # --- counted gate still supports both directions explicitly -----
        spark.conf.set("spark.graft.broadcastGate", "counted")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.graft.broadcastCandMaxRows", "0")
        plan = plan_of(sa.join(dedup._maybe_broadcast(cand), "doc_a"))
        assert top_join(plan) != "BroadcastHashJoin", plan[:800]
        spark.conf.unset("spark.graft.broadcastCandMaxRows")
        # default threshold: small candidate set → hint applied
        plan = plan_of(sa.join(dedup._maybe_broadcast(cand), "doc_a"))
        assert top_join(plan) == "BroadcastHashJoin", plan[:800]
    finally:
        spark.conf.unset("spark.graft.broadcastGate")
        spark.conf.unset("spark.graft.broadcastCandMaxRows")
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )


def test_tiered_read_parallelism_exceeds_topic_partitions(spark, tmp_path):
    """The tiered read path must parallelize per *segment*, not per
    topic-partition: with 4 topic-partitions but many segments, the fetch
    stage must use more than 4 partitions (round 1 capped all reads at 4
    concurrent tasks regardless of cluster size)."""
    from tiered_storage_for_apache_kafka_spark.sources.segment_source import (
        manager_conf,
        read_tiered_records,
        tier_events_table,
    )

    conf = manager_conf(str(tmp_path / "store"), chunk_size=2048)
    events = load_table(spark, "/root/testdata/sf0.001", "events")
    manifests = tier_events_table(
        spark, events, conf, records_per_segment=100
    ).cache()
    n_segments = manifests.count()
    assert n_segments > 4, n_segments
    records = read_tiered_records(spark, manifests, conf)
    n_tasks = records.rdd.getNumPartitions()
    assert n_tasks > 4, (n_tasks, n_segments)
    # and the write path produced one bounded segment per manifest row
    assert manifests.filter(F.col("n_records") > 100).count() == 0


def test_decontamination_broadcasts_bench_grams(spark):
    """The eval-set gram inventory must broadcast so the training corpus
    joins map-side and never shuffles — the property that makes
    decontamination tractable at 100 TB."""
    plan = plan_of(QUERIES["benchmark_decontamination"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_curation_split_is_narrow_until_final_agg(spark):
    """The split assignment is a pure projection: no join anywhere, the
    scan prunes to the 3 needed columns, and the only exchanges are the
    aggregation's own (2: COUNT DISTINCT's partial-on-(split,lang) pass
    plus the final per-split merge)."""
    plan = plan_of(QUERIES["train_test_split_hash"](spark, SF))
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "Join" not in plan
    assert "ReadSchema: struct<doc_id:bigint,lang:string,n_chars:bigint>" in plan


def test_offsets_for_times_is_single_scan_no_join(spark):
    """offsets_for_times must plan as one conditional-aggregation scan
    (a MIN per target with map-side partials), never the theta-join form
    — ts >= target_ts planned as BroadcastNestedLoopJoin: no codegen and
    a row-multiplied full pass over the record plane per target."""
    plan = plan_of(QUERIES["offsets_for_times"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" not in plan
    assert "partial_min" in plan  # map-side partial aggregation


def test_substring_spans_no_cartesian_partial_agg(spark):
    """The substring-span dedup must join windows to duplicated hashes on
    the hash key (shuffle hash join, never a cartesian) and count window
    repeats with map-side partial aggregation."""
    plan = plan_of(QUERIES["dedup_substring_spans"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "partial_min" in plan or "partial_max" in plan


def test_semdedup_centroids_broadcast(spark):
    """SemDeDup's affinity stage must broadcast the centroid set (tiny)
    against the partitioned corpus — the corpus itself never shuffles for
    assignment; the only corpus shuffle is on cell id for the
    within-cell self-join. A CartesianProduct (two unpartitioned big
    sides) must never appear."""
    plan = plan_of(QUERIES["semdedup_keep_drop"](spark, SF))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_text_scoring_ops_broadcast_not_cartesian(spark):
    """The corpus-statistic text ops join per-token rows to a
    vocabulary-sized frequency table (broadcast when it fits) and bring
    the corpus-total scalar in as a 1-row broadcast — neither join may
    plan as a CartesianProduct, and both aggs must have map-side
    partials."""
    for name in ["unigram_logprob_quality", "tfidf_top_terms"]:
        plan = plan_of(QUERIES[name](spark, SF))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastExchange" in plan, name
        assert "partial_count" in plan or "HashAggregate" in plan, name


def test_bpe_token_count_is_pure_scan(spark):
    """bpe_token_count must plan as a single narrow scan stage: no
    joins, no shuffle exchange, whole-stage codegen over the regexp
    counters."""
    plan = plan_of(QUERIES["bpe_token_count"](spark, SF))
    assert "Join" not in plan
    assert "Exchange" not in plan
    # whole-stage codegen prints as a `*(id)` stage prefix in toString
    assert "*(1)" in plan or "codegen" in plan


def _exchange_inputs(df) -> list[str]:
    """The `Input [...]` attribute list of every Exchange node in the
    formatted plan — i.e. exactly what each shuffle carries."""
    qe = df._jdf.queryExecution()
    mode = df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    formatted = qe.explainString(mode)
    inputs = []
    lines = formatted.splitlines()
    for i, line in enumerate(lines):
        if ") Exchange" in line:
            inputs.append(lines[i + 1])
    return inputs


def test_pack_sequences_prunes_text_before_shuffle(spark):
    """Sequence packing must reduce each doc to (doc_id, shard, n_toks)
    BEFORE the shard exchange — the text column never shuffles — and the
    final per-sequence groupBy must reuse the shard partitioning (one
    Exchange total, no join)."""
    df = QUERIES["pack_sequences"](spark, SF)
    plan = plan_of(df)
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    exchanges = _exchange_inputs(df)
    assert exchanges and all("text#" not in e for e in exchanges)


def test_source_mixture_window_is_post_agg_only(spark):
    """The mixture-rebalance totals window must run over the aggregated
    dimension frame: the corpus-wide stage is a map-side partial agg on
    `source`, and no shuffle (including the SinglePartition one feeding
    the totals window) ever carries the text column — only post-agg
    dimension rows."""
    df = QUERIES["source_mixture_rebalance"](spark, SF)
    plan = plan_of(df)
    assert "partial_count" in plan and "partial_sum" in plan
    assert plan.count("SinglePartition") == 1
    exchanges = _exchange_inputs(df)
    assert exchanges and all("text#" not in e for e in exchanges)


def test_q2_dims_broadcast_single_fact_shuffle(spark):
    """Q2's supplier→nation→region chain and the part dim must broadcast,
    and lineitem is read ONCE: the per-part minimum attaches as a window
    MIN over the (part, supplier) aggregates (r14) — the re-aggregate-and-
    join-back form duplicated the whole lineitem subtree."""
    plan = plan_of(QUERIES["q2_min_cost_supplier"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3
    assert plan.count("lineitem.parquet") <= 1
    assert "Window" in plan
    assert "CartesianProduct" not in plan


def test_q11_single_lineitem_scan_window_total(spark):
    """Q11's grand total is a window sum over the per-brand aggregates —
    re-aggregating the brand frame re-scanned lineitem (2 scans, 2
    joins); the window form reads lineitem once. (Supersedes the r12
    gate that asserted the total joined back as a broadcast nested
    loop — that shape paid the second scan.)"""
    plan = plan_of(QUERIES["q11_important_brands"](spark, SF))
    assert plan.count("lineitem.parquet") <= 1
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    # the brand agg itself stays two-phase (map-side partials)
    assert "partial_sum" in plan


def test_q20_semi_join_chain(spark):
    plan = plan_of(QUERIES["q20_part_promotion"](spark, SF))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_q21_one_fact_scan_no_self_sort_merge_explosion(spark):
    """The decorrelated Q21 reads lineitem ONCE: per-order distinct
    counts are window aggregates over the same shuffled pass (r14) —
    the groupBy-then-rejoin form re-scanned lineitem+orders, and the
    classic double self-join would show 3+ lineitem scans."""
    plan = plan_of(QUERIES["q21_waiting_suppliers"](spark, SF))
    assert plan.count("lineitem.parquet") <= 1
    assert "Window" in plan
    assert "CartesianProduct" not in plan


def test_pmi_vocab_joins_broadcast(spark):
    plan = plan_of(QUERIES["pmi_bigram_collocations"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2  # both unigram marginals
    assert "CartesianProduct" not in plan or plan.count("BroadcastNestedLoopJoin") >= 2


def test_kmeans_assignment_is_joinless_expression(spark):
    """Lloyd assignment must be a literal-centroid JVM expression — a
    join against a centroid table would shuffle the corpus every round."""
    plan = plan_of(QUERIES["kmeans_embedding_clusters"](spark, SF))
    assert "Join" not in plan
    assert "partial_" in plan  # final per-cluster agg is map-side combined


def test_ivf_kmeans_probe_side_broadcast(spark):
    plan = plan_of(QUERIES["ann_ivf_kmeans_topk"](spark, SF))
    assert "BroadcastHashJoin" in plan  # probes broadcast, corpus stays put
    assert "CartesianProduct" not in plan


def test_bm25_topk_is_take_ordered_with_broadcast_stats(spark):
    plan = plan_of(QUERIES["bm25_topk_docs"](spark, SF))
    assert "TakeOrderedAndProject" in plan  # no global sort for the top-k
    # the consumer reads the shared scored-postings cache; the df
    # marginals / corpus stats broadcasts live in the cache's BUILD plan
    from tiered_storage_for_apache_kafka_spark.operators.retrieval import (
        _bm25_scored_plan,
    )

    build = plan_of(_bm25_scored_plan(spark, SF))
    assert build.count("BroadcastHashJoin") + build.count(
        "BroadcastNestedLoopJoin"
    ) >= 2


def test_export_shard_manifest_is_single_pass(spark):
    plan = plan_of(QUERIES["export_shard_manifest"](spark, SF))
    assert "Join" not in plan
    assert "partial_" in plan  # bit_xor/sums partial-aggregate map-side


def test_q18_having_filters_before_dim_joins(spark):
    """The HAVING gate must run on the narrow (orderkey, qty) aggregate
    BEFORE orders/customer join in — at 100 TB the filter drops ~99% of
    orders and the join must only see survivors."""
    plan = plan_of(QUERIES["q18_large_volume_customer"](spark, SF))
    agg_pos = plan.find("HashAggregate")
    join_pos = plan.find("Join")
    assert agg_pos != -1 and join_pos != -1
    # plan prints top-down: joins consume the aggregate, so the agg node
    # appears BELOW (after) the join in the dump
    assert join_pos < agg_pos
    assert "BroadcastHashJoin" in plan  # customer dim broadcast


def test_top_supplier_argmax_has_no_window_sort(spark):
    plan = plan_of(QUERIES["top_supplier_per_part"](spark, SF))
    assert "Window" not in plan  # struct-max aggregate, not row_number
    assert "partial_max" in plan  # second agg partial-aggregates map-side


def test_pagerank_no_cartesian_and_partial_inflow(spark):
    plan = plan_of(QUERIES["pagerank_dup_graph"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan  # per-dst inflow map-side combined


def test_line_dedup_two_shuffles_no_udf(spark):
    plan = plan_of(QUERIES["dedup_lines_keep_first"](spark, SF))
    # exactly: line-hash exchange (keep-first window) + doc-keyed agg
    # exchange; the tokens cache's own repartition doesn't reappear here
    assert plan.count("Exchange hashpartitioning") == 2
    assert "partial_count" in plan  # report agg map-side combined
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_quality_classifier_weights_broadcast(spark):
    plan = plan_of(QUERIES["quality_classifier_score"](spark, SF))
    # the model is a broadcast dim; the corpus shuffles once (per-doc sum)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_sum" in plan
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan


def test_hybrid_rrf_pools_take_ordered(spark):
    plan = plan_of(QUERIES["hybrid_rrf_retrieval"](spark, SF))
    # each ranker pool is a TakeOrdered limit, the query vector is a
    # broadcast, and no corpus-sized cartesian exists (the only cross
    # join is the 1-row query vector / scalar stats attachments)
    assert plan.count("TakeOrderedAndProject") >= 2
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "PythonUDF" not in plan


def test_multimodal_decoders_are_narrow_maps(spark):
    """The decode/resample stages must stay narrow: one Arrow stage per
    asset batch, no shuffle anywhere between scan and output rows."""
    for q in (
        "multimodal_image_decode",
        "multimodal_audio_decode",
        "multimodal_video_frames",
        "multimodal_png_decode",
        "multimodal_jpeg_decode",
        "multimodal_jpeg420_decode",
        "multimodal_jpeg_progressive_decode",
    ):
        plan = plan_of(QUERIES[q](spark, SF))
        assert "Exchange hashpartitioning" not in plan, q
        assert "MapInPandas" in plan, q
        assert "CartesianProduct" not in plan, q


def test_trained_classifier_serves_as_broadcast_dim(spark):
    """Serving the trained model must keep the score query's plan shape:
    learned weights as a broadcast dimension, no cartesian, no UDF."""
    plan = plan_of(QUERIES["quality_classifier_trained"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "PythonUDF" not in plan


def test_dsir_model_broadcast_topk_take_ordered(spark):
    """DSIR: the LLR model is a broadcast dim, the totals attach as a
    broadcast scalar (never a corpus cartesian), and the resampling
    top-K plans as TakeOrderedAndProject — no global sort
    materialization, no Python UDF."""
    plan = plan_of(QUERIES["dsir_importance_topk"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan


def test_iceberg_merge_on_read_plan_shapes(spark, monkeypatch):
    """Position deletes: a snapshot WITHOUT deletes scans exactly as
    before (no anti-join, no _metadata projection); a snapshot WITH
    deletes applies them as one (file, pos) anti-join over a native
    columnar scan — no Python crossing anywhere. With equality and
    position deletes each committed twice and data newer than both,
    each plane reads its delete files in ONE scan; at the default
    attach budget the per-file metadata is plan literals (no metadata
    frame), at budget 0 a broadcast frame built in the JVM."""
    from pyspark.sql import functions as F

    from tiered_storage_for_apache_kafka_spark.sources import iceberg as ice
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import scan
    from tiered_storage_for_apache_kafka_spark.sources.table_mode import (
        write_table,
    )
    import tempfile

    df = (
        spark.range(200)
        .select(
            (F.col("id") % 4).cast("int").alias("partition"),
            F.col("id").alias("offset"),
            (F.col("id") * 2).alias("val"),
        )
        .repartition(4, "partition")
    )
    tdir = tempfile.mkdtemp(prefix="mor-plan-")
    write_table(df, tdir)
    ice.commit_append(tdir, df.schema)

    clean = plan_of(ice.read_iceberg_table(spark, tdir))
    assert "left_anti" not in clean.lower()
    assert "row_index" not in clean

    ice.commit_position_deletes(spark, tdir, "offset % 5 = 3")
    merged_df = ice.read_iceberg_table(spark, tdir)
    merged = plan_of(merged_df)
    assert "left_anti" in merged.lower() or "LeftAnti" in merged
    assert "PythonUDF" not in merged and "BatchEvalPython" not in merged
    # the user-visible schema is unchanged by merge-on-read
    assert merged_df.columns == ice.read_iceberg_table_at(
        spark, tdir, 1
    ).columns

    ice.commit_position_deletes(spark, tdir, "offset % 5 = 4")
    for key in [(1, 1), (2, 2)]:
        ice.commit_equality_deletes(
            spark, tdir,
            spark.createDataFrame([key], "partition int, offset bigint"),
            ["offset"],
        )
    newer = df.where("offset < 8").withColumn("offset", F.col("offset") + 1000)
    write_table(newer, tdir)
    ice.commit_append(tdir, newer.schema)

    def metadata_frame(plan):
        return "Generate inline" in plan

    literal = plan_of(ice.read_iceberg_table(spark, tdir))
    # one scan for the data files, one per delete plane
    assert literal.count("FileScan parquet") == 3, literal
    assert not metadata_frame(literal), literal
    monkeypatch.setattr(scan, "_ATTACH_PROBES", 0)
    joined = plan_of(ice.read_iceberg_table(spark, tdir))
    assert joined.count("FileScan parquet") == 3, joined
    assert metadata_frame(joined), joined
    # the frame is built in the JVM: no Python-fed RDD to broadcast
    assert "ExistingRDD" not in joined and "LogicalRDD" not in joined


def test_weighted_sample_pps_plan(spark):
    """One shuffle (keyed by the stratum), map-side WindowGroupLimit
    below it (the per-partition top-k that makes the sampler scale),
    and a text-free pruned scan."""
    df = QUERIES["weighted_sample_pps"](spark, SF)
    plan = plan_of(df)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "WindowGroupLimit" in plan.split("Exchange")[-1], (
        "partial top-k must run below the exchange"
    )
    read = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "text" not in read, read


def test_kmv_set_ops_plan(spark):
    """The sketch build gets the same partial-top-k pushdown; the set
    ops afterwards only touch K-row inputs (broadcast/single-partition
    by construction)."""
    df = QUERIES["kmv_set_ops_audit"](spark, SF)
    plan = plan_of(df)
    assert "WindowGroupLimit" in plan
    assert plan.count("Partial") >= 1


def test_jl_projection_plan_is_jvm_narrow(spark):
    """The projection must be whole-stage JVM expressions (no Python
    UDF) over a pruned two-column scan; only the sample-bounded audit
    join is quadratic."""
    df = QUERIES["jl_projection_audit"](spark, SF)
    plan = plan_of(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    read = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "embedding" in read and "label" not in read, read


def test_containment_sketch_plan(spark):
    """Bench sketches broadcast; the train corpus never self-joins; the
    sketch build keeps the map-side partial top-K (pure rank window)."""
    df = QUERIES["containment_sketch_audit"](spark, SF)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "WindowGroupLimit" in plan


def test_read_committed_is_task_local_fetch(spark):
    """read_committed filtering must happen inside the fetch task (the
    txn index is per-segment and tiny): one manifest-spread exchange +
    one final agg exchange, no broadcast of aborted ranges, no
    cartesian; the wire decode is the only Arrow stage."""
    plan = plan_of(QUERIES["tiered_read_committed"](spark, SF))
    # the cached tier fixture's own (already-executed) plan prints under
    # InMemoryRelation — gate only the live read path above it
    live = plan.split("InMemoryRelation")[0]
    assert "MapInPandas" in live
    assert live.count("Exchange hashpartitioning") == 2
    assert "CartesianProduct" not in live
    assert "BroadcastHashJoin" not in live


def test_txn_index_scan_is_metadata_only(spark):
    """The aborted-index scan reads index blobs, never segment data:
    same two-exchange shape (task spread + per-partition agg)."""
    plan = plan_of(QUERIES["txn_aborted_index_scan"](spark, SF))
    live = plan.split("InMemoryRelation")[0]
    assert "MapInPandas" in live
    # task spread + the two-level count-distinct agg (all over the tiny
    # decoded-entry set, never segment bytes)
    assert live.count("Exchange hashpartitioning") == 3
    assert "partial_count" in live  # map-side combine before the shuffle
    assert "CartesianProduct" not in live


def test_iceberg_files_table_reads_manifests_distributed(spark):
    """tbl.files must open manifest Avro executor-side (MapInPandas over
    the manifest-path list), with no shuffle besides the path spread."""
    plan = plan_of(QUERIES["iceberg_files_table"](spark, SF))
    assert "MapInPandas" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "CartesianProduct" not in plan
