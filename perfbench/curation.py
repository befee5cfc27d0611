"""``llm_curation``: a fixed list of oracle-checked ``operators`` queries.

The MinHash-LSH family is left out: its DuckDB oracles take 11-75 s each
at sf0.1 on four cores, longer than a whole run may last.

Set-up makes one cold pass, which builds the shared fixtures. The measured
rounds are warm passes; after them, the outputs of the first are compared
with each query's registered DuckDB oracle.
"""

from __future__ import annotations

import itertools
import os
import time

from perfbench import checks, inputs
from perfbench.common import RunResult, SparkRun, measure_rounds, peak_rss_mb

N_DOCS = 5_000  # sf0.1
N_VECS = 2_000
QUERIES = [
    # dedup
    "dedup_exact",
    "simhash_fingerprint",
    "dedup_lines_keep_first",
    # similarity
    "ann_cosine_topk",
    "dedup_embedding_cosine",
    # text quality
    "text_quality",
    "quality_classifier_score",
    "lang_id",
    # curation
    "curation_funnel",
    "stratified_sample_by_lang",
]


def llm_curation(seed: int, seconds: float, tracer, work: str, t_start: float) -> RunResult:
    sf_dir = os.path.join(work, "sf")
    inputs.write_corpus(seed, sf_dir, N_DOCS, N_VECS)
    run = SparkRun(work)
    try:
        return _run(seconds, tracer, t_start, run, sf_dir)
    finally:
        run.close()


def _oracle_frames(sf_dir: str, names: list[str]) -> dict:
    import duckdb

    from tiered_storage_for_apache_kafka_spark.operators.registry import ORACLES

    con = duckdb.connect()
    try:
        for table in ("documents", "embeddings"):
            path = os.path.join(sf_dir, f"{table}.parquet")
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        return {n: con.execute(ORACLES[n]).df() for n in names}
    finally:
        con.close()


def _run(seconds, tracer, t_start, run, sf_dir) -> RunResult:
    import tiered_storage_for_apache_kafka_spark.operators  # noqa: F401  registers queries
    from tiered_storage_for_apache_kafka_spark.operators.registry import QUERIES as FNS

    spark = run.spark
    sc = spark.sparkContext
    group_ids = itertools.count()
    jobs: dict[str, int] = {}

    def one_pass(record: bool, keep: dict | None = None) -> dict[str, float]:
        times = {}
        for name in QUERIES:
            if tracer.enabled:
                group = f"{name}:{next(group_ids)}"
                sc.setJobGroup(group, name)
            tracer.op_id += 1
            t0 = time.perf_counter()
            with tracer.span(f"query.{name}"):
                frame = FNS[name](spark, sf_dir).toPandas()
            times[name] = time.perf_counter() - t0
            if tracer.enabled and record:
                jobs[name] = jobs.get(name, 0) + run.jobs_in(group)[0]
            if keep is not None:
                keep[name] = frame
        return times

    cold = one_pass(False)
    tracer.reset()
    setup_s = time.perf_counter() - t_start

    passes: list[dict[str, float]] = []
    outputs: dict = {}  # the first measured pass's results, checked afterwards

    def one_round(r: int) -> float:
        passes.append(one_pass(True, keep=outputs if r == 0 else None))
        return sum(passes[-1].values())

    rounds = measure_rounds(seconds, one_round)
    rss = peak_rss_mb()
    oracles = _oracle_frames(sf_dir, QUERIES)
    for name in QUERIES:
        checks.same_frames(name, outputs[name], oracles[name])

    detail = {"curation_cold_s": sum(cold.values()), "curation_warm_s": checks.median(rounds)}
    layers = {}
    if tracer.enabled:
        warm = {n: checks.median([p[n] for p in passes]) for n in QUERIES}
        for name in QUERIES:
            layers[f"query.{name}.warm_s"] = warm[name]
            layers[f"query.{name}.jobs"] = jobs[name] / len(passes)
            layers[f"query.{name}.cold_minus_warm_s"] = cold[name] - warm[name]
            module = FNS[name].__module__.rsplit(".", 1)[-1]
            key = f"operators.{module}.warm_s"
            layers[key] = layers.get(key, 0.0) + warm[name]
        layers.update(detail)
    return RunResult(
        setup_s=setup_s,
        rounds=rounds,
        # the user waits for the whole pipeline: one pass is one operation
        op_ms=[r * 1e3 for r in rounds],
        attempted=len(passes) * len(QUERIES),
        failed=0,
        detail=detail,
        layers=layers,
        peak_rss_mb=rss,
    )
