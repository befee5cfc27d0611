"""``iceberg_table_mode``: the sf0.1 ``events`` table through table mode.

Each round runs seven stages in a fixed order on fresh directories:
(1) tier the events through Spark, (2) read them back, (3) build the
envelope, (4) commit it in micro-batches as Iceberg snapshots, (5) commit
position and equality deletes, (6) run offset-window merge-on-read reads
with pushdown, (7) re-encode every segment byte for byte from the
snapshot committed before the deletes. Checks run between the stages and
are left out of the round's time.
"""

from __future__ import annotations

import itertools
import json
import os
import random
import shutil
import time

from perfbench import checks, inputs
from perfbench.common import RunResult, SparkRun, measure_rounds, peak_rss_mb

N_EVENTS = 100_000  # sf0.1
# The set-up round runs every stage once on a small table: it starts the
# Python workers and loads and compiles the code paths. Full rounds after
# it still speed up for about two rounds (JIT); each measured round is
# timed as it comes, with no further round thrown away, to fit the run.
WARM_EVENTS = 10_000
TOPIC_PARTITIONS = 4
RECORDS_PER_SEGMENT = 2_000
CHUNK_BYTES = 64 << 10
MICRO_BATCHES = 4
MOR_READS = 8
MOR_WINDOW = 2_000  # offsets per windowed read
DELETE_MODULUS = 7
APP_ID = "perfbench"


def _install_layer_wrappers(tracer) -> None:
    from tiered_storage_for_apache_kafka_spark.sources import iceberg
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import scan

    tracer.wrap(iceberg, "commit_append", "commit_append")
    orig_plan = scan._plan_snapshot

    def plan_snapshot(*args, **kwargs):
        with tracer.span("plan_scan"):
            data, deletes = orig_plan(*args, **kwargs)
        tracer.count("files_planned", len(data))
        return data, deletes

    tracer.patch(scan, "_plan_snapshot", plan_snapshot)


def iceberg_table_mode(seed: int, seconds: float, tracer, work: str, t_start: float) -> RunResult:
    import duckdb

    tables = {
        n: inputs.write_events(seed, os.path.join(work, f"sf-{n}"), n)
        for n in (WARM_EVENTS, N_EVENTS)
    }
    run = SparkRun(work)
    con = duckdb.connect()
    try:
        return _run(seed, seconds, tracer, work, t_start, run, con, tables)
    finally:
        con.close()
        run.close()


def _run(seed, seconds, tracer, work, t_start, run, con, tables) -> RunResult:
    from pyspark.sql import functions as F

    from tiered_storage_for_apache_kafka_spark.sources import iceberg
    from tiered_storage_for_apache_kafka_spark.sources import segment_source as ss
    from tiered_storage_for_apache_kafka_spark.sources import table_mode as tm
    from tiered_storage_for_apache_kafka_spark.streaming import ingest
    from tiered_storage_for_apache_kafka_spark.tables import load_table

    spark = run.spark
    sc = spark.sparkContext
    events = {n: load_table(spark, os.path.dirname(p), "events") for n, p in tables.items()}
    rng = random.Random(seed * 104729 + 3)
    deleted_type = rng.choice(inputs.EVENT_TYPES)
    delete_mod = (DELETE_MODULUS, rng.randrange(DELETE_MODULUS))
    expected_live = {
        n: con.execute(
            f"SELECT count(*) FROM read_parquet('{p}') "
            f"WHERE event_id % {delete_mod[0]} <> {delete_mod[1]} "
            f"AND event_type <> '{deleted_type}'"
        ).fetchone()[0]
        for n, p in tables.items()
    }
    stage = {k: [] for k in ("ingest", "delete", "reencode")}
    mor_ms: list[float] = []
    plan_ms: list[float] = []  # planning time inside each traced read
    files: list[float] = []  # data files planned for each traced read
    counts = {"attempted": 0}
    jobs: dict[str, list[int]] = {}  # kind -> [jobs, stages, tasks]
    group_ids = itertools.count()

    def timed(name: str, kind: str, fn):
        """Run one stage call; returns (result, seconds). In a traced run
        it is a span and its Spark jobs are counted under ``kind``."""
        if tracer.enabled:
            group = f"{kind}:{next(group_ids)}"
            sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        with tracer.span(name):
            out = fn()
        dt = time.perf_counter() - t0
        if tracer.enabled:
            sc.setJobGroup("untimed", "checks")
            total = jobs.setdefault(kind, [0, 0, 0])
            for i, v in enumerate(run.jobs_in(group)):
                total[i] += v
        return out, dt

    def one_round(r: int, record: bool, n_events: int = N_EVENTS) -> float:
        tag = f"{'m' if record else 's'}{r}"  # measured or set-up round
        root = os.path.join(work, f"store-{tag}")
        tdir = os.path.join(work, f"table-{tag}")
        conf = ss.manager_conf(root, chunk_size=CHUNK_BYTES)
        events_path = tables[n_events]
        batch_span = -(-n_events // MICRO_BATCHES)
        total = 0.0

        # (1)-(4): tier, read back, envelope, micro-batch commits
        manifests, t1 = timed(
            "tier_events_table", "tier",
            lambda: ss.tier_events_table(
                spark, events[n_events], conf, n_partitions=TOPIC_PARTITIONS,
                records_per_segment=RECORDS_PER_SEGMENT,
            ).localCheckpoint(),
        )
        records, t2 = timed(
            "read_tiered_records", "read",
            lambda: ss.read_tiered_records(spark, manifests, conf).localCheckpoint(),
        )
        envelope, t3 = timed("records_to_envelope", "env", lambda: tm.records_to_envelope(records))
        t4 = 0.0
        for b in range(MICRO_BATCHES):
            window = F.col("kafka.offset").between(b * batch_span, (b + 1) * batch_span - 1)
            _, dt = timed(
                "commit_envelope_batch", "commit",
                lambda: ingest.commit_envelope_batch(envelope.where(window), b, tdir, APP_ID),
            )
            t4 += dt
        total += t1 + t2 + t3 + t4
        if record:
            stage["ingest"].append(t1 + t2 + t3 + t4)
        before_deletes = iceberg.read_table_metadata(tdir)["metadata"]["current-snapshot-id"]

        # (5): position and equality deletes
        _, t5a = timed(
            "commit_position_deletes", "delete",
            lambda: iceberg.commit_position_deletes(
                spark, tdir, f"kafka.offset % {delete_mod[0]} = {delete_mod[1]}"
            ),
        )
        keys = (
            envelope.where(F.col("key") == F.lit(deleted_type.encode()))
            .select("partition", "key")
            .distinct()
        )
        _, t5b = timed(
            "commit_equality_deletes", "delete",
            lambda: iceberg.commit_equality_deletes(spark, tdir, keys, ["key"]),
        )
        total += t5a + t5b
        if record:
            stage["delete"].append(t5a + t5b)
        if r == 0:
            live = iceberg.read_iceberg_table(spark, tdir).count()
            want_live = expected_live[n_events]
            checks.require(live == want_live, f"{live} live rows, DuckDB counts {want_live}")

        # (6): windowed merge-on-read reads with pushdown
        for w in range(MOR_READS):
            lo = rng.randrange(n_events - MOR_WINDOW)
            hi = lo + MOR_WINDOW - 1
            tracer.op_id += 1
            if tracer.enabled:
                n_plans = len(tracer.durations("plan_scan"))
                n_files = tracer.counters["files_planned"]
            rows, dt = timed(
                "mor_read", "mor",
                lambda: iceberg.read_iceberg_table(spark, tdir)
                .where(F.col("kafka.offset").between(lo, hi))
                .select("kafka.offset", "key", "value")
                .collect(),
            )
            total += dt
            if record:
                mor_ms.append(dt * 1e3)
                if tracer.enabled:
                    plan_ms.append(sum(tracer.durations("plan_scan")[n_plans:]) * 1e3)
                    files.append(tracer.counters["files_planned"] - n_files)
            got = sorted(
                (row[0], row[1].decode(), json.loads(row[2])["user_id"]) for row in rows
            )
            want = checks.mor_window_expectation(
                con, events_path, lo, hi, delete_mod, [deleted_type]
            )
            checks.require(
                got == [tuple(x) for x in want], f"merge-on-read window [{lo}, {hi}] differs"
            )

        # (7): byte-exact re-encode from the snapshot before the deletes
        batches, t7a = timed(
            "reassemble_batches", "reencode",
            lambda: tm.reassemble_batches(
                iceberg.read_iceberg_table_at(spark, tdir, before_deletes)
            ),
        )
        blobs, t7b = timed(
            "segment_bytes", "reencode",
            lambda: tm.segment_bytes(batches).select("segment_uuid", "segment_blob").collect(),
        )
        total += t7a + t7b
        if record:
            stage["reencode"].append(t7a + t7b)
        _check_reencode(conf, manifests.collect(), blobs)

        if record:
            counts["attempted"] += MICRO_BATCHES + 2 + MOR_READS + 1
        manifests.unpersist()
        records.unpersist()
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(tdir, ignore_errors=True)
        return total

    if tracer.enabled:
        _install_layer_wrappers(tracer)
    one_round(0, False, WARM_EVENTS)
    tracer.reset()
    jobs.clear()
    setup_s = time.perf_counter() - t_start
    rounds = measure_rounds(seconds, lambda r: one_round(r, True))
    rss = peak_rss_mb()
    tracer.restore()

    detail = {
        "table_ingest_s": checks.median(stage["ingest"]),
        "row_delete_s": checks.median(stage["delete"]),
        "mor_read_ms_p50": checks.median(mor_ms),
        "reencode_s": checks.median(stage["reencode"]),
    }
    layers = {}
    if tracer.enabled:
        n = len(rounds)
        n_reads = len(mor_ms)
        layers = {
            "tier_events_table.s": tracer.busy("tier_events_table") / n,
            "read_tiered_records.s": tracer.busy("read_tiered_records") / n,
            "spark.jobs.tier": jobs["tier"][0] / n,
            "spark.tasks.tier": jobs["tier"][2] / n,
            "commit_envelope_batch.s": tracer.busy("commit_envelope_batch") / n,
            "commit_append.s": tracer.busy("commit_append") / n,
            "commit_position_deletes.s": tracer.busy("commit_position_deletes") / n,
            "commit_equality_deletes.s": tracer.busy("commit_equality_deletes") / n,
            "plan_scan.ms": sum(plan_ms) / n_reads,
            "mor.files_planned": sum(files) / n_reads,
            "mor.exec_ms": (sum(mor_ms) - sum(plan_ms)) / n_reads,
            "spark.jobs.mor_read": jobs["mor"][0] / n_reads,
            "spark.stages.mor_read": jobs["mor"][1] / n_reads,
            "reassemble_batches.s": tracer.busy("reassemble_batches") / n,
            "segment_bytes.s": tracer.busy("segment_bytes") / n,
            "spark.jobs.reencode": jobs["reencode"][0] / n,
            **detail,
        }
    return RunResult(
        setup_s=setup_s,
        rounds=rounds,
        op_ms=mor_ms,
        attempted=counts["attempted"],
        failed=0,
        detail=detail,
        layers=layers,
        peak_rss_mb=rss,
    )


def _check_reencode(conf: dict, manifests: list, blobs: list) -> None:
    """Every re-encoded segment equals what the byte path returns for it."""
    from tiered_storage_for_apache_kafka_spark.api import TieredStorageManager
    from tiered_storage_for_apache_kafka_spark.sources import segment_source as ss
    from tiered_storage_for_apache_kafka_spark.storage.filesystem import FileSystemStorage

    mgr = TieredStorageManager(
        FileSystemStorage(conf["root"]),
        chunk_size=conf["chunk_size"],
        compression_enabled=conf["compression"],
        codec=conf["codec"],
    )
    by_uuid = {row[0]: bytes(row[1]) for row in blobs}
    checks.require(
        sorted(by_uuid) == sorted(m.segment_uuid for m in manifests),
        "re-encoded segment set differs from the tiered one",
    )
    for m in manifests:
        got = b"".join(mgr.fetch_log_segment(ss.manifest_row_meta(m), 0))
        checks.require(by_uuid[m.segment_uuid] == got, f"{m.segment_uuid}: re-encoded bytes differ")
