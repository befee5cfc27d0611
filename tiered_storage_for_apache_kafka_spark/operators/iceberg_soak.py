"""Composed maintenance soak: every Iceberg plane exercised TOGETHER.

Each plane — streaming-style micro-batch appends, deletion-vector
deletes, `rewrite_manifests`, `rewrite_data_files`, `expire_snapshots`,
`remove_orphan_files`, and an incremental CDC consumer — is
individually hash-verified by its own driver query. Real deployments
break where the planes COMPOSE (the maintenance set of the reference's
`core/src/main/java/io/aiven/kafka/tieredstorage/iceberg/
IcebergTableManager.java:46-95` runs concurrently with its writers and
readers), so this query runs one deterministic gauntlet:

  8 micro-batch commits interleaved with 3 DV delete commits (the
  second exercising the supersede/union path), a manifest compaction,
  a data-file compaction, snapshot expiration, and an orphan-file
  sweep — while an eager changelog consumer maintains a per-key count
  aggregate across every commit, hopping the REPLACE snapshots via
  :func:`changelog_safe_windows` exactly as a long-lived CDC consumer
  must on a maintained table.

The oracle pins: the final live counts per key (closed form — the
final sweep applies both delete predicates, so live =
``event_id % 5 <> 2 AND event_id % 7 <> 3``), the consumer's
maintained aggregate
(must equal the head recompute row-for-row), and the gauntlet's
structural counters (batches, DV commits, replaces, a non-empty orphan
sweep). A single green hash therefore proves all seven planes compose
without corrupting either the table or a downstream incremental
materialization.

Scale shape: appends are metadata commits over pre-written files
(O(batch) footer reads); each DV commit plans executor-side bitmaps;
the consumer touches only delta-sized changelog windows (never
rescanning the corpus); maintenance is the same metadata-plane cost the
per-plane probes measured flat at 10x (`bench_scaling.py`).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiered_storage_for_apache_kafka_spark.sources.local_df import (
    local_rows_df,
)
from tiered_storage_for_apache_kafka_spark.operators.registry import (
    query,
)
from tiered_storage_for_apache_kafka_spark.session import session_fixture
from tiered_storage_for_apache_kafka_spark.tables import load_table

N_BATCHES = 8
#: The three delete commits and their closed form: dv1 deletes
#: ``offset % 5 = 2`` over batches 0-2, dv2 deletes ``offset % 7 = 3``
#: over batches 0-4 (overlapping dv1's files, so it exercises the v3
#: single-live-DV supersede/union path), and the final sweep applies
#: BOTH predicates — so live rows are exactly
#: ``offset % 5 <> 2 AND offset % 7 <> 3`` regardless of interleaving.
DV1_PRED = "offset % 5 = 2"
DV2_PRED = "offset % 7 = 3"
FINAL_PRED = "offset % 5 = 2 OR offset % 7 = 3"

#: Bump when the gauntlet schedule / predicates / batch layout change:
#: the version is part of the persisted-fixture path, so a stale
#: cross-session fixture can never serve a changed schedule.
_SOAK_FIXTURE_VERSION = "r8-1"


def _soak_persist_root(sf_dir: str) -> str:
    """Stable cross-session location for the built soak table + its
    result sidecar. The Iceberg metadata records ABSOLUTE paths, so the
    fixture must be built in its final location (never renamed in)."""
    import hashlib

    tag = hashlib.md5(
        f"{os.path.abspath(sf_dir)}:{_SOAK_FIXTURE_VERSION}".encode()
    ).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), f"spark-graft-soak-{tag}")


def _consume(spark, tdir: str, ckpt: int, counts: dict) -> tuple[int, int]:
    """Advance the changelog consumer from ``ckpt`` to the current
    head, applying +1/-1 deltas per key into ``counts`` EAGERLY (a
    lazy plan would dangle once maintenance physically removes
    pre-rewrite bytes — the same reason real consumers checkpoint).
    Returns (new checkpoint, windows consumed)."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        changelog_safe_windows,
        read_iceberg_changelog,
        read_table_metadata,
    )

    head = read_table_metadata(tdir)["metadata"]["current-snapshot-id"]
    if head == ckpt:
        return ckpt, 0
    windows = changelog_safe_windows(tdir, ckpt, head)
    if not windows:
        return head, 0
    # one Spark job per consume point: the per-window changelogs union
    # into a single delta aggregation (each window is still planned
    # independently, so the replace hops stay exact)
    log = None
    for lo, hi in windows:
        part = read_iceberg_changelog(spark, tdir, lo, hi).select(
            "key", "_change_type"
        )
        log = part if log is None else log.unionByName(part)
    deltas = (
        log.groupBy("key")
        .agg(
            F.sum(
                F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
            ).alias("d")
        )
        .collect()
    )
    for r in deltas:
        counts[r["key"]] = counts.get(r["key"], 0) + int(r["d"])
    return head, len(windows)


@session_fixture
def _run_gauntlet(spark: SparkSession, sf_dir: str) -> tuple:
    """Build the soak table and run the full composed schedule once per
    (session, sf). Returns (table_dir, maintained counts, counters)."""
    import pyarrow.parquet as pq

    from tiered_storage_for_apache_kafka_spark.sources.deletion_vectors import (
        commit_deletion_vectors,
    )
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        commit_append,
        expire_snapshots,
        remove_orphan_files,
        rewrite_data_files,
        rewrite_manifests,
    )

    # cross-session persistence (r7 verdict ask #4): the gauntlet's
    # ~12 s first-run build was the suite's largest single fixture
    # cell. The schedule is deterministic in (sf_dir, fixture version),
    # so a finished build — table + result sidecar, sidecar written
    # LAST as the done-marker — serves every later session. A root
    # that exists without the marker is another process's in-flight
    # (or crashed) build: fall back to a session-local build rather
    # than racing it.
    import json as _json

    root = _soak_persist_root(sf_dir)
    marker = os.path.join(root, "soak-result.json")
    if os.path.exists(marker):
        with open(marker) as f:
            saved = _json.load(f)
        return (
            os.path.join(root, "table"), saved["counts"], saved["counters"]
        )
    persist = False
    try:
        os.mkdir(root)  # atomic claim
        persist = True
    except OSError:
        pass  # in-flight/crashed foreign build: session-local fallback

    # a capped 1/4 sample keeps the gauntlet's fixture cost bounded at
    # every sf — the SCHEDULE (not the volume) is what the soak
    # exercises; the volume curve is bench_scaling.py's job
    src = (
        load_table(spark, sf_dir, "events")
        .where((F.col("event_id") % 4 == 0) & (F.col("event_id") < 40_000))
        .select(
            (F.floor(F.col("event_id") / 4) % 2).cast("int").alias("partition"),
            F.col("event_type").alias("key"),
            F.col("event_id").alias("offset"),
            (F.floor(F.col("event_id") / 4) % N_BATCHES)
            .cast("int")
            .alias("batch"),
        )
        .toArrow()
    )
    schema = (
        local_rows_df(
        spark,[], "partition int, key string, offset long")
    ).schema
    if persist:
        tdir = os.path.join(root, "table")
        os.makedirs(tdir, exist_ok=True)
    else:
        tdir = tempfile.mkdtemp(prefix="iceberg-soak-")

    def append_batch(b: int, ms: int) -> dict:
        files = []
        import pyarrow.compute as pc

        tb = src.filter(pc.equal(src["batch"], b))
        for p in (0, 1):
            part = tb.filter(pc.equal(tb["partition"], p)).select(
                ["key", "offset"]
            )
            d = os.path.join(tdir, f"partition={p}")
            os.makedirs(d, exist_ok=True)
            path = os.path.join(d, f"batch-{b:02d}.parquet")
            pq.write_table(part, path)
            files.append(path)
        return commit_append(tdir, schema, now_ms=ms, files=files)

    counts: dict[str, int] = {}
    n_dv = n_replace = n_windows = 0
    orphans_removed = 0
    ms = 1_000

    meta = append_batch(0, ms)
    first_snapshot = meta["current-snapshot-id"]
    # consumer base: the materialized aggregate at the first snapshot
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        read_iceberg_table_at,
    )

    for r in (
        read_iceberg_table_at(spark, tdir, first_snapshot)
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ):
        counts[r["key"]] = int(r["n"])
    ckpt = first_snapshot

    for b in range(1, N_BATCHES):
        ms += 1_000
        append_batch(b, ms)
        if b == 2:
            ms += 1_000
            commit_deletion_vectors(spark, tdir, DV1_PRED, now_ms=ms)
            n_dv += 1
        if b == 3:
            ms += 1_000
            rewrite_manifests(tdir, now_ms=ms)
            n_replace += 1
        if b == 4:
            # overlaps dv1's files -> exercises the supersede/union path
            ms += 1_000
            commit_deletion_vectors(spark, tdir, DV2_PRED, now_ms=ms)
            n_dv += 1
        if b == 5:
            ms += 1_000
            rewrite_data_files(spark, tdir, now_ms=ms)
            n_replace += 1
        if b == 6:
            # consume BEFORE expiry: the consumer checkpoint must stay a
            # live snapshot (the changelog's own re-bootstrap contract)
            ckpt, w = _consume(spark, tdir, ckpt, counts)
            n_windows += w
            ms += 1_000
            expire_snapshots(tdir, keep_last=2, now_ms=ms)
            orphans_removed = len(
                remove_orphan_files(
                    tdir, older_than_timestamp_ms=10**14
                )
            )
    ms += 1_000
    commit_deletion_vectors(spark, tdir, FINAL_PRED, now_ms=ms)
    n_dv += 1
    ckpt, w = _consume(spark, tdir, ckpt, counts)
    n_windows += w

    result = (
        tdir,
        dict(counts),
        {
            "n_batches": N_BATCHES,
            "n_dv_commits": n_dv,
            "n_replace_commits": n_replace,
            "orphans_swept": 1 if orphans_removed > 0 else 0,
        },
    )
    if persist:
        # done-marker LAST: a crash anywhere above leaves a markerless
        # root that future sessions simply don't trust
        tmp_marker = marker + ".tmp"
        with open(tmp_marker, "w") as f:
            _json.dump({"counts": result[1], "counters": result[2]}, f)
        os.replace(tmp_marker, marker)
    return result


@query(
    "iceberg_maintenance_soak",
    oracle="""
SELECT event_type,
       CAST(SUM(CASE WHEN event_id % 5 <> 2 AND event_id % 7 <> 3
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_live,
       CAST(SUM(CASE WHEN event_id % 5 <> 2 AND event_id % 7 <> 3
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_maintained,
       CAST(1 AS BIGINT) AS matches_recompute,
       CAST(8 AS BIGINT) AS n_batches,
       CAST(3 AS BIGINT) AS n_dv_commits,
       CAST(2 AS BIGINT) AS n_replace_commits,
       CAST(1 AS BIGINT) AS orphans_swept
FROM events
WHERE event_id % 4 = 0 AND event_id < 40000
GROUP BY event_type
""",
)
def iceberg_maintenance_soak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See the module docstring: the full composed gauntlet, then one
    row per key comparing the head recompute (n_live), the changelog
    consumer's maintained aggregate (n_maintained), and the structural
    counters — all pinned by the oracle's closed form."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        read_iceberg_table,
    )

    tdir, counts, c = _run_gauntlet(spark, sf_dir)
    maintained = local_rows_df(
        spark,
        [(k, v) for k, v in sorted(counts.items())],
        "event_type string, n_maintained bigint",
    )
    live = (
        read_iceberg_table(spark, tdir)
        .select(F.col("key").alias("event_type"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_live"))
    )
    return (
        live.join(maintained, "event_type", "full")
        .select(
            "event_type",
            F.coalesce(F.col("n_live"), F.lit(0)).cast("bigint").alias("n_live"),
            F.coalesce(F.col("n_maintained"), F.lit(0))
            .cast("bigint")
            .alias("n_maintained"),
        )
        .withColumn(
            "matches_recompute",
            (F.col("n_live") == F.col("n_maintained")).cast("bigint"),
        )
        .withColumn("n_batches", F.lit(c["n_batches"]).cast("bigint"))
        .withColumn("n_dv_commits", F.lit(c["n_dv_commits"]).cast("bigint"))
        .withColumn(
            "n_replace_commits", F.lit(c["n_replace_commits"]).cast("bigint")
        )
        .withColumn("orphans_swept", F.lit(c["orphans_swept"]).cast("bigint"))
    )
