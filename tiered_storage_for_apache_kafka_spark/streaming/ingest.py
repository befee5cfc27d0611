"""Structured Streaming pipelines.

The reference's streaming semantics (SURVEY.md §2.4): uploads are
per-closed-segment micro-batches, per-partition total order, no late
data. Our engine expresses that as Structured Streaming over the record
stream with `foreachBatch` committing segments + manifest rows
idempotently; the analytics extensions add watermarked windowed aggs and
custom stateful operators (the things the reference never had).

Design notes for 100 TB:
- `stream_tier_events`: the micro-batch commit is *idempotent on
  segment_uuid* — re-delivered batches overwrite the same objects and
  dedup in the manifest log (fixing the reference's non-atomic dual
  commit, SURVEY.md §7.4.3).
- windowed aggregation uses event-time + watermark so state is bounded;
  the shuffle key is (window, event_type) — low cardinality, partial
  aggs upstream.
- `stream_user_totals_stateful` is applyInPandasWithState: per-key state
  is O(1) (count + sum), keys partitioned by user hash.
"""

from __future__ import annotations

import hashlib as _hashlib
import itertools as _itertools
import uuid as _uuid
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StringType, StructField, StructType

from tiered_storage_for_apache_kafka_spark.session import session_fixture

#: per-process start counter for default streaming query names (below)
_QUERY_NAME_SEQ = _itertools.count()


def _auto_query_name(base: str, checkpoint_dir: str) -> str:
    """Default streaming query names must be unique PER START.

    Spark registers ``queryName`` session-globally: a fixed default
    makes two concurrent sinks in one session (two mirrors of two
    tables, or a mirror racing an ingest — legitimate multi-table
    usage) throw ``IllegalArgumentException: query with that name is
    already active`` at ``.start()``; and even strictly sequential
    availableNow restarts can race the asynchronous deregistration of
    the just-terminated run's name under load. The checkpoint-hash
    prefix keeps observability (one stream identity → one stable
    prefix across restarts); the process-wide counter makes every
    start collision-free. Callers that pass ``query_name`` explicitly
    own the uniqueness themselves."""
    digest = _hashlib.md5(checkpoint_dir.encode()).hexdigest()[:8]
    return f"{base}-{digest}-{next(_QUERY_NAME_SEQ)}"


@session_fixture
def _raw_events_schema(spark: SparkSession, sf_dir: str):
    """Raw events schema, once per session: footer inference is a JVM
    round-trip over an immutable file."""
    import os

    return spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-based record stream over the events table (the test stand-in
    for a Kafka source; the envelope matches the Kafka source's columns).

    The streaming file source needs an explicit schema, but the driver
    has regenerated events.parquet with different physical ts types
    across rounds (ns-as-long, then TIMESTAMP_NTZ) — so take the schema
    from the batch reader's footer inference (one driver-side metadata
    read, no data scan) and normalize ts afterwards instead of
    hardcoding a flavor."""
    import os

    from tiered_storage_for_apache_kafka_spark.tables import normalize_ts

    try:  # nanos-as-long flavor needs this conf even for footer inference
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    raw_schema = _raw_events_schema(spark, sf_dir)
    raw = (
        spark.readStream.format("parquet")
        .schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")  # file source needs a dir
        .load(sf_dir)
    )
    return normalize_ts(raw)


def run_stream_to_memory(
    df: DataFrame,
    output_mode: str,
    name: str | None = None,
    state_partitions: int | None = 8,
    materialize: bool = False,
) -> DataFrame:
    """Run an availableNow streaming query into a memory sink and return
    the result table (batch DataFrame).

    ``materialize=True`` localCheckpoints the result (eager — rows move
    to executor block storage) and DROPS the memory-sink view before
    returning: the memory sink pins every emitted row in the driver for
    the session's lifetime, which a long query session (the bench runs
    ~200 queries in one JVM) pays as heap pressure long after the
    stream's consumer finished. The checkpointed DataFrame stays valid
    with no lineage back to the dropped view.

    ``state_partitions`` sizes the state-store layout: every stateful
    streaming operator creates one state store PER shuffle partition (a
    stream-stream join creates four), each with its own init/commit/
    snapshot cost per micro-batch — so the partition count must track
    state volume, not default to the session's (CPU-sized) shuffle
    setting. For these bounded verification streams, 8 partitions cuts a
    stream-stream join from ~7 s to ~2.5 s of pure store overhead; a
    100 TB deployment sets it to O(executors), and the number is pinned
    into the query's checkpoint at first start either way. The session
    conf is restored after the query finishes."""
    spark = df.sparkSession
    name = name or f"mem_{_uuid.uuid4().hex[:12]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions", None)
    try:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if state_partitions is not None:
            if prev is not None:
                spark.conf.set("spark.sql.shuffle.partitions", prev)
            else:
                # conf was never explicitly set (get(...) returned None
                # even though a default applies) — unset instead of
                # pinning the caller's session to state_partitions forever
                try:
                    spark.conf.unset("spark.sql.shuffle.partitions")
                except Exception:
                    pass
    out = spark.table(name)
    if materialize:
        out = out.localCheckpoint(eager=True)
        spark.catalog.dropTempView(name)
    return out


def stream_windowed_counts(events: DataFrame) -> DataFrame:
    """Event-time daily windows per event_type with a 1-day watermark."""
    return (
        events.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # decimal internally (exact, order-independent sums), but the
            # OUTPUT is minor units as BIGINT — decimal outputs render as
            # Decimal in Spark vs float64 via DuckDB→pandas and hash-differ
            (F.sum(F.col("value").cast("decimal(18,4)")) * 10000)
            .cast("bigint")
            .alias("total_value_e4"),
        )
        .select(
            F.col("win.start").cast("date").cast("string").alias("day"),
            "event_type",
            "n_events",
            "total_value_e4",
        )
    )


def stream_session_windows(events: DataFrame, gap: str = "6 hours") -> DataFrame:
    """Built-in session windows (gap-based), per user."""
    return (
        events.withWatermark("ts", "1 day")
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("win.start").alias("session_start"), "n_events")
    )


def stream_enriched_nation_totals(
    events: DataFrame, customer: DataFrame, nation: DataFrame
) -> DataFrame:
    """Stream-static enrichment: the record stream joins two static
    dimension tables (customer, nation), then aggregates per enriched
    key — the canonical streaming lookup-join. The static sides are
    dimension-sized, so Spark plans them as broadcast joins against each
    micro-batch (no stream-side shuffle for the join; state is only the
    final aggregate, bounded by |nation| x |segment|)."""
    enriched = events.join(
        F.broadcast(customer.select("c_custkey", "c_nationkey", "c_mktsegment")),
        events.user_id == F.col("c_custkey"),
    ).join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        F.col("c_nationkey") == F.col("n_nationkey"),
    )
    return enriched.groupBy(
        F.col("n_name").alias("nation"), F.col("c_mktsegment").alias("segment")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.floor(F.col("value") * 1000000).cast("bigint"))
        .cast("bigint")
        .alias("total_micros"),
    )


_STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("total_micros", LongType())]
)
_TOTALS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_micros", LongType()),
    ]
)


def stream_user_totals_stateful(events: DataFrame) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): running per-user
    totals carried across micro-batches. Value sums are accumulated in
    integer micro-units so cross-batch accumulation stays exact."""

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        n, total = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # per-value floor to integer micros BEFORE summing: integer
            # accumulation is exact and order-independent, so the result
            # is reproducible across batch splits (and matches the SQL
            # oracle's SUM(FLOOR(value*1e6)))
            total += int(np.floor(pdf["value"].to_numpy() * 1_000_000).astype("int64").sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_micros": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_TOTALS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def commit_manifests(manifests: DataFrame, batch_id: int, manifest_dir: str) -> None:
    """Commit one micro-batch's manifest rows, idempotent under
    foreachBatch's at-least-once replay: the log is partitioned by
    batch_id and written with DYNAMIC partition overwrite, so a replayed
    batch (failure between parquet commit and checkpoint advance)
    overwrites its own rows instead of appending duplicate segment_uuid
    rows that readers would double-count. Segment objects are likewise
    rewritten in place (same deterministic uuid → same object key)."""
    from tiered_storage_for_apache_kafka_spark.session import (
        pinned_write_confs,
    )

    with pinned_write_confs(manifests.sparkSession):
        (
            manifests.withColumn("batch_id", F.lit(batch_id))
            .dropDuplicates(["segment_uuid"])
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(manifest_dir)
        )


def stream_tier_events(
    spark: SparkSession,
    sf_dir: str,
    conf: dict,
    manifest_dir: str,
    checkpoint_dir: str,
) -> None:
    """Streaming segment ingest: each micro-batch is tiered through the
    byte engine (executor-side applyInPandas) and its manifest rows are
    committed to a parquet manifest log, idempotently on segment_uuid."""
    from tiered_storage_for_apache_kafka_spark.sources.segment_source import (
        tier_events_table,
    )

    events = stream_events(spark, sf_dir)

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        manifests = tier_events_table(spark, batch_df, conf)
        commit_manifests(manifests, batch_id, manifest_dir)

    q = (
        events.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_purchase_click_join(events: DataFrame) -> DataFrame:
    """Stream-stream interval join: each purchase joined to the same
    user's clicks that happen within 1 hour after it. Both sides carry
    watermarks so the join state is bounded (Spark drops buffered rows
    once the event-time range can no longer match) — the canonical
    bounded-state stream-stream join shape."""
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts"))
        & (F.col("c_ts") <= F.col("p_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select("purchase_id", "click_id", F.col("p_user").alias("user_id"))


_TWS_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("n_type", LongType()),
        StructField("n_events", LongType()),
        StructField("total_micros", LongType()),
    ]
)


def stream_user_type_counts_tws(events: DataFrame) -> DataFrame:
    """Custom stateful operator on the transformWithState API (the
    Spark 4 successor of applyInPandasWithState, SPARK-46815): per-user
    ValueState carries exact running totals and a per-user MapState
    carries per-event-type counts — the composite-state layout the older
    API can't express without packing everything into one value row.
    Runs on the RocksDB state store (required by transformWithState;
    the disk-backed store a 100 TB deployment uses anyway, state size
    no longer bounded by executor heap). Arithmetic matches
    `stream_user_totals_stateful`: per-value floor to integer micros
    before summing, so accumulation is exact and batch-split order
    independent."""
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class UserTypeCounts(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState(
                "totals", "n bigint, total_micros bigint"
            )
            self._by_type = handle.getMapState(
                "by_type", "event_type string", "n bigint"
            )

        def handleInputRows(self, key, rows, timerValues):
            import numpy as np

            prev = self._totals.get() if self._totals.exists() else None
            n, total = (int(prev[0]), int(prev[1])) if prev else (0, 0)
            batch_counts: dict[str, int] = {}
            for pdf in rows:
                n += len(pdf)
                total += int(
                    np.floor(pdf["value"].to_numpy() * 1_000_000)
                    .astype("int64")
                    .sum()
                )
                for t, c in pdf.groupby("event_type").size().items():
                    batch_counts[t] = batch_counts.get(t, 0) + int(c)
            self._totals.update((n, total))
            for t, c in batch_counts.items():
                old = (
                    self._by_type.getValue((t,))
                    if self._by_type.containsKey((t,))
                    else None
                )
                self._by_type.updateValue((t,), ((int(old[0]) if old else 0) + c,))
            out = [
                (int(key[0]), k[0], int(v[0]), n, total)
                for k, v in self._by_type.iterator()
            ]
            yield pd.DataFrame(
                out,
                columns=["user_id", "event_type", "n_type", "n_events", "total_micros"],
            )

        def close(self) -> None:
            pass

    # NULL event_type is excluded explicitly (matching the oracle's
    # WHERE): MapState keys are non-null, and pandas groupby would
    # silently drop the NULL group while n_events still counted it
    return events.filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    ).groupBy("user_id").transformWithStateInPandas(
        UserTypeCounts(),
        outputStructType=_TWS_OUT,
        outputMode="Update",
        timeMode="None",
    )


def commit_envelope_batch(
    batch_df: DataFrame, batch_id: int, table_dir: str, app_id: str,
    catalog=None, table_name: str | None = None,
) -> bool:
    """One micro-batch -> one Iceberg snapshot, idempotently. The skip
    key is ``(app_id, batch_id)`` — the standard foreachBatch
    transaction-id pattern (Delta's txnAppId/txnVersion): batch ids are
    only unique within one checkpoint lineage, so the app id (derived
    from the checkpoint path by default) prevents a DIFFERENT lineage's
    batch 0 from being silently swallowed by this one's. Returns True if
    a snapshot was committed, False on a replay skip.

    Crash safety: the batch is staged then renamed to deterministic
    destinations ``batch-<id>-<k>.parquet``; before renaming, ALL
    existing destinations of this (app, batch) are deleted, so a replay
    with different parallelism (fewer output files) cannot leave a
    crashed attempt's higher-k files behind to be swept into a later
    snapshot."""
    import glob as _glob
    import hashlib as _hashlib
    import os as _os
    import shutil as _shutil

    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        _current_state_meta,
        _default_table_name,
        commit_append,
    )

    app_tag = _hashlib.md5(app_id.encode()).hexdigest()[:12]
    # resolve the default table name HERE, not just inside commit_append:
    # the replay-skip check below must query the same catalog table the
    # commit will write, or a restart would re-commit every batch
    if catalog is not None and table_name is None:
        table_name = _default_table_name(table_dir)
    # metadata-ONLY state load (snapshot summaries suffice): parsing the
    # manifests here would make every micro-batch O(table age) instead
    # of O(batch). With a REST catalog, the service is the source of
    # truth for the skip check too.
    try:
        _v, meta, _t = _current_state_meta(table_dir, catalog, table_name)
    except FileNotFoundError:
        meta = None
    if meta is not None:
        # durable skip: the lineage's high-water batch id is a TABLE
        # PROPERTY, committed atomically with each snapshot — unlike
        # snapshot summaries it survives expire_snapshots, so a
        # checkpoint-restart replay of an already-committed-then-expired
        # batch can never re-commit its deterministic paths (which the
        # assume_new_files commit would not dedup)
        marker = (meta.get("properties") or {}).get(
            f"streaming.last-batch.{app_tag}"
        )
        if marker is not None and batch_id <= int(marker):
            return False
        for s in meta["snapshots"]:
            summ = s["summary"]
            if (
                summ.get("batch-id") == str(batch_id)
                and summ.get("commit-app-id") == app_tag
            ):
                return False  # replayed batch of THIS lineage: done
    staging = _os.path.join(table_dir, f"_staging-batch-{app_tag}-{batch_id}")
    _shutil.rmtree(staging, ignore_errors=True)
    from tiered_storage_for_apache_kafka_spark.session import (
        pinned_write_confs,
    )

    with pinned_write_confs(batch_df.sparkSession):
        batch_df.write.mode("overwrite").partitionBy("partition").parquet(
            staging
        )
    # clear every stale destination of this (app, batch) BEFORE renaming:
    # a crashed attempt may have produced more files than this replay
    prefix = f"batch-{app_tag}-{batch_id:08d}-"
    for stale in _glob.glob(_os.path.join(table_dir, "partition=*", f"{prefix}*")):
        _os.remove(stale)
    dests: list[str] = []
    for src in sorted(_glob.glob(_os.path.join(staging, "partition=*", "*.parquet"))):
        part_dir = _os.path.basename(_os.path.dirname(src))
        k = len([d for d in dests if f"{_os.sep}{part_dir}{_os.sep}" in d])
        dest_dir = _os.path.join(table_dir, part_dir)
        _os.makedirs(dest_dir, exist_ok=True)
        dest = _os.path.join(dest_dir, f"{prefix}{k:04d}.parquet")
        _os.replace(src, dest)
        dests.append(dest)
    _shutil.rmtree(staging, ignore_errors=True)
    if not dests:
        return False
    # assume_new_files: the (app_id, batch_id) replay-skip above plus
    # the attempt-deterministic destination names ARE this caller's
    # exactly-once contract, so the O(table-age) per-commit dedup walk
    # is skipped — micro-batch commit cost stays O(batch + manifests)
    # no matter how old the table gets
    commit_append(
        table_dir,
        batch_df.schema,
        files=dests,
        summary_extra={"batch-id": batch_id, "commit-app-id": app_tag},
        # the durable replay marker (see the skip check above): batches
        # commit in checkpoint order, so the lineage's high-water batch
        # id is the complete replay record even after expire_snapshots
        # drops the summaries
        properties_extra={f"streaming.last-batch.{app_tag}": batch_id},
        catalog=catalog,
        table_name=table_name,
        assume_new_files=True,
    )
    return True


def stream_envelope_to_iceberg(
    envelope_stream: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    query_name: str | None = None,
    app_id: str | None = None,
    catalog=None,
    table_name: str | None = None,
    auto_compact_every: int | None = None,
):
    """EXACTLY-ONCE streaming Iceberg commits: each micro-batch becomes
    one Iceberg snapshot via :func:`commit_envelope_batch` — skip key
    ``(app_id, batch_id)``, deterministic staged-rename destinations,
    explicit-file commits that never sweep in unrelated on-disk files.

    ``app_id`` defaults to the checkpoint path: restarting WITH the
    checkpoint is exactly-once; restarting with a LOST checkpoint under
    a new app id re-delivers (and re-commits) from the beginning —
    duplicates, never silent loss — so start a fresh table in that
    case. The table should be owned by this protocol: do not mix in
    discovery-mode ``commit_append()`` calls, which would sweep any
    crashed attempt's not-yet-replayed files into a snapshot.

    At 100 TB the parquet write is the distributed part; the skip check
    and the commit are O(batch files + snapshots) driver work per
    micro-batch, the same cost profile as any Iceberg streaming sink.

    With ``catalog`` (a ``rest_catalog.RestCatalogClient``), every
    micro-batch snapshot commits through the Iceberg REST-catalog
    protocol — the reference's production path (a real catalog service
    owns the metadata pointer, `IcebergTableManager.java:46-95`) — with
    the replay-skip check reading catalog state.

    ``auto_compact_every=N`` runs ``rewrite_manifests`` after every Nth
    committed batch (counted by batch_id), so a long-lived streaming
    table's scan planning stays O(1) per scan without an external
    maintenance scheduler; a replayed (skipped) batch never triggers
    compaction because only a real commit (commit_envelope_batch →
    True) reaches the counter check. Compaction failures are
    deliberately non-fatal to the stream — ingest keeps its
    exactly-once guarantee and the next window retries."""
    if query_name is None:
        query_name = _auto_query_name("iceberg_commit", checkpoint_dir)
    resolved_app_id = app_id if app_id is not None else checkpoint_dir

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        committed = commit_envelope_batch(
            batch_df, batch_id, table_dir, resolved_app_id,
            catalog=catalog, table_name=table_name,
        )
        if (
            committed
            and auto_compact_every
            and (batch_id + 1) % auto_compact_every == 0
        ):
            from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
                rewrite_manifests,
            )

            try:
                rewrite_manifests(
                    table_dir, catalog=catalog, table_name=table_name
                )
            except Exception as exc:
                # maintenance must never fail ingest; the next
                # compaction window retries on fresher state — but a
                # persistent failure must be operator-visible, not a
                # silent drift to O(commits) scan planning
                import logging

                logging.getLogger(__name__).warning(
                    "auto-compaction after batch %d failed (ingest "
                    "unaffected, next window retries): %s",
                    batch_id,
                    exc,
                )

    return (
        envelope_stream.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def commit_cdc_batch(
    batch_df: DataFrame,
    batch_id: int,
    table_dir: str,
    app_id: str,
    on: list,
    op_col: str | None = None,
    seq_col: str | None = None,
    partition_spec: list | None = None,
    catalog=None,
    table_name: str | None = None,
) -> bool:
    """One CDC micro-batch -> one atomic Iceberg MERGE snapshot
    (`sources/iceberg/merge.py`), idempotently. The replay record is the
    same ``streaming.last-batch.<app_tag>`` table property the append
    sink uses (committed atomically WITH the merge snapshot, durable
    across expire_snapshots), so a checkpoint-restart replay of an
    already-merged batch is skipped before any file is staged. Returns
    True if a snapshot was committed, False on a replay skip or an
    empty batch.

    Unlike the append sink, staged file names need NOT be
    deterministic: merge commits an EXPLICIT file list only, so a
    crashed attempt's staged parquet is never swept into a later
    snapshot (it ages out via remove_orphan_files) — and re-merging an
    identical key-resolved batch is state-idempotent by upsert
    semantics even if the marker were lost: the retraction plane
    deletes the keys the replay re-appends."""
    import hashlib as _hashlib

    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        _current_state_meta,
        _default_table_name,
        merge_upsert,
    )

    app_tag = _hashlib.md5(app_id.encode()).hexdigest()[:12]
    if catalog is not None and table_name is None:
        table_name = _default_table_name(table_dir)
    try:
        _v, meta, _t = _current_state_meta(table_dir, catalog, table_name)
    except FileNotFoundError:
        meta = None
    if meta is not None:
        marker = (meta.get("properties") or {}).get(
            f"streaming.last-batch.{app_tag}"
        )
        if marker is not None and batch_id <= int(marker):
            return False
    before = None if meta is None else meta.get("current-snapshot-id", -1)
    new_meta = merge_upsert(
        batch_df.sparkSession, batch_df, table_dir, on=list(on),
        op_col=op_col, seq_col=seq_col, partition_spec=partition_spec,
        catalog=catalog, table_name=table_name,
        summary_extra={"batch-id": batch_id, "commit-app-id": app_tag},
        properties_extra={f"streaming.last-batch.{app_tag}": batch_id},
    )
    return new_meta.get("current-snapshot-id", -1) != before


def stream_cdc_to_iceberg(
    cdc_stream: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    on: list,
    op_col: str | None = "op",
    seq_col: str | None = None,
    partition_spec: list | None = None,
    query_name: str | None = None,
    app_id: str | None = None,
    catalog=None,
    table_name: str | None = None,
):
    """EXACTLY-ONCE streaming CDC upsert into an Iceberg table: each
    micro-batch of changelog rows (insert/update/delete ops, optional
    in-batch seq ordering) becomes one atomic MERGE snapshot via
    :func:`commit_cdc_batch` — the Flink upsert-sink shape expressed as
    Structured Streaming + the engine's merge plane. Within a
    checkpoint lineage, micro-batches apply in order and replays skip
    on the durable per-lineage marker; a LOST checkpoint under a new
    app id re-delivers from the beginning, which upsert semantics
    absorb as rewrites, never silent loss.

    Scale shape: each batch costs O(batch) — the target table is never
    read or rewritten per batch; merge-on-read delete debt is paid by
    scheduled rewrite_data_files, exactly the continuous-CDC posture a
    100 TB table needs."""
    if query_name is None:
        query_name = _auto_query_name("iceberg_cdc_upsert", checkpoint_dir)
    resolved_app_id = app_id if app_id is not None else checkpoint_dir

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        commit_cdc_batch(
            batch_df, batch_id, table_dir, resolved_app_id, on,
            op_col=op_col, seq_col=seq_col,
            partition_spec=partition_spec, catalog=catalog,
            table_name=table_name,
        )

    return (
        cdc_stream.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def _stamp_mirror_lineage(
    dst_table_dir: str, src_uuid: str, catalog, table_name: str | None
) -> None:
    """One metadata-only property commit stamping
    ``engine.mirror-source`` on an adopted destination (the verified
    back-stamp for replicas created before lineage stamping)."""
    import time as _time

    from tiered_storage_for_apache_kafka_spark.sources.iceberg.state import (
        _commit_requirements,
        _current_state_meta,
        publish,
    )

    version, base, table_name = _current_state_meta(
        dst_table_dir, catalog, table_name
    )
    publish(
        dst_table_dir, version, base, _commit_requirements(base),
        [
            {
                "action": "set-properties",
                "updates": {"engine.mirror-source": src_uuid},
            }
        ],
        int(_time.time() * 1000), catalog, table_name,
    )


def _walk_schema_ids(fields: list) -> dict:
    """``{field id: (dotted path, leaf name, type)}`` at every struct
    depth — nested renames (r13) propagate by id exactly like
    top-level ones; containers descend via their canonical
    ``.element.`` / ``.value.`` pseudo-segments."""
    out: dict = {}

    def walk_type(t, prefix: str) -> None:
        if not isinstance(t, dict):
            return
        kind = t.get("type")
        if kind == "struct":
            walk(t["fields"], prefix)
        elif kind == "list":
            walk_type(t["element"], prefix + "element.")
        elif kind == "map":
            walk_type(t["value"], prefix + "value.")

    def walk(flds: list, prefix: str) -> None:
        for f in flds:
            path = prefix + f["name"]
            out[f["id"]] = (path, f["name"], f["type"])
            walk_type(f["type"], path + ".")

    walk(fields, "")
    return out


def _propagate_src_renames(
    src_table_dir: str, dst_table_dir: str, dst_meta: dict, catalog,
    table_name: str | None,
) -> None:
    """Apply the source table's column RENAMES to a mirror destination
    (see the call site in :func:`mirror_iceberg_table`): columns are
    matched BY FIELD ID (the replica is created from the source schema
    and both evolve in lock-step through the same merge batches, so
    ids correspond); a same-id column whose current names differ gets
    the same rename DDL on the destination. Ids the destination lacks
    are fine (the next evolving batch adds them); a same-id TYPE
    conflict beyond the spec's promotions means the replica genuinely
    diverged — refuse with the re-bootstrap recipe rather than rename
    into a fork."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        _current_schema_struct as _cur,
    )
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        _current_state_meta,
        update_table_schema,
    )

    _v, src_meta, _t = _current_state_meta(src_table_dir)
    src_fields = _walk_schema_ids(_cur(src_meta)["fields"])
    dst_fields = _walk_schema_ids(_cur(dst_meta)["fields"])
    renames: dict[str, str] = {}
    promos = {("int", "long"), ("float", "double")}
    for fid, (_spath, sname, st_t) in src_fields.items():
        hit = dst_fields.get(fid)
        if hit is None:
            continue  # added later on src; the evolving merge adds it
        dpath, dname, dt_t = hit
        # type identity is checked on primitive leaves (the spec's
        # promotions allowed); container nodes compare by KIND only —
        # their name differences are exactly the renames this
        # function propagates, and their children are visited as
        # their own ids
        if isinstance(st_t, dict) or isinstance(dt_t, dict):
            sk = st_t.get("type") if isinstance(st_t, dict) else st_t
            dk = dt_t.get("type") if isinstance(dt_t, dict) else dt_t
            conflict = sk != dk
        else:
            st, dt = str(st_t), str(dt_t)
            conflict = (
                st != dt
                and (dt, st) not in promos
                and (st, dt) not in promos
            )
        if conflict:
            raise ValueError(
                f"mirror destination diverged from the source: field id "
                f"{fid} is {dt_t!r} in the replica but {st_t!r} at the "
                "source — re-bootstrap the mirror from a fresh "
                "destination"
            )
        if sname != dname:
            # keyed by the DESTINATION's dotted path (resolved against
            # its current schema; same-DDL ancestor renames compose —
            # the DDL applies nested renames by leaf field id)
            renames[dpath] = sname
    if renames:
        update_table_schema(
            dst_table_dir, rename=renames, catalog=catalog,
            table_name=table_name,
        )


def mirror_iceberg_table(
    spark,
    src_table_dir: str,
    dst_table_dir: str,
    on: list,
    checkpoint_dir: str,
    partition_spec: list | None = None,
    query_name: str | None = None,
    app_id: str | None = None,
    catalog=None,
    table_name: str | None = None,
    max_snapshots_per_trigger: int | None = None,
    adopt_destination: bool = False,
):
    """Continuous TABLE REPLICATION over public Iceberg metadata only:
    consume the source table's keyed changelog
    (`iceberg_cdc` — delete_key + insert rows per commit window) and
    apply each micro-batch to the destination as one atomic MERGE
    snapshot. The replay rule (seq order, deletes before inserts at
    equal seq) maps onto the merge plane's last-writer-wins by a
    composite sequence ``2*_commit_seq + is_insert`` — an upsert's
    delete_key and insert at the same source commit resolve to the
    insert, exactly the source's own semantics — so the mirror
    converges to the source state after every drained batch.
    Exactly-once end to end: the sink's durable per-lineage batch
    marker dedups replays, and a restart resumes from the stream
    checkpoint. The destination may use a DIFFERENT partition spec
    than the source (re-partitioning replication).

    Scale shape: source windows are metadata-planned parquet reads (no
    joins); the apply is O(batch) with the target never scanned — a
    100 TB mirror pays per-commit cost proportional to the CHANGES,
    never the table."""
    from pyspark.sql import functions as F

    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        _current_schema_struct,
        _current_state_meta,
        commit_append,
        iceberg_schema_to_spark,
    )
    from tiered_storage_for_apache_kafka_spark.sources.iceberg_stream import (
        register_cdc,
    )

    # pre-create a missing destination from the SOURCE table's metadata:
    # the stream schema is force-nullable (delete_key rows null out even
    # required columns), so creating from it would silently drop the
    # source's required-column constraints in the replica — derive the
    # create-time schema (required-ness preserved) from the source
    try:
        _v, dst_meta, _t = _current_state_meta(
            dst_table_dir, catalog, table_name
        )
    except FileNotFoundError:
        _v, src_meta, _t = _current_state_meta(src_table_dir)
        commit_append(
            dst_table_dir,
            iceberg_schema_to_spark(_current_schema_struct(src_meta)),
            files=[],
            partition_spec=partition_spec,
            catalog=catalog,
            table_name=table_name,
            # REPLICA LINEAGE stamp (r13): rename propagation and the
            # by-field-id correspondence it relies on are only sound
            # for destinations this mirror created from this source's
            # schema — record the source's table uuid so a later
            # session (or a different mirror) can verify instead of
            # assuming
            properties_extra={
                "engine.mirror-source": str(src_meta.get("table-uuid"))
            },
        )
    else:
        # RENAME propagation (r12): a source rename is metadata-only,
        # so the stream emits the NEW names — merging those into a
        # destination still carrying the old names would silently fork
        # the data model (the new name would evolve in as a fresh
        # column while the old one went stale). The replica was
        # created from the source's schema and evolves in lock-step,
        # so field ids correspond; diff by id and apply the same
        # renames to the destination before streaming. Guarded by the
        # r13 LINEAGE stamp: a pre-existing destination this mirror
        # did not create (no `engine.mirror-source`, or a different
        # source's uuid) refuses deterministically — its field ids
        # need not correspond, and a same-id/same-type drift would
        # mis-map renames silently. A divergent replica (same id,
        # different type) still refuses loudly too.
        _v2, src_meta, _t2 = _current_state_meta(src_table_dir)
        src_uuid = str(src_meta.get("table-uuid"))
        lineage = (dst_meta.get("properties") or {}).get(
            "engine.mirror-source"
        )
        if lineage is None and adopt_destination:
            # EXPLICIT one-time adoption of an UNSTAMPED destination
            # (a replica created before lineage stamping existed —
            # a 100 TB pre-stamp replica must not be forced into a
            # full re-sync). VERIFIED, never assumed: every field id
            # common to both sides must carry the SAME dotted path
            # and name at every depth — then the id correspondence
            # the stamp certifies provably holds right now. Any
            # same-id name difference is ambiguous (pre-stamp drift
            # vs an unpropagated rename) and refuses.
            from tiered_storage_for_apache_kafka_spark.sources.iceberg import (  # noqa: E501
                _current_schema_struct as _cur0,
            )

            src_ids = _walk_schema_ids(_cur0(src_meta)["fields"])
            dst_ids = _walk_schema_ids(_cur0(dst_meta)["fields"])
            drift = sorted(
                fid
                for fid in set(src_ids) & set(dst_ids)
                if src_ids[fid][0] != dst_ids[fid][0]
            )
            if drift:
                raise ValueError(
                    f"cannot adopt {dst_table_dir!r}: field id(s) "
                    f"{drift} carry different paths on the two sides "
                    "— the id correspondence cannot be verified; "
                    "re-bootstrap the replica"
                )
            _stamp_mirror_lineage(
                dst_table_dir, src_uuid, catalog, table_name
            )
            lineage = src_uuid
        if lineage != src_uuid:
            raise ValueError(
                f"mirror destination {dst_table_dir!r} was not created "
                f"by a mirror of this source (engine.mirror-source is "
                f"{lineage!r}, source table-uuid is {src_uuid!r}): "
                "field ids need not correspond, so rename propagation "
                "and keyed merges could silently mis-map — point the "
                "mirror at an empty destination (it will be created "
                "and stamped), re-bootstrap the replica, or — for a "
                "replica created before lineage stamping — pass "
                "adopt_destination=True for a one-time verified "
                "back-stamp"
            )
        _propagate_src_renames(
            src_table_dir, dst_table_dir, dst_meta, catalog, table_name
        )

    if query_name is None:
        query_name = _auto_query_name("iceberg_mirror", checkpoint_dir)
    register_cdc(spark)
    reader = (
        spark.readStream.format("iceberg_cdc")
        .option("path", src_table_dir)
        # the mirror's merge keys double as the source stream's
        # declared keys: a position-delete window (a source
        # `update_where` / row-level DELETE) resolves to keyed
        # retractions instead of killing the consumer (r12)
        .option("mergeKeys", ",".join(str(c) for c in on))
    )
    if max_snapshots_per_trigger is not None:
        reader = reader.option(
            "maxSnapshotsPerTrigger", str(max_snapshots_per_trigger)
        )
    stream = reader.load()
    resolved_app_id = app_id if app_id is not None else checkpoint_dir

    def apply_batch(batch_df, batch_id: int) -> None:
        b = (
            batch_df.withColumn(
                "__mirror_seq",
                F.col("_commit_seq") * 2
                + F.when(
                    F.col("_change_type") == "insert", 1
                ).otherwise(0),
            )
            .withColumn(
                "__mirror_op",
                F.when(
                    F.col("_change_type") == "insert", F.lit("u")
                ).otherwise(F.lit("d")),
            )
            .drop("_change_type", "_commit_seq")
        )
        commit_cdc_batch(
            b, batch_id, dst_table_dir, resolved_app_id, on,
            op_col="__mirror_op", seq_col="__mirror_seq",
            partition_spec=partition_spec, catalog=catalog,
            table_name=table_name,
        )

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
