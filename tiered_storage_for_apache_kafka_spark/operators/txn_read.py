"""Transactional tiered reads: the TRANSACTION index made operational.

The reference tiers Kafka's transaction index as one of the five aux
indexes (`SegmentIndexesV1Builder.java:27-64`, TRANSACTION optional) and
serves it back via `fetchIndex` (`KafkaRemoteStorageManager.java:486-530`)
— but the *consumer semantics* that index exists for (read_committed
isolation: drop txn markers + records of aborted transactions) live in
the broker. This module closes the loop inside the engine: segments are
tiered with REAL Kafka v2 wire batches carrying transactional bits,
in-stream COMMIT/ABORT control markers, and a Kafka-format
TransactionIndex blob (`txn_index.py`); the read side fetches the index
(through the R11 segment-indexes byte cache), decodes the aborted
ranges, and applies read_committed visibility record-by-record.

Scale design: filtering is entirely task-local — each segment task
fetches its own (tiny, cached) txn index and filters while decoding, so
there is no shuffle, no broadcast, and no driver participation; the plan
is a narrow mapInPandas over the manifests table, identical in shape to
the plain tiered read.

Fixture determinism (what the DuckDB oracles replay): partition =
event_id % 4; per-partition rank r = event_id // 4; each run of 50
records is one transaction (batch_no = r // 50) by producer
9000 + batch_no % 3, followed by its control marker; a transaction is
ABORTED iff batch_no % 5 == 3. Wire offsets: record -> batch_no*51 +
(r % 50), marker -> batch_no*51 + n_in_batch.
"""

from __future__ import annotations

import struct
import tempfile

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiered_storage_for_apache_kafka_spark.api import (
    SegmentData,
    SegmentMetadata,
    TieredStorageManager,
)
from tiered_storage_for_apache_kafka_spark.producer_snapshot import (
    ProducerStateEntry,
    decode_producer_snapshot,
    encode_producer_snapshot,
)
from tiered_storage_for_apache_kafka_spark.leader_epoch import (
    EpochEntry,
    decode_leader_epoch_checkpoint,
    encode_leader_epoch_checkpoint,
)
from tiered_storage_for_apache_kafka_spark.kafka_wire import (
    CONTROL_ABORT,
    CONTROL_COMMIT,
    KafkaBatch,
    KafkaRecord,
    decode_kafka_batches,
    encode_kafka_batch,
)
from tiered_storage_for_apache_kafka_spark.operators.registry import (
    lineage_cut,
    query,
)
from tiered_storage_for_apache_kafka_spark.session import session_fixture
from tiered_storage_for_apache_kafka_spark.sources.segment_source import (
    TOPIC,
    TOPIC_ID,
    _build_manager,
    manager_conf,
    manifest_row_meta,
    struct_offset_index,
    struct_offsets,
)
from tiered_storage_for_apache_kafka_spark.tables import load_table, normalize_ts
from tiered_storage_for_apache_kafka_spark.txn_index import (
    AbortedTxn,
    aborted_in_range,
    decode_transaction_index,
    encode_transaction_index,
    filter_read_committed,
)

N_PARTITIONS = 4
RECORDS_PER_TXN = 50
TXNS_PER_SEGMENT = 10
ABORT_EVERY = 5  # batch_no % ABORT_EVERY == ABORT_PHASE aborts
ABORT_PHASE = 3
PRODUCER_BASE = 9000
N_PRODUCERS = 3
EPOCH_EVERY = 4  # leader epoch bumps every EPOCH_EVERY transactions


def tier_transactional_rows(
    mgr: TieredStorageManager,
    partition: int,
    rows: list[tuple[int, int, int, bytes | None, bytes | None]],
) -> dict:
    """Tier ONE segment of (batch_no, timestamp_us, event_id, key, value)
    rows (sorted by event rank) as transactional Kafka wire batches with
    control markers and a TransactionIndex aux blob. Returns the
    manifest row dict (same shape as `tier_record_rows`)."""
    blob = bytearray()
    batch_positions: list[tuple[int, int]] = []
    aborted: list[AbortedTxn] = []
    timestamps: list[int] = []

    by_batch: dict[int, list[tuple[int, int, bytes | None, bytes | None]]] = {}
    for batch_no, ts, event_id, key, value in rows:
        by_batch.setdefault(batch_no, []).append((ts, event_id, key, value))

    first_offset: int | None = None
    last_offset = 0
    n_records = 0
    for batch_no in sorted(by_batch):
        recs = by_batch[batch_no]
        base_offset = batch_no * (RECORDS_PER_TXN + 1)
        producer_id = PRODUCER_BASE + batch_no % N_PRODUCERS
        base_ts = recs[0][0]
        kafka_records = [
            KafkaRecord(i, ts - base_ts, key, value)
            for i, (ts, _eid, key, value) in enumerate(recs)
        ]
        leader_epoch = batch_no // EPOCH_EVERY
        batch_positions.append((base_offset, len(blob)))
        blob += encode_kafka_batch(
            KafkaBatch(
                base_offset=base_offset,
                base_timestamp=base_ts,
                records=kafka_records,
                partition_leader_epoch=leader_epoch,
                attributes=0x10,  # transactional
                producer_id=producer_id,
                producer_epoch=0,
                base_sequence=batch_no * RECORDS_PER_TXN,
            )
        )
        # the transaction's control marker (KIP-98 EndTransactionMarker:
        # key = version:int16, type:int16; value = version:int16,
        # coordinator_epoch:int32)
        marker_offset = base_offset + len(recs)
        is_abort = batch_no % ABORT_EVERY == ABORT_PHASE
        ctype = CONTROL_ABORT if is_abort else CONTROL_COMMIT
        blob += encode_kafka_batch(
            KafkaBatch(
                base_offset=marker_offset,
                base_timestamp=recs[-1][0],
                records=[
                    KafkaRecord(
                        0,
                        0,
                        struct.pack(">hh", 0, ctype),
                        struct.pack(">hi", 0, 0),
                    )
                ],
                partition_leader_epoch=leader_epoch,
                attributes=0x30,  # control + transactional
                producer_id=producer_id,
                producer_epoch=0,
                base_sequence=-1,
            )
        )
        if is_abort:
            aborted.append(
                AbortedTxn(producer_id, base_offset, marker_offset, marker_offset)
            )
        timestamps.extend(ts for ts, _e, _k, _v in recs)
        if first_offset is None:
            first_offset = base_offset
        last_offset = marker_offset
        n_records += len(recs)

    assert first_offset is not None
    # producer-state snapshot at upload time: per producer, the state
    # of its last data batch in this segment (segment-local; the read
    # side max-merges across segments — see producer_snapshot.py)
    last_batch_of: dict[int, int] = {}
    for b in by_batch:
        pid = PRODUCER_BASE + b % N_PRODUCERS
        if b > last_batch_of.get(pid, -1):
            last_batch_of[pid] = b
    producer_entries = []
    for pid in sorted(last_batch_of):
        b = last_batch_of[pid]
        n = len(by_batch[b])
        producer_entries.append(
            ProducerStateEntry(
                producer_id=pid,
                producer_epoch=0,
                last_sequence=b * RECORDS_PER_TXN + n - 1,
                last_offset=b * (RECORDS_PER_TXN + 1) + n - 1,
                offset_delta=n - 1,
                timestamp=max(ts for ts, _e, _k, _v in by_batch[b]),
            )
        )
    # leader-epoch checkpoint snapshot at upload time (the cache state
    # up to this segment): every epoch that began at or before the
    # segment's last batch, with its partition-wide start offset
    max_batch = max(by_batch)
    epochs = [
        EpochEntry(e, e * EPOCH_EVERY * (RECORDS_PER_TXN + 1))
        for e in range(max_batch // EPOCH_EVERY + 1)
    ]
    uuid = f"txn-{partition}-{first_offset:020d}"
    meta = SegmentMetadata(
        TOPIC, TOPIC_ID, partition, first_offset, last_offset, uuid
    )
    indexes = {
        "offset": struct_offset_index(batch_positions),
        "timestamp": struct_offsets(timestamps),
        "producerSnapshot": encode_producer_snapshot(producer_entries),
        "leaderEpoch": encode_leader_epoch_checkpoint(epochs),
        "transaction": encode_transaction_index(aborted),
    }
    custom = mgr.copy_log_segment_data(meta, SegmentData(bytes(blob), indexes))
    return {
        "partition": partition,
        "start_offset": first_offset,
        "end_offset": last_offset,
        "segment_uuid": uuid,
        "n_records": n_records,
        "segment_size": len(blob),
        "remote_size": custom["remote_size"],
    }


def tier_transactional_events(
    spark: SparkSession, events: DataFrame, conf: dict
) -> DataFrame:
    """Distributed transactional tiering: one applyInPandas group per
    segment (the reference's unit of work), txn/segment assignment pure
    arithmetic on dense offsets — no shuffle beyond the group-by."""
    events = normalize_ts(events)
    assigned = events.select(
        (F.col("event_id") % N_PARTITIONS).cast("int").alias("partition"),
        F.col("event_id").alias("event_id"),
        F.expr(f"(event_id div {N_PARTITIONS}) div {RECORDS_PER_TXN}").alias(
            "batch_no"
        ),
        F.unix_micros("ts").alias("timestamp_us"),
        F.col("event_type").cast("binary").alias("key"),
        F.col("event_id").cast("string").cast("binary").alias("value"),
    ).withColumn(
        "segment_no", F.expr(f"batch_no div {TXNS_PER_SEGMENT}").cast("bigint")
    )

    def tier_segment(pdf: pd.DataFrame) -> pd.DataFrame:
        mgr = _build_manager(conf)
        seg = pdf.sort_values("event_id").reset_index(drop=True)
        partition = int(seg["partition"].iloc[0])
        rows = [
            (
                int(r.batch_no),
                int(r.timestamp_us),
                int(r.event_id),
                bytes(r.key) if r.key is not None else None,
                bytes(r.value) if r.value is not None else None,
            )
            for r in seg.itertuples()
        ]
        return pd.DataFrame([tier_transactional_rows(mgr, partition, rows)])

    return assigned.groupBy("partition", "segment_no").applyInPandas(
        tier_segment,
        schema=(
            "partition INT, start_offset BIGINT, end_offset BIGINT, "
            "segment_uuid STRING, n_records BIGINT, segment_size BIGINT, "
            "remote_size BIGINT"
        ),
    )


@session_fixture
def _tier_txn(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, dict]:
    events = load_table(spark, sf_dir, "events")
    root = tempfile.mkdtemp(prefix="tiered-txn-")
    conf = manager_conf(root, chunk_size=4096, compression=True)
    manifests = lineage_cut(tier_transactional_events(spark, events, conf))
    return manifests, conf


def read_committed_records(
    spark: SparkSession, manifests: DataFrame, conf: dict
) -> DataFrame:
    """Fetch tiered transactional segments and apply read_committed
    visibility. Each task: segment GET + txn-index GET (R11-cached) →
    decode → drop markers + aborted ranges. Narrow plan, no shuffle."""

    def fetch_tasks(batches):
        mgr = _build_manager(conf)
        for pdf in batches:
            for t in pdf.itertuples():
                meta = manifest_row_meta(t)
                data = b"".join(mgr.fetch_log_segment(meta, 0))
                # collectAbortedTxns parity: bound the entries to the
                # fetched offset window (exclusive upper bound) before
                # filtering — a no-op for a whole-segment fetch, the
                # correct narrowing for future sub-segment windows
                aborted = aborted_in_range(
                    decode_transaction_index(
                        mgr.fetch_index(meta, "transaction")
                    ),
                    int(t.start_offset),
                    int(t.end_offset) + 1,
                )
                visible = filter_read_committed(
                    decode_kafka_batches(data), aborted
                )
                out_rows = []
                for batch, _byte_off in visible:
                    for r in batch.records:
                        out_rows.append(
                            (
                                int(t.partition),
                                batch.base_offset + r.offset_delta,
                                int(r.value.decode("ascii")),
                                r.key.decode("utf-8") if r.key else None,
                                batch.producer_id,
                            )
                        )
                yield pd.DataFrame(
                    out_rows,
                    columns=[
                        "partition",
                        "offset",
                        "event_id",
                        "event_type",
                        "producer_id",
                    ],
                )

    n_slots = spark.sparkContext.defaultParallelism
    return manifests.repartition(n_slots, "segment_uuid").mapInPandas(
        fetch_tasks,
        schema=(
            "partition INT, offset BIGINT, event_id BIGINT, "
            "event_type STRING, producer_id BIGINT"
        ),
    )


@query(
    "tiered_read_committed",
    oracle=f"""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_committed,
       MIN(event_id) AS min_event_id,
       MAX(event_id) AS max_event_id
FROM events
WHERE ((event_id // {N_PARTITIONS}) // {RECORDS_PER_TXN}) % {ABORT_EVERY}
      <> {ABORT_PHASE}
GROUP BY event_type
""",
)
def tiered_read_committed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """read_committed tiered scan: events tiered as transactional wire
    batches with in-stream COMMIT/ABORT markers; the read decodes the
    fetched TransactionIndex and drops markers + aborted records. The
    oracle replays the abort rule relationally — equal hashes prove the
    index round-tripped AND the visibility filter is exact."""
    manifests, conf = _tier_txn(spark, sf_dir)
    records = read_committed_records(spark, manifests, conf)
    return records.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_committed"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
    )


@query(
    "txn_aborted_index_scan",
    oracle=f"""
WITH batches AS (
  SELECT CAST(event_id % {N_PARTITIONS} AS INT) AS partition,
         (event_id // {N_PARTITIONS}) // {RECORDS_PER_TXN} AS batch_no,
         COUNT(*) AS n
  FROM events
  GROUP BY 1, 2
), aborted AS (
  SELECT partition,
         {PRODUCER_BASE} + batch_no % {N_PRODUCERS} AS producer_id,
         batch_no * {RECORDS_PER_TXN + 1} AS first_offset,
         batch_no * {RECORDS_PER_TXN + 1} + n AS last_offset
  FROM batches
  WHERE batch_no % {ABORT_EVERY} = {ABORT_PHASE}
)
SELECT partition,
       CAST(COUNT(*) AS BIGINT) AS n_aborted,
       CAST(COUNT(DISTINCT producer_id) AS BIGINT) AS n_producers,
       CAST(SUM(first_offset) AS BIGINT) AS sum_first,
       CAST(SUM(last_offset) AS BIGINT) AS sum_last
FROM aborted
GROUP BY partition
""",
)
def txn_aborted_index_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only scan of the tiered TRANSACTION indexes: fetch each
    segment's index blob (NOT the segment data), decode the Kafka
    AbortedTxn entries, aggregate per partition. The oracle rebuilds the
    expected aborted ranges arithmetically from `events` — equal hashes
    prove the 34-byte AbortedTxn codec and the per-segment index
    placement are exact."""
    manifests, conf = _tier_txn(spark, sf_dir)

    def fetch_index_tasks(batches):
        mgr = _build_manager(conf)
        for pdf in batches:
            rows = []
            for t in pdf.itertuples():
                meta = manifest_row_meta(t)
                for e in decode_transaction_index(
                    mgr.fetch_index(meta, "transaction")
                ):
                    rows.append(
                        (
                            int(t.partition),
                            e.producer_id,
                            e.first_offset,
                            e.last_offset,
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=["partition", "producer_id", "first_offset", "last_offset"],
            )

    n_slots = spark.sparkContext.defaultParallelism
    entries = manifests.repartition(n_slots, "segment_uuid").mapInPandas(
        fetch_index_tasks,
        schema=(
            "partition INT, producer_id BIGINT, first_offset BIGINT, "
            "last_offset BIGINT"
        ),
    )
    return entries.groupBy("partition").agg(
        F.count(F.lit(1)).cast("long").alias("n_aborted"),
        F.countDistinct("producer_id").cast("long").alias("n_producers"),
        F.sum("first_offset").cast("long").alias("sum_first"),
        F.sum("last_offset").cast("long").alias("sum_last"),
    )


@query(
    "leader_epoch_checkpoint_scan",
    oracle=f"""
WITH batches AS (
  SELECT CAST(event_id % {N_PARTITIONS} AS INT) AS partition,
         (event_id // {N_PARTITIONS}) // {RECORDS_PER_TXN} AS batch_no
  FROM events
  GROUP BY 1, 2
), segs AS (
  SELECT partition, batch_no // {TXNS_PER_SEGMENT} AS seg,
         MAX(batch_no) AS max_b
  FROM batches
  GROUP BY 1, 2
)
SELECT partition,
       CAST(COUNT(*) AS BIGINT) AS n_segments,
       CAST(SUM(max_b // {EPOCH_EVERY} + 1) AS BIGINT) AS sum_entries,
       CAST(MAX(max_b // {EPOCH_EVERY}) AS BIGINT) AS max_epoch
FROM segs
GROUP BY partition
""",
)
def leader_epoch_checkpoint_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only scan of the tiered LEADER_EPOCH checkpoints: fetch
    each segment's checkpoint blob (Kafka CheckpointFile text format,
    `leader_epoch.py`), decode the epoch chain, aggregate per
    partition. The oracle rebuilds each segment's expected epoch-cache
    snapshot arithmetically from `events` — equal hashes prove the
    checkpoint codec and the per-segment snapshot cut are exact."""
    manifests, conf = _tier_txn(spark, sf_dir)

    def fetch_checkpoints(batches):
        mgr = _build_manager(conf)
        for pdf in batches:
            rows = []
            for t in pdf.itertuples():
                meta = manifest_row_meta(t)
                entries = decode_leader_epoch_checkpoint(
                    mgr.fetch_index(meta, "leaderEpoch")
                )
                rows.append(
                    (
                        int(t.partition),
                        len(entries),
                        max(e.epoch for e in entries),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["partition", "n_entries", "seg_max_epoch"]
            )

    n_slots = spark.sparkContext.defaultParallelism
    per_seg = manifests.repartition(n_slots, "segment_uuid").mapInPandas(
        fetch_checkpoints,
        schema="partition INT, n_entries BIGINT, seg_max_epoch BIGINT",
    )
    return per_seg.groupBy("partition").agg(
        F.count(F.lit(1)).cast("long").alias("n_segments"),
        F.sum("n_entries").cast("long").alias("sum_entries"),
        F.max("seg_max_epoch").alias("max_epoch"),
    )


@query(
    "producer_state_snapshot_scan",
    oracle=f"""
WITH batches AS (
  SELECT CAST(event_id % {N_PARTITIONS} AS INT) AS partition,
         (event_id // {N_PARTITIONS}) // {RECORDS_PER_TXN} AS batch_no,
         COUNT(*) AS n
  FROM events
  GROUP BY 1, 2
), last_per_producer AS (
  SELECT partition,
         {PRODUCER_BASE} + batch_no % {N_PRODUCERS} AS producer_id,
         MAX(batch_no) AS lb
  FROM batches
  GROUP BY 1, 2
)
SELECT l.partition, l.producer_id,
       CAST(l.lb * {RECORDS_PER_TXN} + b.n - 1 AS BIGINT) AS last_sequence,
       CAST(l.lb * {RECORDS_PER_TXN + 1} + b.n - 1 AS BIGINT) AS last_offset,
       CAST(b.n - 1 AS BIGINT) AS offset_delta
FROM last_per_producer l
JOIN batches b ON b.partition = l.partition AND b.batch_no = l.lb
""",
)
def producer_state_snapshot_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Producer-state recovery from the tiered PRODUCER_SNAPSHOT
    indexes: fetch every segment's snapshot blob (Kafka
    ProducerStateManager layout, `producer_snapshot.py`, CRC-verified
    on decode), max-merge to end-of-log state per partition — the
    broker's idempotence-dedup rebuild. The oracle recomputes each
    producer's final (sequence, offset) arithmetically from `events`;
    equal hashes prove the binary codec, the per-segment snapshot cut,
    and the merge are exact. With this, ALL FIVE aux index types the
    reference tiers opaquely have real, decodable content."""
    manifests, conf = _tier_txn(spark, sf_dir)

    def fetch_snapshots(batches):
        mgr = _build_manager(conf)
        for pdf in batches:
            rows = []
            for t in pdf.itertuples():
                meta = manifest_row_meta(t)
                # one segment's snapshot has unique producer ids; the
                # cross-segment end-of-log merge is the row_number
                # window below (merge_latest_state is the local-Python
                # equivalent for non-Spark callers)
                for e in decode_producer_snapshot(
                    mgr.fetch_index(meta, "producerSnapshot")
                ):
                    rows.append(
                        (
                            int(t.partition),
                            e.producer_id,
                            e.last_sequence,
                            e.last_offset,
                            e.offset_delta,
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "partition",
                    "producer_id",
                    "last_sequence",
                    "last_offset",
                    "offset_delta",
                ],
            )

    n_slots = spark.sparkContext.defaultParallelism
    per_seg = manifests.repartition(n_slots, "segment_uuid").mapInPandas(
        fetch_snapshots,
        schema=(
            "partition INT, producer_id BIGINT, last_sequence BIGINT, "
            "last_offset BIGINT, offset_delta BIGINT"
        ),
    )
    # end-of-log state: the max-last_offset entry per (partition,
    # producer) — a single agg shuffle over O(segments x producers) rows
    from pyspark.sql import Window

    w = Window.partitionBy("partition", "producer_id").orderBy(
        F.col("last_offset").desc()
    )
    return (
        per_seg.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
