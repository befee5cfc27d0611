"""Segments-as-table: tier a DataFrame into log segments, read them back.

Write path (`tier_events_table`): the distributed analog of
`copyLogSegmentData` (reference `KafkaRemoteStorageManager.java:167-223`,
upload cadence README §Uploads) — events are hash-assigned to topic-partitions,
offset-ordered, framed into record batches (wire.py), cut into fixed-row
segments, and each segment is pushed through the full transform pipeline
(chunk/compress/encrypt) by a `TieredStorageManager` **inside an
applyInPandas worker**, so segment builds run executor-side in parallel,
one task per *segment* — the reference's own unit of work — never per
topic-partition (a partition is 10s–100s of GB at 100 TB; a segment is
bounded). Parallelism therefore scales with n_segments, and per-task
memory is one segment regardless of data volume.

Read path (`read_tiered_records`): the distributed analog of
`fetchLogSegment` (reference `KafkaRemoteStorageManager.java:448-484`;
chunk planning `FetchChunkEnumeration.java:54-92`) — a task DataFrame
(one row per segment object) is
`mapInPandas`-expanded: each task fetches its segment's manifest, plans
chunks, does ranged GETs + detransform via the storage layer, decodes
records, and emits rows. Predicate pushdown happens at *task granularity*
(segment pruning on offset ranges via the manifests table — the Spark
analog of R2 chunk pruning) before any byte is fetched.

Both directions keep the driver out of the data path (driver only carries
object keys + manifest JSON strings, ~O(#segments)).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiered_storage_for_apache_kafka_spark.api import (
    SegmentData,
    SegmentMetadata,
    TieredStorageManager,
)
from tiered_storage_for_apache_kafka_spark.storage.backend import StorageBackendError
from tiered_storage_for_apache_kafka_spark.storage.filesystem import FileSystemStorage
from tiered_storage_for_apache_kafka_spark.transform.compression import DEFAULT_CODEC
from tiered_storage_for_apache_kafka_spark.transform.encryption import RsaKeyring
from tiered_storage_for_apache_kafka_spark.wire import (
    Record,
    decode_segment,
    decode_segment_columns,
    encode_batch,
)

TOPIC = "events"
TOPIC_ID = "events-tid"


def _build_manager(conf: dict) -> TieredStorageManager:
    keyring = None
    if conf.get("kek_pem") is not None:
        from cryptography.hazmat.primitives import serialization

        key = serialization.load_pem_private_key(conf["kek_pem"], password=None)
        keyring = RsaKeyring(conf["kek_id"], {conf["kek_id"]: key})
    return TieredStorageManager(
        FileSystemStorage(conf["root"]),
        chunk_size=conf.get("chunk_size", 4096),
        compression_enabled=conf.get("compression", True),
        encryption_keyring=keyring,
        codec=conf.get("codec", DEFAULT_CODEC),
    )


def manager_conf(
    root: str,
    chunk_size: int = 4096,
    compression: bool = True,
    keyring: RsaKeyring | None = None,
    codec: str = DEFAULT_CODEC,
) -> dict:
    """Picklable manager config shipped to executors."""
    conf = {"root": root, "chunk_size": chunk_size, "compression": compression,
            "codec": codec, "kek_pem": None, "kek_id": None}
    if keyring is not None:
        conf["kek_pem"] = keyring.serialize_private(keyring.active_kek_id)
        conf["kek_id"] = keyring.active_kek_id
    return conf


def manifest_row_meta(t) -> SegmentMetadata:
    """SegmentMetadata from a manifests-DataFrame row (itertuples shape)
    — the one reconstruction every fetch task performs; keep all call
    sites on this helper so the manifest row shape and SegmentMetadata
    can't silently diverge."""
    return SegmentMetadata(
        TOPIC,
        TOPIC_ID,
        int(t.partition),
        int(t.start_offset),
        int(t.end_offset),
        t.segment_uuid,
    )


def tier_events_table(
    spark: SparkSession,
    events: DataFrame,
    conf: dict,
    n_partitions: int = 4,
    records_per_segment: int = 500,
    records_per_batch: int = 50,
    dense_offsets: bool = True,
) -> DataFrame:
    """Tier the `events` table into log segments; returns the manifests
    DataFrame (segment metadata + object keys), the engine's metadata
    plane for subsequent reads."""
    # ts arrives as TIMESTAMP from load_table/stream_events, but guard
    # against callers handing the raw scan (ns-as-long or TIMESTAMP_NTZ
    # depending on the testdata generation) — normalize before unix_micros,
    # which only accepts TIMESTAMP.
    from tiered_storage_for_apache_kafka_spark.tables import normalize_ts

    events = normalize_ts(events)
    assigned = events.select(
        (F.col("event_id") % n_partitions).cast("int").alias("partition"),
        F.col("event_id").alias("offset"),
        F.unix_micros("ts").alias("timestamp_us"),
        F.col("event_type").cast("binary").alias("key"),
        F.to_json(F.struct("user_id", "value", "props")).cast("binary").alias("value"),
    )
    # Segment assignment BEFORE the pandas stage: the reference's unit of
    # work is one *segment* (`KafkaRemoteStorageManager.java:167-223`), so
    # no task may ever hold a whole topic-partition (10s–100s of GB at
    # 100 TB — guaranteed OOM). Each applyInPandas group below is exactly
    # one segment (records_per_segment rows) and parallelism is
    # n_segments, not n_partitions.
    if dense_offsets:
        # Kafka log offsets are CONSECUTIVE within a partition, so the
        # rank of a record in its partition is pure arithmetic on the
        # offset — segment assignment is a narrow map, no shuffle and no
        # per-topic-partition sort at all. (Here offsets interleave
        # round-robin: offset % n_partitions == partition, so rank =
        # offset div n_partitions; a real per-partition-consecutive log
        # is the n_partitions=1 case of the same formula.)
        assigned = assigned.withColumn(
            "segment_no",
            F.expr(f"(offset div {n_partitions}) div {records_per_segment}").cast(
                "bigint"
            ),
        )
    else:
        # Sparse/compacted offsets: fall back to a per-partition
        # row_number window. This sorts each topic-partition through one
        # task — acceptable for compacted topics (small by definition),
        # wrong for a 100 TB append-only log (use dense_offsets there).
        from pyspark.sql import Window

        seg_window = Window.partitionBy("partition").orderBy("offset")
        assigned = assigned.withColumn(
            "segment_no",
            F.floor(
                (F.row_number().over(seg_window) - 1) / records_per_segment
            ).cast("bigint"),
        )

    def tier_segment(pdf: pd.DataFrame) -> pd.DataFrame:
        mgr = _build_manager(conf)
        seg = pdf.sort_values("offset").reset_index(drop=True)
        partition = int(seg["partition"].iloc[0])
        rows = [
            (
                int(r.offset),
                int(r.timestamp_us),
                bytes(r.key) if r.key is not None else None,
                bytes(r.value) if r.value is not None else None,
            )
            for r in seg.itertuples()
        ]
        manifest = tier_record_rows(mgr, partition, rows, records_per_batch)
        manifest.pop("object_keys")  # not part of the manifests schema
        return pd.DataFrame([manifest])

    manifests = assigned.groupBy("partition", "segment_no").applyInPandas(
        tier_segment,
        schema=(
            "partition INT, start_offset BIGINT, end_offset BIGINT, "
            "segment_uuid STRING, n_records BIGINT, segment_size BIGINT, "
            "remote_size BIGINT"
        ),
    )
    return manifests


def tier_record_rows(
    mgr: TieredStorageManager,
    partition: int,
    rows: list[tuple[int, int, bytes | None, bytes | None]],
    records_per_batch: int = 50,
) -> dict:
    """Tier ONE segment's records (already sorted by offset): wire-encode
    into record batches, build the aux indexes (incl. the batch-granular
    offset index the range-planned read path uses), upload through the
    full copy pipeline. Shared by the applyInPandas tiering stage and
    the `tiered_segments` DataSource write path. Returns the manifest
    row dict."""
    blob = bytearray()
    batch_positions: list[tuple[int, int]] = []
    for b_start in range(0, len(rows), records_per_batch):
        batch = rows[b_start : b_start + records_per_batch]
        batch_positions.append((batch[0][0], len(blob)))
        blob += encode_batch(
            [Record(o, ts, k, v) for o, ts, k, v in batch]
        )
    start_offset = rows[0][0]
    end_offset = rows[-1][0]
    uuid = f"seg-{partition}-{start_offset:020d}"
    meta = SegmentMetadata(TOPIC, TOPIC_ID, partition, start_offset, end_offset, uuid)
    indexes = {
        # Kafka-style batch-granular offset index: (base_offset,
        # byte_position) per record batch (`OffsetIndex` analog) — the
        # read path uses it to map an offset window to a byte window so
        # boundary segments fetch chunks, not whole segments (reference
        # planning `FetchChunkEnumeration.java:54-92` fed by the offset
        # index, `RemoteLogManager` lookup).
        "offset": struct_offset_index(batch_positions),
        "timestamp": struct_offsets([ts for _o, ts, _k, _v in rows]),
        "producerSnapshot": b"",
        "leaderEpoch": b"",
    }
    custom = mgr.copy_log_segment_data(meta, SegmentData(bytes(blob), indexes))
    return {
        "partition": partition,
        "start_offset": start_offset,
        "end_offset": end_offset,
        "segment_uuid": uuid,
        "n_records": len(rows),
        "segment_size": len(blob),
        "remote_size": custom["remote_size"],
        "object_keys": custom["object_keys"],
    }


def struct_offsets(values: list[int]) -> bytes:
    """Tiny aux-index payload: big-endian 8-byte values (offset/time index)."""
    import struct as _s

    return b"".join(_s.pack(">q", int(v)) for v in values)


def struct_offset_index(pairs: list[tuple[int, int]]) -> bytes:
    """Batch-granular offset index: big-endian (base_offset, byte_position)
    int64 pairs, one per record batch, ascending in both fields — the
    engine's `OffsetIndex` (Kafka stores int32 relative pairs; 64-bit here
    per the repo-wide no-2GiB-cap decision, SURVEY.md §7.4)."""
    import struct as _s

    return b"".join(_s.pack(">qq", int(o), int(p)) for o, p in pairs)


def parse_offset_index(buf: bytes) -> list[tuple[int, int]]:
    """Inverse of `struct_offset_index`. Raises ValueError on a payload
    that is not a whole number of 16-byte entries (callers fall back to a
    whole-segment fetch — never a wrong answer, just a wider read)."""
    import struct as _s

    if len(buf) % 16 != 0:
        raise ValueError(f"offset index length {len(buf)} not a multiple of 16")
    return list(_s.iter_unpack(">qq", buf))


def plan_offset_byte_range(
    pairs: list[tuple[int, int]],
    min_offset: int | None,
    max_offset: int | None,
) -> tuple[int, int | None]:
    """Map an offset window to the byte window that covers it, at batch
    granularity (the R2 range→chunk planning analog one level up: offsets
    → batch bytes → chunks). Returns (start_byte, end_byte_inclusive);
    end is None for 'to segment end' (fetch_log_segment clamps).

    A record with offset >= lo can live in the last batch whose
    base_offset <= lo; everything at offset > hi starts at the first
    batch whose base_offset > hi. Parity: the reference resolves fetch
    offsets through the segment's offset index exactly this way before
    chunk planning (`FetchChunkEnumeration.java:54-92`)."""
    from bisect import bisect_right

    bases = [o for o, _ in pairs]
    start_byte = 0
    if min_offset is not None:
        i = bisect_right(bases, min_offset) - 1
        if i >= 0:
            start_byte = pairs[i][1]
    end_byte: int | None = None
    if max_offset is not None:
        j = bisect_right(bases, max_offset)
        if j < len(pairs):
            end_byte = pairs[j][1] - 1
    return start_byte, end_byte


def fetch_segment_window(
    mgr: TieredStorageManager,
    meta: SegmentMetadata,
    min_offset: int | None,
    max_offset: int | None,
) -> tuple[int, bytes]:
    """Fetch the byte window of `meta`'s segment covering the offset
    window, via the batch-granular offset index — boundary segments pay
    a tiny index GET + only the covered chunks instead of the whole
    segment (at 100 TB a ~1 GiB boundary segment would otherwise be
    fetched twice per ranged query). Interior segments (offset window
    spans the whole segment) skip the index entirely. Returns
    (base_byte, data) where base_byte restores absolute
    batch_byte_offsets. Falls back to a whole-segment fetch when the
    index is absent/legacy-format (wider read, never wrong)."""
    end = meta.end_offset
    if end < meta.start_offset and max_offset is not None:
        # end unknown (datasource keys don't encode it) but an upper
        # bound exists: the manifest's kafka endOffset — cached, and
        # needed by any fetch below anyway — settles interior-ness
        # without an index GET
        try:
            km = mgr.segment_manifest(meta).kafka_metadata or {}
            e = km.get("endOffset")
            if isinstance(e, int) and e >= meta.start_offset:
                end = e
        except StorageBackendError:
            pass  # missing manifest: the fetch below raises properly
    end_known = end >= meta.start_offset
    interior = (min_offset is None or min_offset <= meta.start_offset) and (
        max_offset is None or (end_known and max_offset >= end)
    )
    if not interior:
        try:
            pairs = parse_offset_index(mgr.fetch_index(meta, "offset"))
            # structural sanity (also rejects a legacy 8-byte-per-record
            # payload that happens to split into 16-byte pairs): first
            # batch at byte 0, offsets and positions strictly ascending
            if (
                not pairs
                or pairs[0][1] != 0
                or any(
                    a[0] >= b[0] or a[1] >= b[1]
                    for a, b in zip(pairs, pairs[1:])
                )
            ):
                raise ValueError("not a batch offset index")
            start_byte, end_byte = plan_offset_byte_range(
                pairs, min_offset, max_offset
            )
            if end_byte is not None and end_byte < start_byte:
                # contradictory bounds (offset >= a AND offset <= b with
                # b < a survive pruning when a segment's end is unknown):
                # the offset window is empty — no bytes, no records
                return 0, b""
            data = b"".join(mgr.fetch_log_segment(meta, start_byte, end_byte))
            return start_byte, data
        except (KeyError, ValueError, StorageBackendError):
            # missing/legacy/corrupt index (incl. positions past segment
            # end -> InvalidRangeError): wider whole-segment read below —
            # never wrong, a genuine backend outage fails there instead
            pass
    return 0, b"".join(mgr.fetch_log_segment(meta, 0))


def read_tiered_records(
    spark: SparkSession,
    manifests: DataFrame,
    conf: dict,
    min_offset: int | None = None,
    max_offset: int | None = None,
) -> DataFrame:
    """Read records back from tiered segments as a DataFrame.

    Segment pruning (the R2 analog at file granularity) happens
    declaratively on the manifests DataFrame — segments whose
    [start_offset, end_offset] window misses the requested offset range
    are never fetched. Surviving *boundary* segments are then fetched at
    chunk granularity: the batch-level offset index maps the offset
    window to a byte window (`fetch_segment_window`), so a sub-segment
    range pays an index GET + the covered chunks, never the whole
    segment. The residual record-level filter trims within the boundary
    batches after decode (R7 trim analog)."""
    tasks = manifests
    if min_offset is not None:
        tasks = tasks.filter(F.col("end_offset") >= min_offset)
    if max_offset is not None:
        tasks = tasks.filter(F.col("start_offset") <= max_offset)

    lo = min_offset
    hi = max_offset

    def fetch_tasks(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mgr = _build_manager(conf)
        for pdf in batches:
            for t in pdf.itertuples():
                meta = manifest_row_meta(t)
                base_byte, data = fetch_segment_window(mgr, meta, lo, hi)
                bases, byte_offs, offsets, tss, keys, values = (
                    decode_segment_columns(data)
                )
                if base_byte:
                    byte_offs = [b + base_byte for b in byte_offs]
                out = pd.DataFrame(
                    {
                        "partition": int(t.partition),
                        "segment_uuid": t.segment_uuid,
                        "batch_base_offset": bases,
                        "batch_byte_offset": byte_offs,
                        "offset": offsets,
                        "timestamp_us": tss,
                        "key": keys,
                        "value": values,
                    }
                )
                if lo is not None:
                    out = out[out["offset"] >= lo]
                if hi is not None:
                    out = out[out["offset"] <= hi]
                yield out

    # Each manifest row is an independent fetch task — spread them across
    # all cores (repartition("partition") capped concurrency at
    # n_topic_partitions, e.g. 4, regardless of cluster size).
    n_slots = spark.sparkContext.defaultParallelism
    return tasks.repartition(n_slots, "segment_uuid").mapInPandas(
        fetch_tasks,
        schema=(
            "partition INT, segment_uuid STRING, batch_base_offset BIGINT, "
            "batch_byte_offset BIGINT, offset BIGINT, timestamp_us BIGINT, "
            "key BINARY, value BINARY"
        ),
    )


def decode_events(records: DataFrame) -> DataFrame:
    """Project tiered records back to the events envelope (I3 inverse):
    key → event_type, JSON value → typed columns."""
    value_schema = "user_id BIGINT, value DOUBLE, props STRING"
    parsed = F.from_json(F.col("value").cast("string"), value_schema)
    return records.select(
        F.col("offset").alias("event_id"),
        F.timestamp_micros(F.col("timestamp_us")).alias("ts"),
        parsed.user_id.alias("user_id"),
        F.col("key").cast("string").alias("event_type"),
        parsed.value.alias("value"),
        parsed.props.alias("props"),
    )


def decode_avro_records(records: DataFrame, registry_json: str) -> DataFrame:
    """Registry-driven Avro decode of tiered record values (I2 parity):
    each value's Confluent wire header resolves its schema id against the
    (broadcast) registry; parse failures and non-wire payloads land in
    `value_raw` untouched — never lost. Arrow-batched mapInPandas; the
    registry travels as a JSON string (driver→executor once)."""
    import json as _json

    from tiered_storage_for_apache_kafka_spark.avro import LocalSchemaRegistry

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        registry = LocalSchemaRegistry.from_json(registry_json)
        for pdf in batches:
            parsed_col = []
            raw_col = []
            sid_col = []
            for v in pdf["value"]:
                header_sid = None
                parsed, raw = registry.decode(v)
                if parsed is not None:
                    from tiered_storage_for_apache_kafka_spark.avro import (
                        parse_confluent_header,
                    )

                    h = parse_confluent_header(bytes(v))
                    header_sid = h[0] if h else None
                parsed_col.append(
                    _json.dumps(parsed) if parsed is not None else None
                )
                raw_col.append(raw)
                sid_col.append(header_sid)
            out = pdf[["partition", "offset", "timestamp_us"]].copy()
            out["schema_id"] = pd.array(sid_col, dtype="Int64")
            out["value_json"] = parsed_col
            out["value_raw"] = raw_col
            yield out

    return records.mapInPandas(
        decode,
        schema=(
            "partition INT, offset BIGINT, timestamp_us BIGINT, "
            "schema_id BIGINT, value_json STRING, value_raw BINARY"
        ),
    )
