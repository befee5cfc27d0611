"""Seeded input generators. The same seed gives byte-identical inputs.

Segments use the engine's own batch framing (``wire.encode_batch``) with a
batch-granular offset index, the layout ``segment_source.tier_record_rows``
builds. Tables mimic the shapes of the engine's ``events``, ``documents``
and ``embeddings`` tables at sf0.1.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random
import struct
from dataclasses import dataclass

EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column data fast filter group hash key line merge "
    "order part query row scan slow small sort spark stream table value "
    "vector window join index cache chunk"
).split()
TS0_US = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1e6)


def _value_json(rng: random.Random) -> bytes:
    """The record value: the JSON envelope `tier_events_table` writes."""
    return (
        '{"user_id":%d,"value":%.2f,"props":"{\\"k\\": %d}"}'
        % (rng.randrange(1500), rng.random() * 560, rng.randrange(100))
    ).encode()


@dataclass(frozen=True)
class Segment:
    """One closed log segment: its bytes and its aux indexes."""

    log: bytes
    indexes: dict
    start_offset: int
    end_offset: int
    batch_positions: tuple  # (base_offset, byte_position) per batch


def make_segment(
    rng: random.Random, start_offset: int, target_bytes: int, records_per_batch: int
) -> Segment:
    from tiered_storage_for_apache_kafka_spark.wire import Record, encode_batch

    blob = bytearray()
    positions = []
    offset = start_offset
    ts = TS0_US + start_offset * 1000
    while len(blob) < target_bytes:
        batch = []
        for _ in range(records_per_batch):
            ts += rng.randrange(1, 2000)
            batch.append(
                Record(offset, ts, rng.choice(EVENT_TYPES).encode(), _value_json(rng))
            )
            offset += 1
        positions.append((batch[0].offset, len(blob)))
        blob += encode_batch(batch)
    indexes = {
        "offset": b"".join(struct.pack(">qq", o, p) for o, p in positions),
        "timestamp": struct.pack(">q", ts),
        "producerSnapshot": b"",
        "leaderEpoch": b"",
    }
    return Segment(bytes(blob), indexes, start_offset, offset - 1, tuple(positions))


def segment_pool(seed: int, n: int, target_bytes: int, records_per_batch: int) -> list[Segment]:
    """``n`` distinct segments with consecutive offsets."""
    rng = random.Random(seed)
    out = []
    offset = 0
    for _ in range(n):
        seg = make_segment(rng, offset, target_bytes, records_per_batch)
        out.append(seg)
        offset = seg.end_offset + 1
    return out


def write_events(seed: int, out_dir: str, n_events: int) -> str:
    """Write ``events.parquet``; returns its path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed * 7919 + 1)
    ts = TS0_US
    ev = {k: [] for k in ("event_id", "ts", "user_id", "event_type", "value", "props")}
    step = 30 * 86400 * 10**6 // max(n_events, 1)
    for i in range(n_events):
        ts += rng.randrange(1, 2 * step)
        ev["event_id"].append(i)
        ev["ts"].append(ts)
        ev["user_id"].append(rng.randrange(1500))
        ev["event_type"].append(rng.choice(EVENT_TYPES))
        ev["value"].append(round(rng.random() * 560, 2))
        ev["props"].append('{"k": %d}' % rng.randrange(100))
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(ev["event_id"], pa.int64()),
                "ts": pa.array(ev["ts"], pa.timestamp("us")),
                "user_id": pa.array(ev["user_id"], pa.int64()),
                "event_type": pa.array(ev["event_type"], pa.string()),
                "value": pa.array(ev["value"], pa.float64()),
                "props": pa.array(ev["props"], pa.string()),
            }
        ),
        os.path.join(out_dir, "events.parquet"),
    )
    return os.path.join(out_dir, "events.parquet")


def write_corpus(seed: int, out_dir: str, n_docs: int, n_vecs: int) -> None:
    """Write ``documents.parquet`` (with exact and near duplicates) and
    ``embeddings.parquet`` (unit vectors around ten label centres, with
    near-duplicate vectors)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed * 7919 + 2)
    texts: list[str] = []
    for _ in range(n_docs):
        r = rng.random()
        if texts and r < 0.04:
            text = rng.choice(texts)  # exact duplicate
        elif texts and r < 0.12:
            words = rng.choice(texts).split(" ")  # near duplicate
            for _ in range(max(1, len(words) // 20)):
                words[rng.randrange(len(words))] = rng.choice(VOCAB)
            text = " ".join(words)
        else:
            text = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100)))
        texts.append(text)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n_docs), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array([rng.choice(LANGS) for _ in texts], pa.string()),
                "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(out_dir, "documents.parquet"),
    )

    dim, n_labels = 64, 10
    centers = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_labels)]
    vecs, labels = [], []
    for _ in range(n_vecs):
        if vecs and rng.random() < 0.05:
            j = rng.randrange(len(vecs))  # near-duplicate vector
            v = [x + rng.gauss(0, 0.01) for x in vecs[j]]
            label = labels[j]
        else:
            label = rng.randrange(n_labels)
            v = [c + rng.gauss(0, 1.2) for c in centers[label]]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
        labels.append(label)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n_vecs), pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array(labels, pa.int32()),
            }
        ),
        os.path.join(out_dir, "embeddings.parquet"),
    )
