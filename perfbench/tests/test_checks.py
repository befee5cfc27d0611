"""Tests of the benchmark's own checkers. Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os

import pytest

from perfbench import checks


def test_percentile_of_known_sample():
    sample = [float(x) for x in range(100, 0, -1)]  # 1..100, unsorted
    assert checks.median(sample) == pytest.approx(50.5)
    assert checks.percentile(sample, 99) == pytest.approx(99.01)
    assert checks.percentile(sample, 0) == 1.0
    assert checks.percentile(sample, 100) == 100.0
    assert checks.median([3.0, 1.0, 2.0]) == 2.0
    with pytest.raises(ValueError):
        checks.median([])


def _stored_segment(tmp_path):
    """Tier one small segment with compression and encryption on; return
    the stored log object, its manifest, the original bytes and the key."""
    from cryptography.hazmat.primitives.asymmetric import rsa

    from tiered_storage_for_apache_kafka_spark.api import (
        SegmentData,
        SegmentMetadata,
        TieredStorageManager,
    )
    from tiered_storage_for_apache_kafka_spark.storage.filesystem import FileSystemStorage
    from tiered_storage_for_apache_kafka_spark.transform.encryption import RsaKeyring

    key = rsa.generate_private_key(65537, 2048)
    root = str(tmp_path / "store")
    mgr = TieredStorageManager(
        FileSystemStorage(root),
        chunk_size=1024,
        compression_enabled=True,
        encryption_keyring=RsaKeyring("k", {"k": key}),
        codec="zstd",
    )
    log = b"".join(b"record %06d payload payload payload\n" % i for i in range(200))
    indexes = {"offset": b"", "timestamp": b"", "producerSnapshot": b"", "leaderEpoch": b""}
    meta = SegmentMetadata("t", "tid", 0, 0, 199, "seg-1")
    keys = mgr.copy_log_segment_data(meta, SegmentData(log, indexes))["object_keys"]
    with open(os.path.join(root, keys["log"]), "rb") as f:
        obj = f.read()
    with open(os.path.join(root, keys["rsm-manifest"]), "rb") as f:
        manifest = f.read()
    return obj, manifest, log, key


def test_chunk_decoder_reads_engine_output_and_rejects_a_flipped_byte(tmp_path):
    from cryptography.exceptions import InvalidTag

    obj, manifest, log, key = _stored_segment(tmp_path)
    assert checks.decode_stored_chunk(obj, manifest, 0, key) == log[:1024]
    assert checks.decode_stored_chunk(obj, manifest, 3, key) == log[3072:4096]
    flipped = bytearray(obj)
    flipped[20] ^= 0x01  # inside chunk 0's ciphertext
    with pytest.raises(InvalidTag):
        checks.decode_stored_chunk(bytes(flipped), manifest, 0, key)


def test_mor_expectation_matches_hand_computed_window(tmp_path):
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "events.parquet")
    types = ["a", "b", "c"]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(20), pa.int64()),
                "event_type": pa.array([types[i % 3] for i in range(20)]),
                "user_id": pa.array([100 + i for i in range(20)], pa.int64()),
            }
        ),
        path,
    )
    con = duckdb.connect()
    try:
        got = checks.mor_window_expectation(con, path, 5, 14, (4, 1), ["b"])
    finally:
        con.close()
    # window 5..14; drop offsets = 1 (mod 4): 5, 9, 13; drop type "b"
    # (offsets = 1 mod 3): 7, 10, 13
    assert got == [(6, "a", 106), (8, "c", 108), (11, "c", 111), (12, "a", 112), (14, "c", 114)]
