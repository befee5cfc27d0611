"""Full copy→fetch→delete matrix against the filesystem backend —
mirrors the reference's integration matrix (`RemoteStorageManagerTest.
java:75-150`: {cache} × {chunk size} × {compression} × {encryption} ×
{txn index}), with deliberately chunk-unaligned segment sizes and
every-boundary fetch ranges."""

from __future__ import annotations

import collections
import concurrent.futures
import random
import sys
import threading

import pytest

from tiered_storage_for_apache_kafka_spark.api import (
    SegmentData,
    SegmentMetadata,
    TieredStorageManager,
)
from tiered_storage_for_apache_kafka_spark.fetch.cache import (
    DiskChunkCache,
    MemoryChunkCache,
)
from tiered_storage_for_apache_kafka_spark.manifest.manifest import SegmentManifest
from tiered_storage_for_apache_kafka_spark.storage.filesystem import FileSystemStorage
from tiered_storage_for_apache_kafka_spark.transform.encryption import RsaKeyring

SEGMENT_SIZE = 123 * 1024 + 123  # deliberately chunk-unaligned (SingleBrokerTest.java:114-117)
CHUNK_SIZE = 1024

_rng = random.Random(42)
SEGMENT_BYTES = bytes(_rng.getrandbits(8) for _ in range(SEGMENT_SIZE))
INDEXES = {
    "offset": bytes(_rng.getrandbits(8) for _ in range(512)),
    "timestamp": bytes(_rng.getrandbits(8) for _ in range(256)),
    "producerSnapshot": b"snapshot",
    "leaderEpoch": b"epochs",
}
META = SegmentMetadata(
    topic="t0", topic_id="tid0", partition=0, start_offset=1000,
    end_offset=2000, segment_uuid="seg-uuid-1",
)

KEYRING = RsaKeyring.generate()  # RSA keygen is slow; share across the matrix


def make_manager(tmp_path, compression, encryption, cache_kind, txn_index, codec="zstd"):
    backend = FileSystemStorage(tmp_path / "store")
    cache = None
    if cache_kind == "memory":
        cache = MemoryChunkCache(1 << 22)
    elif cache_kind == "disk":
        cache = DiskChunkCache(tmp_path / "cache", 1 << 22)
    return TieredStorageManager(
        backend,
        chunk_size=CHUNK_SIZE,
        compression_enabled=compression,
        encryption_keyring=KEYRING if encryption else None,
        cache=cache,
        codec=codec,
    ), backend


@pytest.mark.parametrize("compression", [False, True])
@pytest.mark.parametrize("encryption", [False, True])
@pytest.mark.parametrize("cache_kind", [None, "memory", "disk"])
@pytest.mark.parametrize("txn_index", [False, True])
@pytest.mark.parametrize("codec", ["zstd", "zlib"])
def test_copy_fetch_delete_cycle(tmp_path, compression, encryption, cache_kind, txn_index, codec):
    indexes = dict(INDEXES)
    if txn_index:
        indexes["transaction"] = b"txn-index-bytes"
    mgr, backend = make_manager(tmp_path, compression, encryption, cache_kind, txn_index, codec)

    custom = mgr.copy_log_segment_data(META, SegmentData(SEGMENT_BYTES, indexes))
    assert set(custom["object_keys"]) == {"log", "indexes", "rsm-manifest"}
    assert len(backend.list_keys()) == 3

    # manifest shape (golden assertions, RemoteStorageManagerTest.java:176-203)
    with backend.fetch(custom["object_keys"]["rsm-manifest"]) as f:
        manifest = SegmentManifest.from_json(f.read())
    assert manifest.compression == compression
    assert (manifest.encryption is not None) == encryption
    assert manifest.chunk_index.original_file_size == SEGMENT_SIZE
    expected_type = "variable" if compression else "fixed"
    assert manifest.chunk_index.to_dict()["type"] == expected_type
    assert ("transaction" in manifest.segment_indexes.locations) == txn_index

    # fetch every flavor of range: full, borders, borders±1, mid-chunk,
    # single byte, last byte, beyond-end clamp
    ranges = [
        (0, None),
        (0, 0),
        (0, CHUNK_SIZE - 1),
        (CHUNK_SIZE - 1, CHUNK_SIZE),
        (CHUNK_SIZE, 2 * CHUNK_SIZE - 1),
        (CHUNK_SIZE + 17, 5 * CHUNK_SIZE + 99),
        (SEGMENT_SIZE - 1, SEGMENT_SIZE - 1),
        (SEGMENT_SIZE - 100, 10 * SEGMENT_SIZE),
        (123, 123 * 1024),
    ]
    for start, end in ranges:
        got = b"".join(mgr.fetch_log_segment(META, start, end))
        hi = SEGMENT_SIZE - 1 if end is None else min(end, SEGMENT_SIZE - 1)
        assert got == SEGMENT_BYTES[start : hi + 1], f"range {start}-{end}"

    # index fetch byte-equality (RemoteStorageManagerTest.java:205-233)
    for index_type, payload in indexes.items():
        assert mgr.fetch_index(META, index_type) == payload
    if not txn_index:
        with pytest.raises(KeyError):
            mgr.fetch_index(META, "transaction")

    mgr.delete_log_segment_data(META)
    assert backend.list_keys() == []


def test_cache_hits_on_reread(tmp_path):
    mgr, _ = make_manager(tmp_path, False, False, "memory", False)
    mgr.copy_log_segment_data(META, SegmentData(SEGMENT_BYTES, dict(INDEXES)))
    b"".join(mgr.fetch_log_segment(META, 0, 10 * CHUNK_SIZE))
    misses_after_first = mgr.chunk_manager.cache.misses
    b"".join(mgr.fetch_log_segment(META, 0, 10 * CHUNK_SIZE))
    assert mgr.chunk_manager.cache.misses == misses_after_first
    assert mgr.chunk_manager.cache.hits >= 11


def test_upload_failure_cleans_up(tmp_path):
    backend = FileSystemStorage(tmp_path / "store")
    mgr = TieredStorageManager(backend, chunk_size=CHUNK_SIZE)
    boom = RuntimeError("disk full")
    real_upload = backend.upload
    calls = []

    def failing_upload(key, data):
        calls.append(key)
        if len(calls) == 3:  # fail on the manifest (last object)
            raise boom
        return real_upload(key, data)

    backend.upload = failing_upload
    with pytest.raises(RuntimeError):
        mgr.copy_log_segment_data(META, SegmentData(SEGMENT_BYTES, dict(INDEXES)))
    assert backend.list_keys() == []  # orphans removed (W12)


def test_prefetch_warms_cache(tmp_path):
    backend = FileSystemStorage(tmp_path / "store")
    cache = MemoryChunkCache(1 << 22, prefetch_max_bytes=4 * CHUNK_SIZE)
    mgr = TieredStorageManager(backend, chunk_size=CHUNK_SIZE, cache=cache)
    mgr.copy_log_segment_data(META, SegmentData(SEGMENT_BYTES, dict(INDEXES)))
    b"".join(mgr.fetch_log_segment(META, 0, CHUNK_SIZE - 1))  # touches chunk 0
    import time

    deadline = time.monotonic() + 5
    want = {("t0-tid0/0/00000000000000001000-seg-uuid-1.log", i) for i in range(1, 5)}
    while time.monotonic() < deadline:
        if want <= set(cache._data.keys()):
            break
        time.sleep(0.05)
    assert want <= set(cache._data.keys())


# prefetch semantics (ChunkCache.java:159-184): a budget in original bytes
# after the chunk just read, and no pool task for a chunk that is cached or
# already loading
_words = [bytes(_rng.choice(b"abcdefghij") for _ in range(6)) for _ in range(64)]
COMPRESSIBLE_BYTES = b" ".join(_rng.choice(_words) for _ in range(SEGMENT_SIZE // 6))[
    :SEGMENT_SIZE
]
SEGMENT_CHUNKS = -(-SEGMENT_SIZE // CHUNK_SIZE)


def _prefetching_cache(kind, tmp_path, **kw):
    kw.setdefault("prefetch_max_bytes", 2 * CHUNK_SIZE)
    if kind == "memory":
        return MemoryChunkCache(1 << 22, **kw)
    return DiskChunkCache(tmp_path / "cache", 1 << 22, **kw)


def _record_submits(cache):
    """Wrap the cache's pool so every submitted task's future is kept."""
    futures = []
    submit = cache._pool.submit

    def recording_submit(fn, *args, **kwargs):
        fut = submit(fn, *args, **kwargs)
        futures.append(fut)
        return fut

    cache._pool.submit = recording_submit
    return futures


def _drain(futures):
    _, not_done = concurrent.futures.wait(futures, timeout=5)
    assert not not_done, "prefetch tasks still running after 5 s"


@pytest.mark.parametrize("cache_kind", ["memory", "disk"])
@pytest.mark.parametrize("chunk_id", [5, SEGMENT_CHUNKS - 2, SEGMENT_CHUNKS - 1])
def test_prefetch_budget_counts_original_bytes(tmp_path, cache_kind, chunk_id):
    cache = _prefetching_cache(cache_kind, tmp_path)
    futures = _record_submits(cache)
    mgr = TieredStorageManager(
        FileSystemStorage(tmp_path / "store"),
        chunk_size=CHUNK_SIZE,
        compression_enabled=True,
        codec="zstd",
        cache=cache,
    )
    custom = mgr.copy_log_segment_data(META, SegmentData(COMPRESSIBLE_BYTES, dict(INDEXES)))
    with mgr.backend.fetch(custom["object_keys"]["rsm-manifest"]) as f:
        index = SegmentManifest.from_json(f.read()).chunk_index
    assert index.count == SEGMENT_CHUNKS
    # three chunks' transformed bytes fit in the budget, so a budget counted
    # in transformed bytes would prefetch more than two chunks
    assert sum(index.transformed_size(i) for i in range(1, 4)) < 2 * CHUNK_SIZE

    start = chunk_id * CHUNK_SIZE
    got = b"".join(mgr.fetch_log_segment(META, start, start + CHUNK_SIZE - 1))
    assert got == COMPRESSIBLE_BYTES[start : start + CHUNK_SIZE]
    _drain(futures)
    want = {chunk_id} | {i for i in (chunk_id + 1, chunk_id + 2) if i < SEGMENT_CHUNKS}
    assert {cid for _obj, cid in cache._keys()} == want
    assert len(futures) == len(want) - 1
    cache.close()


@pytest.mark.parametrize("cache_kind", ["memory", "disk"])
def test_prefetch_skips_cached_chunks(tmp_path, cache_kind):
    cache = _prefetching_cache(cache_kind, tmp_path)
    futures = _record_submits(cache)
    mgr = TieredStorageManager(
        FileSystemStorage(tmp_path / "store"), chunk_size=CHUNK_SIZE, cache=cache
    )
    mgr.copy_log_segment_data(META, SegmentData(SEGMENT_BYTES, dict(INDEXES)))
    end = 10 * CHUNK_SIZE - 1
    assert b"".join(mgr.fetch_log_segment(META, 0, end)) == SEGMENT_BYTES[: end + 1]
    _drain(futures)
    assert {cid for _obj, cid in cache._keys()} == set(range(12))
    submitted = len(futures)

    assert b"".join(mgr.fetch_log_segment(META, 0, end)) == SEGMENT_BYTES[: end + 1]
    assert len(futures) == submitted
    cache.close()


@pytest.mark.parametrize("cache_kind", ["memory", "disk"])
def test_prefetch_skips_inflight_chunk(tmp_path, cache_kind):
    cache = _prefetching_cache(cache_kind, tmp_path)
    futures = _record_submits(cache)
    started, release = threading.Event(), threading.Event()
    loads = []

    def slow_load():
        loads.append("slow")
        started.set()
        assert release.wait(5)
        return b"slow"

    reader = threading.Thread(target=cache.get_chunk, args=(("obj", 1), slow_load))
    reader.start()
    assert started.wait(5)
    cache.prefetch([("obj", 1), ("obj", 2)], lambda k: lambda: b"chunk-%d" % k[1])
    release.set()
    reader.join(5)
    assert not reader.is_alive()
    _drain(futures)
    assert len(futures) == 1
    assert loads == ["slow"]
    assert cache.get_chunk(("obj", 1), slow_load) == b"slow"
    assert cache.get_chunk(("obj", 2), slow_load) == b"chunk-2"
    cache.close()


@pytest.mark.parametrize("cache_kind", ["memory", "disk"])
def test_prefetch_reloads_expired_chunk(tmp_path, cache_kind):
    now = [0.0]
    cache = _prefetching_cache(
        cache_kind, tmp_path, retention_seconds=10.0, clock=lambda: now[0]
    )
    futures = _record_submits(cache)
    loads = []

    def loader_for(key):
        def load():
            loads.append(key)
            return b"v%d" % len(loads)

        return load

    key = ("obj", 0)
    assert cache.get_chunk(key, loader_for(key)) == b"v1"
    now[0] = 6.0
    cache.prefetch([key], loader_for)  # live: skipped, and its age not reset
    assert futures == []
    now[0] = 11.0
    cache.prefetch([key], loader_for)  # past retention: absent, loaded again
    _drain(futures)
    assert len(futures) == 1
    assert loads == [key, key]
    assert cache.get_chunk(key, loader_for(key)) == b"v2"
    cache.close()


@pytest.mark.parametrize("cache_kind", ["memory", "disk"])
def test_prefetch_with_concurrent_readers_loads_each_chunk_once(tmp_path, cache_kind):
    """Readers on more threads than cores race the prefetch pool over one
    segment; the cache holds it whole, so every chunk is loaded once and
    every read returns the segment's bytes."""
    cache = _prefetching_cache(cache_kind, tmp_path)
    mgr = TieredStorageManager(
        FileSystemStorage(tmp_path / "store"), chunk_size=CHUNK_SIZE, cache=cache
    )
    mgr.copy_log_segment_data(META, SegmentData(SEGMENT_BYTES, dict(INDEXES)))
    loads = collections.Counter()
    loads_lock = threading.Lock()
    load_chunk = mgr.chunk_manager._load_chunk

    def counting_load(object_key, manifest, chunk_id, key):
        with loads_lock:
            loads[chunk_id] += 1
        return load_chunk(object_key, manifest, chunk_id, key)

    mgr.chunk_manager._load_chunk = counting_load
    errors = []

    def reader(seed):
        rnd = random.Random(seed)
        try:
            for _ in range(40):
                start = rnd.randrange(SEGMENT_SIZE)
                end = min(start + rnd.randrange(1, 4 * CHUNK_SIZE), SEGMENT_SIZE - 1)
                got = b"".join(mgr.fetch_log_segment(META, start, end))
                if got != SEGMENT_BYTES[start : end + 1]:
                    errors.append(f"range {start}-{end} differs")
        except Exception as e:  # surfaced by the assertion below
            errors.append(repr(e))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=reader, args=(s,)) for s in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(30)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(interval)
    assert errors == []
    assert loads and max(loads.values()) == 1
    cache.close()


class TestCustomMetadataSerde:
    """W13 broker-facing form: Kafka-protocol tagged fields
    (`SegmentCustomMetadataField.java:30-64` tag contract,
    `SegmentCustomMetadataSerde.java` wire format)."""

    def test_roundtrip_and_known_vectors(self):
        from tiered_storage_for_apache_kafka_spark.metadata_serde import (
            OBJECT_KEY,
            OBJECT_PREFIX,
            REMOTE_SIZE,
            deserialize_custom_metadata,
            serialize_custom_metadata,
        )

        fields = {REMOTE_SIZE: 126_000, OBJECT_PREFIX: "pfx/", OBJECT_KEY: "t-x/0/k.log"}
        data = serialize_custom_metadata(fields)
        assert deserialize_custom_metadata(data) == fields
        # empty map -> empty bytes (reference serialize contract)
        assert serialize_custom_metadata({}) == b""
        assert deserialize_custom_metadata(b"") == {}
        # hand-checked vector: 1 field, tag 0, VARLONG zigzag(5) = 10
        one = serialize_custom_metadata({REMOTE_SIZE: 5})
        assert one == bytes([1, 0, 1, 10])
        # compact string framing: uvarint(len+1) + utf8
        s = serialize_custom_metadata({OBJECT_PREFIX: "ab"})
        assert s == bytes([1, 1, 3, 3]) + b"ab"

    def test_rejections_and_forward_compat(self):
        import pytest

        from tiered_storage_for_apache_kafka_spark.metadata_serde import (
            REMOTE_SIZE,
            deserialize_custom_metadata,
            serialize_custom_metadata,
        )

        with pytest.raises(ValueError, match="unknown"):
            serialize_custom_metadata({9: "x"})
        with pytest.raises(ValueError, match="64-bit"):
            serialize_custom_metadata({REMOTE_SIZE: 2**63})
        with pytest.raises(ValueError, match="64-bit"):
            serialize_custom_metadata({REMOTE_SIZE: -(2**63) - 1})
        good = serialize_custom_metadata({REMOTE_SIZE: 7})
        with pytest.raises(ValueError, match="truncated"):
            deserialize_custom_metadata(good[:-1])
        with pytest.raises(ValueError, match="trailing"):
            deserialize_custom_metadata(good + b"\x00")
        # an unknown tag decodes to raw bytes (KIP-482 forward compat)
        unknown = bytes([1, 7, 2]) + b"\xaa\xbb"
        assert deserialize_custom_metadata(unknown) == {7: b"\xaa\xbb"}

    def test_copy_returns_broker_wire_bytes(self, tmp_path):
        from tiered_storage_for_apache_kafka_spark.api import (
            SegmentData,
            SegmentMetadata,
            TieredStorageManager,
        )
        from tiered_storage_for_apache_kafka_spark.metadata_serde import (
            OBJECT_KEY,
            OBJECT_PREFIX,
            REMOTE_SIZE,
            deserialize_custom_metadata,
        )
        from tiered_storage_for_apache_kafka_spark.storage.filesystem import (
            FileSystemStorage,
        )

        mgr = TieredStorageManager(FileSystemStorage(tmp_path), chunk_size=64)
        meta = SegmentMetadata(
            topic="t", topic_id="tid", partition=0, start_offset=0,
            end_offset=9, segment_uuid="u-cm",
        )
        custom = mgr.copy_log_segment_data(
            meta,
            SegmentData(b"a" * 100, {
                "offset": b"o", "timestamp": b"t",
                "producerSnapshot": b"s", "leaderEpoch": b"e",
            }),
        )
        decoded = deserialize_custom_metadata(custom["custom_metadata"])
        assert decoded[REMOTE_SIZE] == custom["remote_size"]
        assert decoded[OBJECT_PREFIX] == ""
        assert decoded[OBJECT_KEY].endswith(".log")


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=60, deadline=None)
@given(
    size=st.integers(0, 2**63 - 1),
    prefix=st.text(max_size=30),
    key=st.text(min_size=1, max_size=60),
)
def test_custom_metadata_roundtrip_property(size, prefix, key):
    from tiered_storage_for_apache_kafka_spark.metadata_serde import (
        OBJECT_KEY,
        OBJECT_PREFIX,
        REMOTE_SIZE,
        deserialize_custom_metadata,
        serialize_custom_metadata,
    )

    fields = {REMOTE_SIZE: size, OBJECT_PREFIX: prefix, OBJECT_KEY: key}
    assert deserialize_custom_metadata(serialize_custom_metadata(fields)) == fields


@settings(max_examples=60, deadline=None)
@given(blob=st.binary(min_size=1, max_size=128))
def test_custom_metadata_never_crashes_on_garbage(blob):
    from tiered_storage_for_apache_kafka_spark.metadata_serde import (
        deserialize_custom_metadata,
    )

    try:
        deserialize_custom_metadata(blob)
    except ValueError:
        pass
