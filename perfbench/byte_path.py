"""Byte-path workloads: ``broker_tier`` (write side) and ``consumer_fetch``
(read side). Pure Python in one process, no Spark.

Both use 1 MiB segments in the engine's batch framing, 64 KiB chunks,
zstd compression and AES-GCM encryption with an RSA-wrapped data key,
stored by ``FileSystemStorage`` under the run's work directory.
"""

from __future__ import annotations

import bisect
import io
import os
import random
import threading
import time
from collections import deque

from perfbench import checks, inputs
from perfbench.common import RunResult, measure_rounds

SEGMENT_BYTES = 1 << 20
CHUNK_BYTES = 64 << 10
RECORDS_PER_BATCH = 50

# broker_tier
TIER_POOL = 16  # distinct segment payloads, tiered in turn
COPIES_PER_ROUND = 16
RETAINED = 32  # retention window, in segments
TIER_WARMUP_ROUNDS = 2  # fill the retention window

# consumer_fetch
STORE_SEGMENTS = 40
TAIL_SEGMENTS = 2  # the newest segments: 2 MiB of tail working set
CATCHUP_SEGMENTS = 32  # the oldest segments: 32 MiB of catch-up range
CACHE_BYTES = 8 << 20
PREFETCH_BYTES = 2 * CHUNK_BYTES
FETCH_BYTES = 64 << 10
FETCHES_PER_ROUND = 400
TAIL_SHARE = 0.8
CATCHUP_READERS = 3
FETCH_WARMUP_ROUNDS = 2  # fill the cache with the tail working set


class TimedStorage:
    """Times every call into the storage backend the benchmark supplies.
    A ranged GET is read in full inside its span."""

    def __init__(self, backend, tracer):
        self._b = backend
        self._t = tracer

    def upload(self, key, data):
        with self._t.span("storage.upload"):
            n = self._b.upload(key, data)
        self._t.count("storage.upload.bytes", n)
        return n

    def fetch(self, key, byte_range=None):
        with self._t.span("storage.get"):
            with self._b.fetch(key, byte_range) as f:
                data = f.read()
        self._t.count("storage.get.bytes", len(data))
        return io.BytesIO(data)

    def delete(self, keys):
        with self._t.span("storage.delete"):
            self._b.delete(keys)


def _keyring():
    """An RSA key-encryption key. Keys and IVs come from the OS, not the
    seed; no measured figure depends on their values."""
    from cryptography.hazmat.primitives.asymmetric import rsa

    from tiered_storage_for_apache_kafka_spark.transform.encryption import RsaKeyring

    key = rsa.generate_private_key(65537, 2048)
    return RsaKeyring("kek-0", {"kek-0": key}), key


def _manager(backend, keyring, cache=None):
    from tiered_storage_for_apache_kafka_spark.api import TieredStorageManager

    return TieredStorageManager(
        backend,
        chunk_size=CHUNK_BYTES,
        compression_enabled=True,
        encryption_keyring=keyring,
        cache=cache,
        codec="zstd",
    )


def _meta(uuid: str, start: int, end: int):
    from tiered_storage_for_apache_kafka_spark.api import SegmentMetadata

    return SegmentMetadata("events", "events-tid", 0, start, end, uuid)


def _install_layer_wrappers(tracer) -> None:
    from tiered_storage_for_apache_kafka_spark import api
    from tiered_storage_for_apache_kafka_spark.fetch import chunk_manager
    from tiered_storage_for_apache_kafka_spark.manifest.manifest import SegmentManifest

    orig_transform = api.transform

    def transform(stream, *a, **k):
        tracer.count("transform.bytes", len(stream))
        with tracer.span("transform"):
            return orig_transform(stream, *a, **k)

    tracer.patch(api, "transform", transform)
    tracer.wrap(chunk_manager, "detransform", "detransform", eager=True)

    to_json = SegmentManifest.to_json
    from_json = SegmentManifest.from_json

    def timed_to_json(self):
        with tracer.span("manifest.encode"):
            out = to_json(self)
        tracer.count("manifest.bytes", len(out))
        return out

    def timed_from_json(cls, s):
        with tracer.span("manifest.decode"):
            return from_json(s)

    tracer.patch(SegmentManifest, "to_json", timed_to_json)
    tracer.patch(SegmentManifest, "from_json", classmethod(timed_from_json))


def _object_files(root: str) -> dict[str, int]:
    """Every stored object under ``root`` and its size, from the file system."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for name in files:
            p = os.path.join(d, name)
            out[os.path.relpath(p, root)] = os.stat(p).st_size
    return out


def _check_stored_segments(root, backend, keyring, private_key, retained, deleted) -> None:
    """The broker_tier checks: read-back, sizes, direct chunk decode and
    the object listing after retention deletes."""
    reader = _manager(backend, keyring)
    files = _object_files(root)
    by_uuid: dict[str, list[str]] = {}
    for key in files:
        # <topic>-<topic id>/<partition>/<offset:020d>-<uuid>.<suffix>
        uuid, _, suffix = os.path.basename(key).split("-", 1)[1].rpartition(".")
        by_uuid.setdefault(uuid, []).append(suffix)
    want = {uuid for uuid, *_ in retained}
    checks.require(set(by_uuid) == want, "stored segments differ from the retained ones")
    checks.require(not set(by_uuid) & set(deleted), "a deleted segment left objects behind")
    for uuid, suffixes in by_uuid.items():
        checks.require(
            sorted(suffixes) == ["indexes", "log", "rsm-manifest"],
            f"{uuid}: objects {sorted(suffixes)}",
        )
    checks.require(
        sum(files.values()) == sum(r[3]["remote_size"] for r in retained),
        "stored object sizes do not add up to the returned remote_size values",
    )
    for uuid, meta, seg, custom in retained:
        got = b"".join(reader.fetch_log_segment(meta, 0))
        checks.require(got == seg.log, f"{uuid}: read-back differs from the generated bytes")
        keys = custom["object_keys"]
        with open(os.path.join(root, keys["log"]), "rb") as f:
            obj = f.read()
        with open(os.path.join(root, keys["rsm-manifest"]), "rb") as f:
            manifest = f.read()
        cid = int(uuid.rsplit("-", 1)[-1]) % -(-len(seg.log) // CHUNK_BYTES)
        plain = checks.decode_stored_chunk(obj, manifest, cid, private_key)
        checks.require(
            plain == seg.log[cid * CHUNK_BYTES : (cid + 1) * CHUNK_BYTES],
            f"{uuid}: chunk {cid} decoded from the object differs",
        )


def broker_tier(seed: int, seconds: float, tracer, work: str, t_start: float) -> RunResult:
    from tiered_storage_for_apache_kafka_spark.api import SegmentData
    from tiered_storage_for_apache_kafka_spark.storage.filesystem import FileSystemStorage

    pool = inputs.segment_pool(seed, TIER_POOL, SEGMENT_BYTES, RECORDS_PER_BATCH)
    keyring, private_key = _keyring()
    root = os.path.join(work, "store")
    fs = FileSystemStorage(root)
    backend = TimedStorage(fs, tracer) if tracer.enabled else fs
    if tracer.enabled:
        _install_layer_wrappers(tracer)
    mgr = _manager(backend, keyring)

    retained: deque = deque()
    deleted: list[str] = []
    state = {"n": 0, "offset": 0}
    copy_ms: list[float] = []
    counts = {"attempted": 0, "bytes": 0, "remote": 0}

    def one_round(_r: int, record: bool) -> None:
        for _ in range(COPIES_PER_ROUND):
            seg = pool[state["n"] % TIER_POOL]
            n_records = seg.end_offset - seg.start_offset + 1
            uuid = f"seg-{state['n']:08d}"
            meta = _meta(uuid, state["offset"], state["offset"] + n_records - 1)
            state["n"] += 1
            state["offset"] += n_records
            tracer.op_id = state["n"]
            t0 = time.perf_counter()
            with tracer.span("copy"):
                custom = mgr.copy_log_segment_data(meta, SegmentData(seg.log, seg.indexes))
            t1 = time.perf_counter()
            retained.append((uuid, meta, seg, custom))
            while len(retained) > RETAINED:
                old = retained.popleft()
                with tracer.span("delete"):
                    mgr.delete_log_segment_data(old[1])
                deleted.append(old[0])
                if record:
                    counts["attempted"] += 1
            if record:
                copy_ms.append((t1 - t0) * 1e3)
                counts["attempted"] += 1
                counts["bytes"] += len(seg.log)
                counts["remote"] += custom["remote_size"]

    for r in range(TIER_WARMUP_ROUNDS):
        one_round(r, False)
    tracer.reset()
    setup_s = time.perf_counter() - t_start
    rounds = measure_rounds(seconds, lambda r: one_round(r, True))
    tracer.restore()

    _check_stored_segments(root, fs, keyring, private_key, list(retained), deleted)

    measured = sum(rounds)
    detail = {
        "tier_mb_s": counts["bytes"] / measured / 1e6,
        "copy_ms_p50": checks.median(copy_ms),
        "copy_ms_p99": checks.percentile(copy_ms, 99),
        "copies": len(copy_ms),
        "stored_bytes_per_byte": counts["remote"] / counts["bytes"],
    }
    layers = {}
    if tracer.enabled:
        layers = _byte_layers(tracer, len(rounds), delivered=0)
        layers["copy.busy_s"] = tracer.busy("copy") / len(rounds)
        layers["copy.self_s"] = tracer.self_time("copy") / len(rounds)
        layers["manifest.bytes_per_segment"] = tracer.counters["manifest.bytes"] / len(copy_ms)
        layers.update({k: v for k, v in detail.items() if k != "copies"})
    return RunResult(
        setup_s=setup_s,
        rounds=rounds,
        op_ms=copy_ms,
        attempted=counts["attempted"],
        failed=0,
        detail=detail,
        layers=layers,
    )


def _byte_layers(tracer, n_rounds: int, delivered: int) -> dict:
    c = tracer.counters
    per = 1.0 / n_rounds
    busy_t = tracer.busy("transform")
    return {
        "transform.calls": tracer.calls("transform") * per,
        "transform.busy_s": busy_t * per,
        "transform.mb_s": c["transform.bytes"] / busy_t / 1e6 if busy_t else 0.0,
        "detransform.calls": tracer.calls("detransform") * per,
        "detransform.busy_s": tracer.busy("detransform") * per,
        "storage.upload.calls": tracer.calls("storage.upload") * per,
        "storage.upload.bytes": c["storage.upload.bytes"] * per,
        "storage.upload.busy_s": tracer.busy("storage.upload") * per,
        "storage.delete.calls": tracer.calls("storage.delete") * per,
        "storage.get.calls": tracer.calls("storage.get") * per,
        "storage.get.bytes": c["storage.get.bytes"] * per,
        "storage.get.busy_s": tracer.busy("storage.get") * per,
        "storage.get_bytes_per_delivered_byte": (
            c["storage.get.bytes"] / delivered if delivered else 0.0
        ),
        "manifest.encode.busy_s": tracer.busy("manifest.encode") * per,
        "manifest.decode.busy_s": tracer.busy("manifest.decode") * per,
    }


def _probe_cache(cache, tracer) -> None:
    """Count the chunk-cache lookups fetches make apart from those of the
    prefetch pool, and which prefetched chunks a fetch later used."""
    prefetched: set = set()
    lock = threading.Lock()
    get_chunk, prefetch = cache.get_chunk, cache.prefetch

    def probed_get_chunk(key, loader):
        in_pool = threading.current_thread().name.startswith("chunk-cache")
        loaded = []

        def probed_loader():
            loaded.append(True)
            if in_pool:
                with lock:
                    prefetched.add(key)
            return loader()

        value = get_chunk(key, probed_loader)
        if in_pool:
            tracer.count("prefetch.loads", len(loaded))
            return value
        tracer.count("chunk_cache.lookups")
        if loaded:
            tracer.count("chunk_cache.misses")
        else:
            tracer.count("chunk_cache.hits")
            with lock:
                if key in prefetched:
                    prefetched.discard(key)
                    tracer.count("prefetch.useful")
        return value

    def probed_prefetch(keys, loader_for):
        tracer.count("prefetch.submitted", len(keys))
        return prefetch(keys, loader_for)

    tracer.patch(cache, "get_chunk", probed_get_chunk)
    tracer.patch(cache, "prefetch", probed_prefetch)


def consumer_fetch(seed: int, seconds: float, tracer, work: str, t_start: float) -> RunResult:
    from tiered_storage_for_apache_kafka_spark.api import SegmentData
    from tiered_storage_for_apache_kafka_spark.fetch.cache import MemoryChunkCache
    from tiered_storage_for_apache_kafka_spark.storage.filesystem import FileSystemStorage

    segs = inputs.segment_pool(seed, STORE_SEGMENTS, SEGMENT_BYTES, RECORDS_PER_BATCH)
    keyring, _ = _keyring()
    root = os.path.join(work, "store")
    fs = FileSystemStorage(root)
    writer = _manager(fs, keyring)
    metas = []
    for i, seg in enumerate(segs):
        meta = _meta(f"seg-{i:08d}", seg.start_offset, seg.end_offset)
        writer.copy_log_segment_data(meta, SegmentData(seg.log, seg.indexes))
        metas.append(meta)

    if tracer.enabled:
        _install_layer_wrappers(tracer)
    backend = TimedStorage(fs, tracer) if tracer.enabled else fs
    cache = MemoryChunkCache(max_bytes=CACHE_BYTES, prefetch_max_bytes=PREFETCH_BYTES)
    if tracer.enabled:
        _probe_cache(cache, tracer)
    mgr = _manager(backend, keyring, cache=cache)
    try:
        return _consume(seed, seconds, tracer, t_start, segs, metas, mgr)
    finally:
        cache.close()


def _consume(seed, seconds, tracer, t_start, segs, metas, mgr) -> RunResult:
    from tiered_storage_for_apache_kafka_spark.sources.segment_source import (
        parse_offset_index,
    )

    rng = random.Random(seed * 31 + 7)
    tail = list(range(STORE_SEGMENTS - TAIL_SEGMENTS, STORE_SEGMENTS))
    readers = [
        [(k * CATCHUP_SEGMENTS) // CATCHUP_READERS + rng.randrange(4), 0]
        for k in range(CATCHUP_READERS)
    ]
    n_tail = int(FETCHES_PER_ROUND * TAIL_SHARE)
    lat = {"tail": [], "catchup": []}
    totals = {"bytes": 0, "fetches": 0}

    def fetch(seg_i: int, batch_i: int) -> tuple[int, bytes]:
        meta = metas[seg_i]
        with tracer.span("fetch_index"):
            index = mgr.fetch_index(meta, "offset")
        pos = parse_offset_index(index)[batch_i][1]
        with tracer.span("fetch_log_segment"):
            data = b"".join(mgr.fetch_log_segment(meta, pos, pos + FETCH_BYTES - 1))
        return pos, data

    def plan_round() -> list[tuple[str, int, int, int]]:
        """This round's fetches as (kind, segment, batch, byte position),
        with the catch-up readers advanced past what each fetch returns."""
        kinds = ["tail"] * n_tail + ["catchup"] * (FETCHES_PER_ROUND - n_tail)
        rng.shuffle(kinds)
        plan = []
        for i, kind in enumerate(kinds):
            if kind == "tail":
                seg_i = rng.choice(tail)
                batch_i = rng.randrange(len(segs[seg_i].batch_positions))
            else:
                reader = readers[i % CATCHUP_READERS]
                seg_i, batch_i = reader
            seg = segs[seg_i]
            starts = [p for _o, p in seg.batch_positions]
            pos = starts[batch_i]
            plan.append((kind, seg_i, batch_i, pos))
            if kind == "catchup":
                # go on from the first batch the fetch does not wholly hold
                end = min(pos + FETCH_BYTES, len(seg.log))
                if end == len(seg.log):
                    reader[0], reader[1] = (seg_i + 1) % CATCHUP_SEGMENTS, 0
                else:
                    k = bisect.bisect_left(starts, end)
                    whole = k if k < len(starts) and starts[k] == end else k - 1
                    reader[1] = max(whole, batch_i + 1)
        return plan

    def one_round(_r: int, record: bool) -> float:
        """Issue the round's fetches one after another; returns the time
        the client spent waiting on them. Between two fetches the client
        yields the interpreter lock, as a broker's request thread does
        while it waits for the next request; without that, whether the
        prefetch pool ran inside or between fetches flipped the median
        fetch time between runs (0.38 against 0.75 ms)."""
        plan = plan_round()
        got = []
        for kind, seg_i, batch_i, _pos in plan:
            tracer.op_id += 1
            t0 = time.perf_counter()
            got.append(fetch(seg_i, batch_i))
            got[-1] += ((time.perf_counter() - t0) * 1e3,)
            time.sleep(0)
        for (kind, seg_i, _b, want_pos), (pos, data, ms) in zip(plan, got):
            seg = segs[seg_i]
            checks.require(pos == want_pos, f"segment {seg_i}: index gave {pos}, not {want_pos}")
            checks.require(
                len(data) == min(FETCH_BYTES, len(seg.log) - pos),
                f"fetch of segment {seg_i} at {pos}: length {len(data)}",
            )
            checks.require(
                data == seg.log[pos : pos + len(data)],
                f"fetch of segment {seg_i} at {pos}: bytes differ",
            )
            if record:
                lat[kind].append(ms)
                totals["bytes"] += len(data)
                totals["fetches"] += 1
        return sum(ms for _p, _d, ms in got) / 1e3

    for r in range(FETCH_WARMUP_ROUNDS):
        one_round(r, False)
    tracer.reset()
    snap0 = mgr.metrics.snapshot()
    setup_s = time.perf_counter() - t_start
    rounds = measure_rounds(seconds, lambda r: one_round(r, True))
    tracer.restore()

    all_ms = lat["tail"] + lat["catchup"]
    detail = {
        "fetch_mb_s": totals["bytes"] / sum(rounds) / 1e6,
        "fetch_tail_ms_p50": checks.median(lat["tail"]),
        "fetch_catchup_ms_p50": checks.median(lat["catchup"]),
        "fetch_ms_p99": checks.percentile(all_ms, 99),
        "fetches": totals["fetches"],
    }
    layers = {}
    if tracer.enabled:
        c = tracer.counters
        n = len(rounds)
        layers = _byte_layers(tracer, n, delivered=totals["bytes"])
        lookups = c["chunk_cache.lookups"]
        layers.update(
            {
                "chunk_cache.hits": c["chunk_cache.hits"] / n,
                "chunk_cache.misses": c["chunk_cache.misses"] / n,
                "chunk_cache.hit_ratio": c["chunk_cache.hits"] / lookups if lookups else 0.0,
                "chunk_cache.loads_per_fetch": (
                    (c["chunk_cache.misses"] + c["prefetch.loads"]) / totals["fetches"]
                ),
                "prefetch.submitted": c["prefetch.submitted"] / n,
                "prefetch.useful_ratio": (
                    c["prefetch.useful"] / c["prefetch.submitted"]
                    if c["prefetch.submitted"]
                    else 0.0
                ),
                "fetch_index.busy_s": tracer.busy("fetch_index") / n,
            }
        )
        snap = mgr.metrics.snapshot()
        for cache_name in ("manifest_cache", "index_cache"):
            for name in (f"{cache_name}.hits", f"{cache_name}.misses"):
                layers[name] = (snap.get(name, 0) - snap0.get(name, 0)) / n
        layers.update({k: v for k, v in detail.items() if k != "fetches"})
    return RunResult(
        setup_s=setup_s,
        rounds=rounds,
        op_ms=all_ms,
        attempted=totals["fetches"],
        failed=0,
        detail=detail,
        layers=layers,
    )
