"""Chunk caches: memory and disk, byte-weighted LRU with single-flight.

Parity: ``fetch/cache/ChunkCache.java:49-185`` (async Caffeine cache,
weight = bytes, `compute()` dedups concurrent loads), `MemoryChunkCache`,
`DiskChunkCache` (temp file + atomic move). Python rendition: an LRU
OrderedDict under a lock, with per-key in-flight futures so concurrent
readers of the same chunk trigger exactly one load — the single-flight
behavior the reference gets from Caffeine's `compute`.

On a Spark cluster each executor owns one cache instance (process-local,
like the reference's per-broker cache); the disk variant targets the
executor's local SSD scratch dir.
"""

from __future__ import annotations

import os
import tempfile
import threading
from collections import OrderedDict
from concurrent.futures import Future, ThreadPoolExecutor
from pathlib import Path
from typing import Callable

ChunkKey = tuple[str, int]  # (object key/segment file name, chunk id) — ChunkKey.java:22-31


class ChunkCache:
    """Base: LRU by total byte weight + single-flight loads + optional
    sequential prefetch (ChunkCache.java:159-184)."""

    def __init__(
        self,
        max_bytes: int,
        prefetch_max_bytes: int = 0,
        workers: int = 4,
        wait_timeout: float | None = None,
        retention_seconds: float | None = 600.0,
        clock: Callable[[], float] | None = None,
    ):
        import time

        self.max_bytes = max_bytes
        self.prefetch_max_bytes = prefetch_max_bytes
        # Time-based retention mirroring the reference's Caffeine
        # `expireAfterAccess(retention.ms)` (`config/CacheConfig.java:31`,
        # wired in `fetch/cache/ChunkCache.java:147`): default 600 s for
        # chunk caches, None = infinite (the reference's "-1"). The
        # timestamp refreshes on every hit (expire-after-ACCESS, not
        # after-write). `clock` is injectable so expiry tests need no
        # sleeps.
        self.retention_seconds = retention_seconds
        self._clock = clock or time.monotonic
        # How long a single-flight waiter blocks on the owning load; None
        # (default) = as long as the load itself takes — the reference's
        # Caffeine compute has no waiter cap, and a hard cap would fail
        # concurrent readers of a chunk whose cold load is legitimately
        # slow (large chunk over a slow object store).
        self.wait_timeout = wait_timeout
        self._lock = threading.Lock()
        self._inflight: dict[ChunkKey, Future] = {}
        self._pool = ThreadPoolExecutor(max_workers=workers, thread_name_prefix="chunk-cache")
        self.hits = 0
        self.misses = 0
        # optional engine-metrics sink (reference: CaffeineStatsCounter
        # bridges cache stats into the metric groups, `metrics/
        # CaffeineStatsCounter.java`); wired by TieredStorageManager
        self.metrics = None
        # metric-name namespace: the reference registers one stats group
        # per cache (`chunk-cache-metrics` vs `segment-indexes-cache-
        # metrics`, MemorySegmentIndexesCache.java:53); subclasses
        # override so hit/miss counters stay distinguishable.
        self.metric_prefix = "chunk_cache"

    # storage primitives (subclass) -------------------------------------------
    def _get(self, key: ChunkKey) -> bytes | None:
        raise NotImplementedError

    def _put(self, key: ChunkKey, value: bytes) -> None:
        raise NotImplementedError

    def _has(self, key: ChunkKey) -> bool:
        """Whether ``key`` holds a live entry, with no side effect: no LRU
        refresh, no disk I/O, and an entry past retention counts as
        absent."""
        raise NotImplementedError

    def _expired(self, ts: float) -> bool:
        return (
            self.retention_seconds is not None
            and self._clock() - ts > self.retention_seconds
        )

    # public ------------------------------------------------------------------
    def get_chunk(self, key: ChunkKey, loader: Callable[[], bytes]) -> bytes:
        with self._lock:
            cached = self._get(key)
            if cached is not None:
                self.hits += 1
                if self.metrics is not None:
                    self.metrics.inc(f"{self.metric_prefix}.hits")
                return cached
            fut = self._inflight.get(key)
            if fut is None:
                self.misses += 1
                if self.metrics is not None:
                    self.metrics.inc(f"{self.metric_prefix}.misses")
                fut = Future()
                self._inflight[key] = fut
                owner = True
            else:
                owner = False
        if not owner:
            return fut.result(timeout=self.wait_timeout)
        try:
            value = loader()
        except BaseException as e:
            with self._lock:
                # only OUR registration: after an invalidation popped
                # this future, a successor owner may have registered a
                # fresh one — popping that would orphan its caching
                if self._inflight.get(key) is fut:
                    self._inflight.pop(key)
            fut.set_exception(e)
            raise
        with self._lock:
            if self._inflight.get(key) is fut:
                self._put(key, value)
                self._inflight.pop(key, None)
            # else: the object was invalidated mid-load (segment delete
            # raced this fetch) — deliver to waiters but do NOT cache,
            # or a deleted segment's bytes would reappear post-delete
        fut.set_result(value)
        return value

    def prefetch(self, keys: list[ChunkKey], loader_for: Callable[[ChunkKey], Callable[[], bytes]]) -> None:
        """Async-warm upcoming chunks (ignores failures).

        ``keys`` are the chunks covering the prefetch budget, counted in
        original (uncompressed) bytes after the chunk just read. Keys that
        are already cached or already loading are skipped, so only missing
        chunks cost a pool task — the reference's `computeIfAbsent`
        (ChunkCache.java:159-184)."""
        with self._lock:
            missing = [
                k for k in keys if k not in self._inflight and not self._has(k)
            ]
        for key in missing:
            def _load(k: ChunkKey = key) -> None:
                try:
                    self.get_chunk(k, loader_for(k))
                except Exception:
                    pass
            self._pool.submit(_load)

    def invalidate_object(self, obj: str) -> int:
        """Drop every cached entry whose key's first component equals
        ``obj`` (all chunks of a segment / all aux indexes of a segment).
        Called from ``delete_log_segment_data`` so deleted segments don't
        serve stale bytes. Returns the number of entries removed."""
        with self._lock:
            victims = [k for k in self._keys() if k[0] == obj]
            for k in victims:
                self._remove(k)
            # drop in-flight loads for the object too: their owners then
            # skip the _put (see get_chunk), so a load racing the delete
            # cannot re-insert bytes after this invalidation
            for k in [k for k in self._inflight if k[0] == obj]:
                self._inflight.pop(k)
        return len(victims)

    # subclass storage primitives for invalidation ----------------------------
    def _keys(self) -> list[ChunkKey]:
        raise NotImplementedError

    def _remove(self, key: ChunkKey) -> None:
        raise NotImplementedError

    def close(self) -> None:
        self._pool.shutdown(wait=False, cancel_futures=True)


class MemoryChunkCache(ChunkCache):
    def __init__(
        self,
        max_bytes: int = 128 * 1024 * 1024,
        prefetch_max_bytes: int = 0,
        retention_seconds: float | None = 600.0,
        clock: Callable[[], float] | None = None,
    ):
        super().__init__(
            max_bytes,
            prefetch_max_bytes,
            retention_seconds=retention_seconds,
            clock=clock,
        )
        self._data: OrderedDict[ChunkKey, tuple[bytes, float]] = OrderedDict()
        self._weight = 0

    def _get(self, key: ChunkKey) -> bytes | None:
        entry = self._data.get(key)
        if entry is None:
            return None
        value, ts = entry
        if self._expired(ts):
            del self._data[key]
            self._weight -= len(value)
            return None
        self._data[key] = (value, self._clock())  # refresh: expireAfterAccess
        self._data.move_to_end(key)
        return value

    def _has(self, key: ChunkKey) -> bool:
        entry = self._data.get(key)
        return entry is not None and not self._expired(entry[1])

    def _put(self, key: ChunkKey, value: bytes) -> None:
        old = self._data.pop(key, None)
        if old is not None:
            self._weight -= len(old[0])
        self._data[key] = (value, self._clock())
        self._weight += len(value)
        while self._weight > self.max_bytes and len(self._data) > 1:
            _, (evicted, _ts) = self._data.popitem(last=False)
            self._weight -= len(evicted)

    def _keys(self) -> list[ChunkKey]:
        return list(self._data.keys())

    def _remove(self, key: ChunkKey) -> None:
        entry = self._data.pop(key, None)
        if entry is not None:
            self._weight -= len(entry[0])


class DiskChunkCache(ChunkCache):
    """Disk-backed cache: one file per chunk under
    ``root/<sanitized object key>/<chunk id>``, written to a temp file
    then atomically moved (DiskChunkCache.java:70-87)."""

    def __init__(
        self,
        root: str | Path,
        max_bytes: int = 16 * 1024 * 1024 * 1024,
        prefetch_max_bytes: int = 0,
        retention_seconds: float | None = 600.0,
        clock: Callable[[], float] | None = None,
    ):
        super().__init__(
            max_bytes,
            prefetch_max_bytes,
            retention_seconds=retention_seconds,
            clock=clock,
        )
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        # key -> (size, last-access ts)
        self._index: OrderedDict[ChunkKey, tuple[int, float]] = OrderedDict()
        self._weight = 0

    def _file(self, key: ChunkKey) -> Path:
        obj, chunk_id = key
        return self.root / obj.replace("/", "%2F") / str(chunk_id)

    def _get(self, key: ChunkKey) -> bytes | None:
        entry = self._index.get(key)
        if entry is None:
            return None
        size, ts = entry
        if self._expired(ts):
            self._weight -= size
            del self._index[key]
            try:
                self._file(key).unlink()
            except FileNotFoundError:
                pass
            return None
        try:
            data = self._file(key).read_bytes()
        except FileNotFoundError:
            self._weight -= self._index.pop(key)[0]
            return None
        self._index[key] = (size, self._clock())  # refresh: expireAfterAccess
        self._index.move_to_end(key)
        return data

    def _has(self, key: ChunkKey) -> bool:
        entry = self._index.get(key)
        return entry is not None and not self._expired(entry[1])

    def _put(self, key: ChunkKey, value: bytes) -> None:
        path = self._file(key)
        path.parent.mkdir(parents=True, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=path.parent, prefix=".tmp-")
        with os.fdopen(fd, "wb") as f:
            f.write(value)
        os.replace(tmp, path)
        if key in self._index:
            self._weight -= self._index.pop(key)[0]
        self._index[key] = (len(value), self._clock())
        self._weight += len(value)
        while self._weight > self.max_bytes and len(self._index) > 1:
            old_key, (size, _ts) = self._index.popitem(last=False)
            self._weight -= size
            try:
                self._file(old_key).unlink()
            except FileNotFoundError:
                pass

    def _keys(self) -> list[ChunkKey]:
        return list(self._index.keys())

    def _remove(self, key: ChunkKey) -> None:
        entry = self._index.pop(key, None)
        if entry is not None:
            self._weight -= entry[0]
            try:
                self._file(key).unlink()
            except FileNotFoundError:
                pass
