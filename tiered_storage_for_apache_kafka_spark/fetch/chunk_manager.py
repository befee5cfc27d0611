"""Chunk manager: the cold fetch path + cache + prefetch orchestration.

Parity: ``fetch/DefaultChunkManager.java:50-70`` (ranged GET of one
transformed chunk, then detransform) and ``fetch/FetchChunkEnumeration.
java:54-176`` (plan chunks for a range, lazily pull each, trim the first/
last chunk to the requested bounds).
"""

from __future__ import annotations

import time
from typing import Iterator


class FetchTimeoutError(TimeoutError):
    """Fetch exceeded its deadline.

    Deliberate divergence from the reference, which silently returns an
    empty stream when the broker's 500 ms `remote.fetch.max.wait.ms`
    deadline interrupts it (`KafkaRemoteStorageManager.java:470-484`) —
    SURVEY.md §7.4.4 calls for surfacing timeouts explicitly instead."""

from tiered_storage_for_apache_kafka_spark.fetch.cache import ChunkCache
from tiered_storage_for_apache_kafka_spark.manifest.manifest import SegmentManifest
from tiered_storage_for_apache_kafka_spark.storage.backend import (
    BytesRange,
    StorageBackend,
)
from tiered_storage_for_apache_kafka_spark.transform.encryption import DataKeyAndAAD
from tiered_storage_for_apache_kafka_spark.transform.pipeline import detransform


class ChunkManager:
    def __init__(
        self,
        backend: StorageBackend,
        cache: ChunkCache | None = None,
        codec: str = "zlib",
        display_key=None,
    ):
        self.backend = backend
        self.cache = cache
        self.codec = codec
        # how object keys render in error messages (key.prefix.mask)
        self.display_key = display_key or (lambda k: k)

    def _load_chunk(
        self,
        object_key: str,
        manifest: SegmentManifest,
        chunk_id: int,
        key: DataKeyAndAAD | None,
    ) -> bytes:
        """Ranged GET of one transformed chunk, then detransform."""
        chunk = manifest.chunk_index.chunk(chunk_id)
        with self.backend.fetch(object_key, chunk.transformed_range) as f:
            raw = f.read()
        return b"".join(
            detransform(
                raw,
                manifest.chunk_index,
                compression=manifest.compression,
                encryption_key=key,
                codec=self.codec,
                chunk_ids=[chunk_id],
            )
        )

    def get_chunk(
        self,
        object_key: str,
        manifest: SegmentManifest,
        chunk_id: int,
        key: DataKeyAndAAD | None = None,
    ) -> bytes:
        """One detransformed chunk, through the cache when configured.

        The cache stores *detransformed* bytes (like the reference's chunk
        cache, which caches the de-transform output so repeated fetches
        skip decrypt+decompress)."""
        if self.cache is None:
            return self._load_chunk(object_key, manifest, chunk_id, key)
        value = self.cache.get_chunk(
            (object_key, chunk_id),
            lambda: self._load_chunk(object_key, manifest, chunk_id, key),
        )
        self._maybe_prefetch(object_key, manifest, chunk_id, key)
        return value

    def _maybe_prefetch(
        self,
        object_key: str,
        manifest: SegmentManifest,
        chunk_id: int,
        key: DataKeyAndAAD | None,
    ) -> None:
        """Offer the cache the chunks that cover the next
        ``prefetch_max_bytes`` *original* bytes after ``chunk_id``, up to
        the segment end (ChunkCache.java:159-184 plans the same range over
        original positions)."""
        if self.cache is None or self.cache.prefetch_max_bytes <= 0:
            return
        index = manifest.chunk_index
        budget = self.cache.prefetch_max_bytes
        upcoming = []
        i = chunk_id + 1
        while i < index.count and budget > 0:
            budget -= index.original_size(i)
            upcoming.append((object_key, i))
            i += 1
        self.cache.prefetch(
            upcoming,
            lambda k: lambda: self._load_chunk(object_key, manifest, k[1], key),
        )

    def fetch_range(
        self,
        object_key: str,
        manifest: SegmentManifest,
        byte_range: BytesRange,
        key: DataKeyAndAAD | None = None,
        deadline_seconds: float | None = None,
    ) -> Iterator[bytes]:
        """Stream the original bytes of an inclusive range: plan chunks,
        pull each lazily, trim first/last (FetchChunkEnumeration.java:
        100-138). End is clamped to the segment's last byte. A deadline
        (R12 analog of the broker's remote.fetch.max.wait.ms) raises
        FetchTimeoutError between chunks instead of silently truncating."""
        started = time.monotonic()
        index = manifest.chunk_index
        end = min(byte_range.to_pos, index.original_file_size - 1)
        chunks = index.chunks_for_range(BytesRange(byte_range.from_pos, end))
        for chunk in chunks:
            if (
                deadline_seconds is not None
                and time.monotonic() - started > deadline_seconds
            ):
                raise FetchTimeoutError(
                    f"fetch of {self.display_key(object_key)} exceeded "
                    f"{deadline_seconds}s (at chunk {chunk.id}/{chunks[-1].id})"
                )
            data = self.get_chunk(object_key, manifest, chunk.id, key)
            lo = 0
            hi = len(data)
            if chunk.original_position < byte_range.from_pos:
                lo = byte_range.from_pos - chunk.original_position
            chunk_end = chunk.original_position + chunk.original_size - 1
            if chunk_end > end:
                hi = end - chunk.original_position + 1
            yield data[lo:hi]
