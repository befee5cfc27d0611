"""String-keyed configure() facade — parity with the reference's
``RemoteStorageManagerConfig`` (``core/.../config/RemoteStorageManager
Config.java:51-440`` and the cache config classes): the same config KEYS,
defaults, ranges, and validation messages, so a user of the reference
can carry their ``rsm.config.*`` properties over unchanged.

Supported keys (reference line references in parentheses):

- ``storage.backend.class`` (required, :58) — short name ``filesystem`` /
  ``s3`` / ``gcs`` / ``azure`` or a dotted ``module.Class`` path; all
  other ``storage.``-prefixed keys are passed to the backend constructor
  (``storage()`` at :411 does ``originalsWithPrefix(STORAGE_PREFIX)``).
- ``key.prefix`` ("" default, :61) / ``key.prefix.mask`` (false, :64).
- ``chunk.size`` (required int in [1, 2^30], :67,174).
- ``compression.enabled`` / ``compression.heuristic.enabled``
  (:72-78; heuristic requires compression — ``validateCompression``
  :399-404, message preserved).
- ``encryption.enabled`` + ``encryption.key.pair.id`` +
  ``encryption.key.pairs`` + per-id
  ``encryption.key.pairs.<id>.private.key.file`` /
  ``.public.key.file`` (EncryptionConfig :295-360; the active id must
  be listed — message preserved).
- ``upload.rate.limit.bytes.per.second`` (optional,
  [1 MiB, 1e9] — :240).
- ``fetch.chunk.cache.class`` (``memory`` / ``disk`` / ``none``),
  ``fetch.chunk.cache.size``, ``fetch.chunk.cache.retention.ms``
  (-1 = infinite, default 600000 — ``CacheConfig.java:31-41``),
  ``fetch.chunk.cache.prefetch.max.size`` (``ChunkCacheConfig:24-33``;
  the budget is in original, uncompressed bytes after the chunk just
  read, and chunks already cached or in flight are skipped —
  ``ChunkCache.java:159-184``),
  ``fetch.chunk.cache.path`` (disk variant,
  ``DiskChunkCacheConfig:30``).
- ``fetch.indexes.cache.size`` (10 MiB default,
  ``MemorySegmentIndexesCache.java:55``) /
  ``fetch.indexes.cache.retention.ms``.
- ``fetch.manifest.cache.size`` / ``fetch.manifest.cache.retention.ms``
  (1 h default — ``MemorySegmentManifestCache.java:51-52``).
- ``segment.format`` (``kafka`` | ``iceberg``, :51,139).
- ``custom.metadata.fields.include`` (list from
  ``SegmentCustomMetadataField.names()``: REMOTE_SIZE / OBJECT_PREFIX /
  OBJECT_KEY; default EMPTY like the reference — :85,229).
- ``structure.provider.class`` (``avro-registry``) +
  ``structure.provider.serde.schema.registry.url``
  (``AvroSchemaRegistryStructureProvider[Config].java`` — the
  serde.-prefixed Confluent client settings; :104-107).
- ``metrics.num.samples`` / ``metrics.sample.window.ms`` /
  ``metrics.recording.level`` (Kafka common metric configs, :95-101 —
  shape the windowed ``*-rate`` sensors).
- ``iceberg.namespace`` + ``iceberg.catalog.class`` (``rest``) +
  ``iceberg.catalog.uri`` + ``iceberg.catalog.cache.enabled`` /
  ``iceberg.catalog.cache.expiration.ms`` (600 000 default — :109-131;
  ``NamespaceAwareCachingCatalog.java`` wrapper).
"""

from __future__ import annotations

import importlib
from typing import Any

from tiered_storage_for_apache_kafka_spark.api import TieredStorageManager
from tiered_storage_for_apache_kafka_spark.fetch.cache import (
    DiskChunkCache,
    MemoryChunkCache,
)
from tiered_storage_for_apache_kafka_spark.fetch.index_cache import (
    MemorySegmentIndexesCache,
)


class ConfigException(ValueError):
    """Invalid configuration (the reference's ConfigException analog)."""


_BACKENDS = {
    "filesystem": (
        "tiered_storage_for_apache_kafka_spark.storage.filesystem",
        "FileSystemStorage",
    ),
    "s3": ("tiered_storage_for_apache_kafka_spark.storage.s3", "S3Storage"),
    "gcs": (
        "tiered_storage_for_apache_kafka_spark.storage.gcs_azure",
        "GcsStorage",
    ),
    "azure": (
        "tiered_storage_for_apache_kafka_spark.storage.gcs_azure",
        "AzureBlobStorage",
    ),
}


def _get_bool(configs: dict, key: str, default: bool) -> bool:
    v = configs.get(key, default)
    if isinstance(v, bool):
        return v
    if isinstance(v, str):
        if v.lower() in ("true", "1"):
            return True
        if v.lower() in ("false", "0"):
            return False
    raise ConfigException(f"{key} must be a boolean, got {v!r}")


def _get_int(
    configs: dict,
    key: str,
    default: int | None = None,
    lo: int | None = None,
    hi: int | None = None,
    required: bool = False,
) -> int | None:
    if key not in configs:
        if required:
            raise ConfigException(f"missing required configuration {key!r}")
        v = default
    else:
        try:
            v = int(configs[key])
        except (TypeError, ValueError):
            raise ConfigException(f"{key} must be an integer") from None
    if v is None:
        return None
    if lo is not None and v < lo:
        raise ConfigException(f"{key} must be at least {lo}, got {v}")
    if hi is not None and v > hi:
        raise ConfigException(f"{key} must be at most {hi}, got {v}")
    return v


# reference backend config keys (each backend's *StorageConfig.java) ->
# this engine's constructor kwargs; int-typed kwargs are converted
_BACKEND_KEY_MAPS: dict[str, dict[str, str]] = {
    "filesystem": {  # FileSystemStorageConfig.java:27-30
        "root": "root",
        "overwrite.enabled": "overwrite_enabled",
    },
    "s3": {  # S3StorageConfig.java:46-77
        "s3.bucket.name": "bucket",
        "s3.endpoint.url": "endpoint_url",
        "s3.region": "region",
        "s3.multipart.upload.part.size": "part_size",
        "proxy": "proxy",
    },
    "gcs": {  # GcsStorageConfig.java:32-39
        "gcs.bucket.name": "bucket",
        "gcs.resumable.upload.chunk.size": "resumable_chunk",
        "proxy": "proxy",
    },
    "azure": {  # AzureBlobStorageConfig.java:41-51
        "azure.container.name": "container",
        "azure.upload.block.size": "block_size",
        "proxy": "proxy",
    },
}
_BACKEND_INT_KWARGS = {"part_size", "resumable_chunk", "block_size"}
_BOOL_KWARGS = {"overwrite_enabled"}


def _prefixed(configs: dict, prefix: str) -> dict[str, Any]:
    return {
        k[len(prefix):]: v for k, v in configs.items() if k.startswith(prefix)
    }


def _build_backend(configs: dict):
    cls_name = configs.get("storage.backend.class")
    if not cls_name:
        raise ConfigException(
            "missing required configuration 'storage.backend.class'"
        )
    raw = _prefixed(configs, "storage.")
    raw.pop("backend.class", None)
    if cls_name in _BACKENDS:
        module, attr = _BACKENDS[cls_name]
        key_map = _BACKEND_KEY_MAPS[cls_name]
        kwargs: dict[str, Any] = {}
        for k, v in raw.items():
            # accept the reference's documented key OR our native
            # snake_case kwarg name directly
            kw = key_map.get(k, k.replace(".", "_"))
            if kw in _BACKEND_INT_KWARGS:
                v = int(v)
            elif kw in _BOOL_KWARGS and isinstance(v, str):
                v = v.lower() in ("true", "1")
            kwargs[kw] = v
    else:
        module, _, attr = str(cls_name).rpartition(".")
        if not module:
            raise ConfigException(
                f"unknown storage backend {cls_name!r} "
                f"(short names: {sorted(_BACKENDS)})"
            )
        kwargs = {k.replace(".", "_"): v for k, v in raw.items()}
    cls = getattr(importlib.import_module(module), attr)
    try:
        return cls(**kwargs)
    except TypeError as e:
        raise ConfigException(
            f"invalid storage.* configuration for {cls_name!r}: {e}"
        ) from None


def _build_keyring(configs: dict):
    from tiered_storage_for_apache_kafka_spark.transform.encryption import (
        RsaKeyring,
    )

    if not _get_bool(configs, "encryption.enabled", False):
        return None
    active = configs.get("encryption.key.pair.id")
    if not active:
        raise ConfigException(
            "missing required configuration 'encryption.key.pair.id'"
        )
    raw_ids = configs.get("encryption.key.pairs")
    if raw_ids is None:
        raise ConfigException(
            "missing required configuration 'encryption.key.pairs'"
        )
    ids = (
        [i.strip() for i in raw_ids.split(",") if i.strip()]
        if isinstance(raw_ids, str)
        else list(raw_ids)
    )
    if active not in ids:
        # message preserved from EncryptionConfig.create (:344-347)
        raise ConfigException(f"Encryption key '{active}' must be provided")
    from cryptography.hazmat.primitives.serialization import (
        load_pem_private_key,
    )

    keys = {}
    for kid in ids:
        path_key = f"encryption.key.pairs.{kid}.private.key.file"
        path = configs.get(path_key)
        if not path:
            raise ConfigException(f"missing required configuration {path_key!r}")
        with open(path, "rb") as f:
            keys[kid] = load_pem_private_key(f.read(), password=None)
    return RsaKeyring(active, keys)


def _retention(configs: dict, key: str, default_ms: int) -> float | None:
    # reference CacheConfig: Range.between(-1, MAX); -1 = infinite
    ms = _get_int(configs, key, default=default_ms, lo=-1)
    return None if ms == -1 else ms / 1000.0


_UNBOUNDED = 1 << 62  # effectively-infinite byte/entry budget


def _cache_size(configs: dict, key: str, default: int) -> int:
    # reference CacheConfig: Range.between(-1, MAX); "-1" = unbounded
    v = _get_int(configs, key, default=default, lo=-1)
    if v == 0:
        raise ConfigException(f"{key} must be -1 (unbounded) or positive")
    return _UNBOUNDED if v == -1 else v


def _build_chunk_cache(configs: dict):
    kind = str(configs.get("fetch.chunk.cache.class", "none")).lower()
    if kind in ("none", ""):
        return None
    retention = _retention(configs, "fetch.chunk.cache.retention.ms", 600_000)
    prefetch = _get_int(
        configs, "fetch.chunk.cache.prefetch.max.size", default=0, lo=0
    )
    if kind in ("memory", "memorychunkcache"):
        return MemoryChunkCache(
            max_bytes=_cache_size(
                configs, "fetch.chunk.cache.size", 128 * 1024 * 1024
            ),
            prefetch_max_bytes=prefetch,
            retention_seconds=retention,
        )
    if kind in ("disk", "diskchunkcache"):
        path = configs.get("fetch.chunk.cache.path")
        if not path:
            raise ConfigException(
                "missing required configuration 'fetch.chunk.cache.path'"
            )
        return DiskChunkCache(
            path,
            max_bytes=_cache_size(
                configs, "fetch.chunk.cache.size", 16 * 1024 * 1024 * 1024
            ),
            prefetch_max_bytes=prefetch,
            retention_seconds=retention,
        )
    raise ConfigException(
        f"fetch.chunk.cache.class must be 'memory', 'disk' or 'none', "
        f"got {kind!r}"
    )


def configure(configs: dict) -> TieredStorageManager:
    """Build a fully-wired ``TieredStorageManager`` from reference-keyed
    string configs — the KIP-405 ``configure(Map<String, ?>)`` entry
    point. ALL validation runs before any construction (the reference
    validates the whole AbstractConfig before ``storage()`` builds
    anything), so a rejected config performs no side effects — no
    directories created, no SDK clients built."""
    # ---- validation pass (no side effects) -------------------------------
    compression = _get_bool(configs, "compression.enabled", False)
    heuristic = _get_bool(configs, "compression.heuristic.enabled", False)
    if heuristic and not compression:
        # validateCompression (:399-404), message preserved
        raise ConfigException(
            "compression.enabled must be enabled if "
            "compression.heuristic.enabled is"
        )
    # reference range: between(1, Integer.MAX_VALUE / 2) = [1, 2^30 - 1]
    chunk_size = _get_int(
        configs, "chunk.size", lo=1, hi=(1 << 30) - 1, required=True
    )
    rate = _get_int(
        configs, "upload.rate.limit.bytes.per.second",
        default=None, lo=1024 * 1024, hi=1_000_000_000,
    )
    segment_format = str(configs.get("segment.format", "kafka")).lower()
    if segment_format not in ("kafka", "iceberg"):
        raise ConfigException(
            f"segment.format must be 'kafka' or 'iceberg', got {segment_format!r}"
        )
    raw_fields = configs.get("custom.metadata.fields.include", "")
    fields = (
        [f.strip() for f in raw_fields.split(",") if f.strip()]
        if isinstance(raw_fields, str)
        else list(raw_fields)
    )
    bad_fields = set(fields) - {"REMOTE_SIZE", "OBJECT_PREFIX", "OBJECT_KEY"}
    if bad_fields:
        raise ConfigException(
            "custom.metadata.fields.include allows "
            f"[REMOTE_SIZE, OBJECT_PREFIX, OBJECT_KEY]; got {sorted(bad_fields)}"
        )
    cache_kind = str(configs.get("fetch.chunk.cache.class", "none")).lower()
    if cache_kind not in (
        "none", "", "memory", "memorychunkcache", "disk", "diskchunkcache",
    ):
        raise ConfigException(
            f"fetch.chunk.cache.class must be 'memory', 'disk' or 'none', "
            f"got {cache_kind!r}"
        )
    if cache_kind in ("disk", "diskchunkcache") and not configs.get(
        "fetch.chunk.cache.path"
    ):
        raise ConfigException(
            "missing required configuration 'fetch.chunk.cache.path'"
        )
    manifest_retention = _retention(
        configs, "fetch.manifest.cache.retention.ms", 3_600_000
    )
    # reference default: MemorySegmentManifestCache.java:51 (1000 entries)
    manifest_cache_size = _cache_size(
        configs, "fetch.manifest.cache.size", 1000
    )
    indexes_cache_size = _cache_size(
        configs, "fetch.indexes.cache.size", 10 * 1024 * 1024
    )
    indexes_retention = _retention(
        configs, "fetch.indexes.cache.retention.ms", 600_000
    )
    key_prefix_mask = _get_bool(configs, "key.prefix.mask", False)
    # Kafka common metric configs (RemoteStorageManagerConfig.java:95-101,
    # 205-220): sampled-rate shape + recording level
    metrics_num_samples = _get_int(configs, "metrics.num.samples", default=2, lo=1)
    metrics_window_ms = _get_int(
        configs, "metrics.sample.window.ms", default=30_000, lo=1
    )
    metrics_level = str(configs.get("metrics.recording.level", "INFO"))
    if metrics_level not in ("INFO", "DEBUG", "TRACE"):
        raise ConfigException(
            "metrics.recording.level must be one of INFO, DEBUG, TRACE, "
            f"got {metrics_level!r}"
        )
    iceberg_catalog_cls = configs.get("iceberg.catalog.class")
    if iceberg_catalog_cls is not None and str(iceberg_catalog_cls) not in (
        "rest", "RestCatalogClient",
    ):
        raise ConfigException(
            "iceberg.catalog.class supports 'rest' "
            f"(the Iceberg REST catalog protocol), got {iceberg_catalog_cls!r}"
        )
    if iceberg_catalog_cls is not None and not configs.get("iceberg.catalog.uri"):
        raise ConfigException(
            "missing required configuration 'iceberg.catalog.uri'"
        )
    catalog_cache_enabled = _get_bool(
        configs, "iceberg.catalog.cache.enabled", True
    )
    catalog_cache_expiration = _get_int(
        configs, "iceberg.catalog.cache.expiration.ms", default=600_000, lo=-1
    )
    structure_provider_cls = configs.get("structure.provider.class")
    if structure_provider_cls is not None and str(structure_provider_cls) not in (
        "avro-registry", "AvroSchemaRegistryStructureProvider",
    ):
        raise ConfigException(
            "structure.provider.class supports 'avro-registry', got "
            f"{structure_provider_cls!r}"
        )
    if structure_provider_cls is not None and not configs.get(
        "structure.provider.serde.schema.registry.url"
    ):
        raise ConfigException(
            "missing required configuration "
            "'structure.provider.serde.schema.registry.url'"
        )
    # (chunk cache numerics are validated inside _build_chunk_cache via
    # the same _cache_size/_retention helpers; its class/path cross-key
    # requirements were checked above)

    # ---- construction pass ----------------------------------------------
    from tiered_storage_for_apache_kafka_spark.metrics import Metrics

    manager = TieredStorageManager(
        metrics=Metrics(
            num_samples=metrics_num_samples,
            sample_window_seconds=metrics_window_ms / 1000.0,
            recording_level=metrics_level,
        ),
        backend=_build_backend(configs),
        chunk_size=chunk_size,
        compression_enabled=compression,
        compression_heuristic_enabled=heuristic,
        encryption_keyring=_build_keyring(configs),
        cache=_build_chunk_cache(configs),
        key_prefix=str(configs.get("key.prefix", "")),
        key_prefix_mask=key_prefix_mask,
        upload_rate_limit_bytes_per_second=rate,
        manifest_retention_seconds=manifest_retention,
        custom_metadata_fields=fields,
        index_cache=MemorySegmentIndexesCache(
            max_bytes=indexes_cache_size,
            retention_seconds=indexes_retention,
        ),
    )
    manager._manifest_cache_size = manifest_cache_size
    # iceberg catalog-service plumbing (RemoteStorageManagerConfig:109-131):
    # a REST catalog client, optionally behind the caching wrapper
    manager.iceberg_catalog = None
    if iceberg_catalog_cls is not None:
        from tiered_storage_for_apache_kafka_spark.sources.rest_catalog import (
            CachingCatalog,
            RestCatalogClient,
        )

        client = RestCatalogClient(
            str(configs["iceberg.catalog.uri"]),
            namespace=str(configs.get("iceberg.namespace", "default")),
        )
        if catalog_cache_enabled and catalog_cache_expiration != 0:
            # -1 = never expire (the surface-wide '-1 = infinite'
            # convention); 0 = caching off
            client = CachingCatalog(
                client,
                expiration_seconds=(
                    -1 if catalog_cache_expiration == -1
                    else catalog_cache_expiration / 1000.0
                ),
            )
        manager.iceberg_catalog = client
    # structure provider (iceberg/AvroSchemaRegistryStructureProvider
    # .java:33-92 + its Config: serde.-prefixed Confluent settings —
    # serde.schema.registry.url is the one the decode path needs)
    manager.structure_provider = None
    if structure_provider_cls is not None:
        from tiered_storage_for_apache_kafka_spark.avro import (
            HttpSchemaRegistry,
        )

        manager.structure_provider = HttpSchemaRegistry(
            str(configs["structure.provider.serde.schema.registry.url"])
        )
    # "kafka" = byte-fidelity engine (this manager); "iceberg" = the
    # table-mode plane — recorded so a dual-engine dispatcher
    # (`selector.DualEngineFetcher`) knows the PRIMARY format
    manager.segment_format = segment_format
    return manager
