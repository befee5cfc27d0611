"""Minimal Apache Iceberg v2 metadata writer for the table-mode output.

Parity target: the reference's Iceberg mode commits segment data through
a real Iceberg catalog (`core/src/main/java/io/aiven/kafka/tieredstorage/
iceberg/IcebergTableManager.java:46-95` — table create + appendFiles
transaction; `iceberg/manifest/SegmentManifestWriter.java:35-112` —
per-segment data-file bookkeeping). This engine's transaction plane is
Spark parquet plus a parquet manifest log (`streaming/ingest.py`); this
module closes the interop gap by ALSO emitting spec-compliant Iceberg v2
table metadata over the same data files, so an external Iceberg reader
(Trino/Flink/Spark's iceberg catalog) can open the table:

- ``metadata/v{N}.metadata.json`` — TableMetadata (format-version 2),
- ``metadata/snap-*.avro``        — the snapshot's manifest list,
- ``metadata/*-m0.avro``          — a manifest of data-file entries,
- ``metadata/version-hint.text``  — HadoopCatalog-style version pointer.

The Avro files are written with the repo's pure-Python Avro codec
(`avro.py`, Apache Avro spec) wrapped in a standard Object Container
File, with the Iceberg field-id annotations (``field-id`` /
``element-id``) external readers require. Everything here is public
knowledge: the Iceberg table spec (https://iceberg.apache.org/spec/)
and the Avro 1.x container format.

Scale note: metadata commits are inherently driver-side (one snapshot
per commit, O(files) manifest entries — exactly the Java library's
cost); the data plane stays fully distributed. At 100 TB the manifest
would be split per partition-spec bucket; a single manifest per commit
is the spec-minimal baseline and external readers accept it.
"""

from __future__ import annotations

from tiered_storage_for_apache_kafka_spark.sources.iceberg.ocf import (  # noqa: F401
    FORMAT_VERSION,
    _OCF_MAGIC,
    _OCF_META_SCHEMA,
    read_avro_ocf,
    write_avro_ocf,
)

from tiered_storage_for_apache_kafka_spark.sources.iceberg.schema import (  # noqa: F401
    _PRIMITIVES,
    _strip_ids,
    evolve_iceberg_schema,
    iceberg_schema_to_spark,
    spark_schema_to_iceberg,
    spark_schema_to_iceberg_type,
)

from tiered_storage_for_apache_kafka_spark.sources.iceberg.state import (  # noqa: F401
    _advance_main,
    _current_schema_struct,
    _current_state_meta,
    _default_table_name,
    _load_current_metadata,
    _load_prior_state,
    _maintenance_requirements,
    _maintenance_state,
    _parse_current_manifests,
    _prev_summary_counter,
    _prev_total_pos_deletes,
    _prev_total_records,
    _write_metadata_version,
    read_table_metadata,
)

from tiered_storage_for_apache_kafka_spark.sources.iceberg.manifests import (  # noqa: F401
    MANIFEST_FILE_SCHEMA,
    _STATS_KEYS,
    _base_path_groups,
    _bounds_pack,
    _column_stats_fields,
    _discover_data_files,
    _field_id,
    _fold_column_stats,
    _int_kv_map_schema,
    _is_rewrite_output,
    _leaf_field_ids,
    _partition_struct_schema,
    _read_planned_files,
    _stat_data_files,
    _stat_one_file,
    _tombstone_gc_safe,
    manifest_entry_schema,
    partition_field_summaries,
    spec_name_ids,
    spec_names,
)

from tiered_storage_for_apache_kafka_spark.sources.iceberg.commit import (  # noqa: F401
    _commit_append_once,
    _commit_requirements,
    _schema_updates,
    commit_append,
    update_partition_spec,
    update_table_schema,
)

from tiered_storage_for_apache_kafka_spark.sources.iceberg.update import (  # noqa: F401
    replace_partitions,
    update_where,
)

from tiered_storage_for_apache_kafka_spark.sources.iceberg.writer import (  # noqa: F401
    write_iceberg_table,
)

from tiered_storage_for_apache_kafka_spark.sources.iceberg.deletes import (  # noqa: F401
    _commit_deletes_once,
    _finish_delete_commit,
    commit_equality_deletes,
    commit_position_deletes,
    convert_equality_deletes,
    rewrite_position_deletes,
    write_equality_deletes,
    write_position_deletes,
)

from tiered_storage_for_apache_kafka_spark.sources.iceberg.merge import (  # noqa: F401
    merge_upsert,
)

from tiered_storage_for_apache_kafka_spark.sources.iceberg.scan import (  # noqa: F401
    _NORM_FILE_RE,
    _bounds_overlap,
    _empty_table_df,
    _plan_from_meta,
    _plan_snapshot,
    _read_plan_with_identity,
    _read_snapshot,
    _resolve_bounds,
    plan_scan,
    read_iceberg_table,
    read_iceberg_table_at,
    read_iceberg_table_ref,
    snapshot_as_of_timestamp,
)

from tiered_storage_for_apache_kafka_spark.sources.iceberg.incremental import (  # noqa: F401
    changelog_safe_windows,
    _data_rewrite_snapshot_ids,
    _plan_incremental_from_meta,
    _plan_seq_window,
    plan_incremental_scan,
    read_iceberg_changelog,
    read_iceberg_incremental,
)

from tiered_storage_for_apache_kafka_spark.sources.iceberg.refs import (  # noqa: F401
    _commit_refs_local,
    create_ref,
    drop_ref,
    fast_forward,
    cherry_pick_snapshot,
    rollback_to_snapshot,
)

from tiered_storage_for_apache_kafka_spark.sources.iceberg.maintenance import (  # noqa: F401
    _expire_snapshots_once,
    _finish_replace_commit,
    _rewrite_data_files_once,
    _rewrite_manifests_once,
    compute_ndv_stats,
    expire_snapshots,
    remove_orphan_files,
    rewrite_data_files,
    rewrite_manifests,
)
from tiered_storage_for_apache_kafka_spark.sources.iceberg.transforms import (  # noqa: F401
    bucket_hash_long,
    bucket_hash_long_vec,
    bucket_hash_str,
    is_order_preserving,
    murmur3_32,
    parse_transform,
    transform_column,
    transform_value,
)
