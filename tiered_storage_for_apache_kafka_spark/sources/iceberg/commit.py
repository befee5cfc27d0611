"""The append commit plane (commit_append + REST requirements).

Split from the original sources/iceberg.py (r7); provenance and
parity citations live in the package __init__ and the function
docstrings.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from tiered_storage_for_apache_kafka_spark.sources.iceberg.manifests import (
    MANIFEST_FILE_SCHEMA,
    _column_stats_fields,
    _discover_data_files,
    _field_id,
    _leaf_field_ids,
    _stat_data_files,
    manifest_entry_schema,
    match_or_add_sort_order,
    partition_field_summaries,
    spec_bound_widths,
    spec_typed_cols,
)
from tiered_storage_for_apache_kafka_spark.sources.iceberg.ocf import (
    FORMAT_VERSION,
    read_avro_ocf,
    write_avro_ocf,
)
from tiered_storage_for_apache_kafka_spark.sources.iceberg.schema import (
    evolve_iceberg_schema,
    spark_schema_to_iceberg,
)
from tiered_storage_for_apache_kafka_spark.sources.iceberg.state import (
    _commit_requirements,
    _current_schema_struct,
    _current_state_meta,
    _default_spec,
    _default_table_name,
    _load_prior_state,
    _prev_summary_counter,
    commit_with_retries,
    publish,
)
from tiered_storage_for_apache_kafka_spark.sources.puffin import (
    FILE_LIST,
    write_puffin,
)


def _snapshot_updates(
    table_dir: str,
    base: dict,
    seq: int,
    parent_id: int,
    commit_uuid: str,
    manifests: list[dict],
    summary: dict,
    now_ms: int,
    ref: str = "main",
    file_list: list[dict] | None = None,
    stats_blobs=(),
) -> list[dict]:
    """The shared tail of every snapshot-producing commit: write the
    manifest list (``manifests`` — the commit's new manifests first,
    then the ones it carries over), build snapshot ``seq`` (snapshot ids
    are the sequence number: deterministic, and any unique long is
    spec-legal) on ``parent_id`` (-1 = none) under ``base``'s current
    schema, and — unless ``file_list`` is None — write the snapshot's
    statistics Puffin: a FILE_LIST blob (`SegmentManifestWriter.java:
    35-112` parity) plus any ``stats_blobs``. Returns the commit's
    updates: add-snapshot, set-snapshot-ref ``ref``, set-statistics."""
    meta_dir = os.path.join(table_dir, "metadata")
    list_path = os.path.join(meta_dir, f"snap-{seq}-1-{commit_uuid}.avro")
    write_avro_ocf(
        list_path,
        MANIFEST_FILE_SCHEMA,
        manifests,
        {
            "format-version": str(FORMAT_VERSION).encode(),
            "snapshot-id": str(seq).encode(),
            "sequence-number": str(seq).encode(),
            "parent-snapshot-id": str(parent_id).encode(),
        },
    )
    snapshot = {
        "snapshot-id": seq,
        "sequence-number": seq,
        "timestamp-ms": now_ms,
        "manifest-list": list_path,
        "schema-id": base["current-schema-id"],
        "summary": summary,
    }
    if parent_id != -1:
        snapshot["parent-snapshot-id"] = parent_id
    updates = [
        {"action": "add-snapshot", "snapshot": snapshot},
        {
            "action": "set-snapshot-ref",
            "ref-name": ref,
            "type": "branch",
            "snapshot-id": seq,
        },
    ]
    if file_list is not None:
        stats_path = os.path.join(meta_dir, f"stats-{seq}-{commit_uuid}.puffin")
        stats = write_puffin(
            stats_path,
            [(FILE_LIST, json.dumps(file_list).encode())] + list(stats_blobs),
            seq,
            seq,
        )
        updates.append(
            {
                "action": "set-statistics",
                "statistics": {
                    "snapshot-id": seq,
                    "statistics-path": stats_path,
                    "file-size-in-bytes": stats["file_size"],
                    "file-footer-size-in-bytes": stats["footer_size"],
                    "blob-metadata": stats["blob_metadata"],
                },
            }
        )
    return updates


def _build_spec_fields(
    partition_spec: list | None,
    partition_col: str,
    partition_transform: str,
    partition_source: str | None,
    schema_struct: dict,
    first_field_id: int = 1000,
) -> list[dict]:
    """Resolve the caller's declared partitioning — either the N-field
    ``partition_spec`` list of ``(name, transform, source_col)`` tuples
    (``source_col`` None for identity, where the partition column IS
    the source) or the legacy single-field trio — into the spec's
    ordered ``fields`` list (Iceberg spec "Partition Specs"), with
    sequential field-ids from ``first_field_id``."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg.transforms import (  # noqa: E501 (local import keeps transforms a leaf module)
        parse_transform,
    )

    if partition_spec is None:
        partition_spec = [
            (partition_col, partition_transform, partition_source)
        ]
    fields = []
    seen_names: set[str] = set()
    for i, (name, transform, source) in enumerate(partition_spec):
        if name in seen_names:
            raise ValueError(f"duplicate partition field name {name!r}")
        seen_names.add(name)
        tname, _targ = parse_transform(transform)
        if tname == "identity":
            source = source or name
        else:
            if source is None:
                raise ValueError(
                    f"partition transform {transform!r} on field {name!r} "
                    "needs a source column (the schema column it derives "
                    "from)"
                )
            if any(f["name"] == name for f in schema_struct["fields"]):
                # a TRANSFORMED field is metadata-only and every reader
                # drops its name from the scan output
                # (manifests._read_planned_files) — letting it shadow a
                # real schema column would silently drop that column
                # from every read
                raise ValueError(
                    f"transformed partition field {name!r} collides with "
                    "a schema column of the same name; pick a distinct "
                    "partition-field name"
                )
        source_id = _field_id(schema_struct, source)
        fields.append(
            {
                "name": name,
                "transform": transform,
                "source-id": source_id,
                "field-id": first_field_id + i,
            }
        )
    return fields


def commit_append(
    table_dir: str,
    spark_schema,
    partition_col: str = "partition",
    now_ms: int | None = None,
    partition_transform: str = "identity",
    partition_source: str | None = None,
    partition_spec: list | None = None,
    stats_blobs: list[tuple[str, bytes]] | None = None,
    files: list[str] | None = None,
    summary_extra: dict | None = None,
    catalog=None,
    table_name: str | None = None,
    branch: str | None = None,
    max_commit_retries: int = 3,
    assume_new_files: bool = False,
    properties_extra: dict | None = None,
    sort_by: list | None = None,
) -> dict:
    """Append-commit every not-yet-committed parquet data file under
    ``table_dir`` into the table's Iceberg metadata, creating the table
    metadata on first call (`IcebergTableManager.java:46-95` semantics:
    create-if-absent, then an appendFiles transaction). Returns the new
    TableMetadata dict. Idempotent: a commit with zero new files writes
    nothing and returns the current metadata.

    ``branch="audit"`` commits to that branch instead of ``main`` —
    the write-audit-publish (WAP) pattern: staged snapshots chain off
    the branch head (auto-created at the current main head on first
    use), ``main`` and the snapshot-log are untouched, readers of the
    table see nothing until :func:`fast_forward` publishes the branch.
    Branch discovery commits dedup against EVERY ref head, so a file
    committed on one branch is never re-swept into another.

    Each snapshot also gets a Puffin statistics file
    (`SegmentManifestWriter.java:35-112` parity): a FILE_LIST blob (JSON
    of the snapshot's new data files) plus any caller-provided
    ``stats_blobs`` (e.g. the segment aux indexes, reference
    `BlobTypes.java` names), registered under the metadata's
    ``statistics`` field as the spec requires.

    With ``catalog`` (a ``rest_catalog.RestCatalogClient``), the commit
    routes through the Iceberg REST-catalog protocol instead of the
    version-hint file layout: the writer still stages manifests /
    manifest lists / Puffin stats in storage, but the metadata pointer
    advances via ``POST /v1/namespaces/{ns}/tables/{t}`` with
    requirements + updates, and a 409 (a concurrent writer won the race)
    triggers reload-and-rebase up to ``max_commit_retries`` times —
    the reference's catalog-service commit path
    (`RemoteStorageManagerConfig.java:261-284`,
    `IcebergTableManager.java:46-95`).

    ``assume_new_files=True`` (explicit ``files`` mode only) skips the
    already-committed-file dedup, which otherwise parses EVERY manifest
    entry of the current table — an O(table-age) metadata walk per
    commit. Real Iceberg ``appendFiles`` never dedups: writer-side
    exactly-once is the caller's contract. Pass it ONLY when the caller
    provably never re-submits a committed path — the streaming ingest
    path qualifies (its ``(app_id, batch_id)`` replay-skip runs before
    this call and its staged names are attempt-deterministic) — and
    per-micro-batch commit cost drops from O(table) to
    O(batch + manifests)."""
    meta_dir = os.path.join(table_dir, "metadata")
    os.makedirs(meta_dir, exist_ok=True)
    now_ms = int(time.time() * 1000) if now_ms is None else now_ms
    if catalog is not None and table_name is None:
        table_name = _default_table_name(table_dir)
    if assume_new_files and files is None:
        raise ValueError(
            "assume_new_files requires an explicit files list — "
            "discovery mode's only committed-or-not record IS the "
            "manifest walk"
        )

    def attempt():
        if not assume_new_files:
            prior = _load_prior_state(table_dir, catalog, table_name)
        else:
            # metadata.json only — no manifest-entry parsing
            try:
                version, meta, _name = _current_state_meta(
                    table_dir, catalog, table_name
                )
                prior = {
                    "version": version,
                    "metadata": meta,
                    "manifests": (),  # sentinel: dedup skipped
                    "skip_dedup": True,
                }
            except FileNotFoundError:
                prior = None  # first (table-creating) commit
        return _commit_append_once(
            table_dir, spark_schema, partition_col, now_ms, stats_blobs,
            files, summary_extra, catalog, table_name, prior,
            branch, partition_transform, partition_source, partition_spec,
            properties_extra, sort_by,
        )

    return commit_with_retries(attempt, catalog, max_commit_retries)


def _commit_append_once(
    table_dir: str,
    spark_schema,
    partition_col: str,
    now_ms: int,
    stats_blobs,
    files,
    summary_extra,
    catalog,
    table_name,
    prior,
    branch: str | None = None,
    partition_transform: str = "identity",
    partition_source: str | None = None,
    partition_spec: list | None = None,
    properties_extra: dict | None = None,
    sort_by: list | None = None,
) -> dict:
    if branch == "main":
        branch = None  # explicit main is just the default path
    if branch is not None and prior is None:
        raise ValueError(
            "cannot commit to a branch before the table exists — make "
            "the first (table-creating) commit on main"
        )
    if prior is None:
        version = 0  # this commit creates the table
        schema_struct, last_col = spark_schema_to_iceberg(spark_schema)
        # partition spec (spec "Partition Specs"/"Partition
        # Transforms"): an ORDERED field list — identity sources the
        # partition column itself; any other transform is computed FROM
        # its source column, and the partition column is metadata-only
        # (a hive dir name + manifest partition struct, never a data
        # column). `(day(ts), bucket(id))` declares as
        # partition_spec=[("ts_day","day","ts"),("id_bucket","bucket[8]","id")].
        if (
            partition_spec is None
            and partition_source is None
            and partition_transform == "identity"
            and not any(
                f["name"] == partition_col
                for f in schema_struct["fields"]
            )
        ):
            # truly UNPARTITIONED table (the reference's own layout,
            # `TableWriterFactory.java:93` / `IcebergTableManager.java:58`):
            # no declared spec AND no legacy identity column -> spec 0
            # has no fields, files lay flat, every partition summary is
            # the empty tuple
            spec_fields = []
        else:
            spec_fields = _build_spec_fields(
                partition_spec, partition_col, partition_transform,
                partition_source, schema_struct,
            )
        table_uuid = str(uuid.uuid5(uuid.NAMESPACE_URL, "iceberg:" + table_dir))
        base = {
            "format-version": FORMAT_VERSION,
            "table-uuid": table_uuid,
            "location": table_dir,
            "last-sequence-number": 0,
            "last-updated-ms": now_ms,
            "last-column-id": last_col,
            "current-schema-id": 0,
            "schemas": [schema_struct],
            "default-spec-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
            "last-partition-id": max(
                (f["field-id"] for f in spec_fields), default=999
            ),
            "default-sort-order-id": 0,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "properties": {
                "write.format.default": "parquet",
                **{k: str(v) for k, v in (properties_extra or {}).items()},
            },
            "current-snapshot-id": -1,
            "refs": {},
            "snapshots": [],
            "snapshot-log": [],
            "metadata-log": [],
        }
        known: set[str] = set()
    else:
        version, base = prior["version"], prior["metadata"]
        stored_fields = _default_spec(base)["fields"]
        declared = partition_spec
        if declared is None and partition_transform != "identity":
            declared = [(partition_col, partition_transform, partition_source)]
        if declared is not None:
            stored_shape = [
                (f["name"], f["transform"]) for f in stored_fields
            ]
            declared_shape = [(n, t) for n, t, _s in declared]
            if stored_shape != declared_shape:
                raise ValueError(
                    f"table is partitioned by {stored_shape!r}; cannot "
                    f"append declaring {declared_shape!r}"
                )
        known = {
            e["data_file"]["file_path"]
            for m in prior["manifests"]
            for e in m["entries"]
        }
    # ``base`` gathers this commit's own metadata changes (evolved
    # schema, sort order) for planning; ``base0`` is what it publishes
    # against, with the same changes expressed as updates
    base0 = base
    requirements = _commit_requirements(
        None if prior is None else base0, base0, branch=branch
    )

    spec = _default_spec(base)
    spec_cols = spec_typed_cols(spec, _current_schema_struct(base))
    if files is not None:
        # EXPLICIT file list (the streaming-commit path): only these
        # files enter the snapshot — crashed-attempt orphans on disk are
        # never swept in (vs. the discovery mode below, which commits
        # everything on disk not yet known to the metadata). Footers are
        # read for exactly the listed files — O(batch), not O(table) —
        # so per-micro-batch commit cost does not grow with table age.
        all_files = _stat_data_files(sorted(set(files)), spec_cols)
    else:
        all_files = _discover_data_files(table_dir, spec_cols)
    parent_id = (
        base.get("current-snapshot-id", -1) if prior is not None else -1
    )
    base_refs = base.get("refs") or {} if prior is not None else {}
    if branch is not None:
        ref = base_refs.get(branch)
        if ref is not None:
            if ref.get("type") == "tag":
                raise ValueError(f"ref {branch!r} is a tag, not a branch")
            parent_id = int(ref["snapshot-id"])
        # else: first commit to this branch forks it off the main head
        # (parent_id stays the current snapshot) — WAP auto-create
    if prior is not None and not prior.get("skip_dedup"):
        # staged lineages — branch snapshots, including ones orphaned
        # by a dropped branch — hold files that sit in the hive dirs
        # without appearing on main's lineage; discovery must dedup
        # against them or the next commit re-sweeps audit-rejected
        # rows into main. Tag heads lie ON main's lineage and are
        # already covered by prior["manifests"], so a mere release tag
        # costs nothing; only genuinely stray snapshots are read, and
        # the head's already-parsed manifests seed the cache.
        # (assume_new_files skips this walk with the rest of the dedup
        # plane — the caller's exactly-once contract covers branches.)
        by_id = {s["snapshot-id"]: s for s in base["snapshots"]}
        main_lineage: set = set()
        node = base.get("current-snapshot-id", -1)
        while node in by_id:
            main_lineage.add(node)
            node = by_id[node].get("parent-snapshot-id")
        stray = [
            s
            for s in base["snapshots"]
            if s["snapshot-id"] not in main_lineage
        ]
        if stray:
            seen_manifest_paths = {
                m["file"]["manifest_path"] for m in prior["manifests"]
            }
            for s in stray:
                _, mfs, _ = read_avro_ocf(s["manifest-list"])
                for mf in mfs:
                    if mf["manifest_path"] in seen_manifest_paths:
                        continue
                    seen_manifest_paths.add(mf["manifest_path"])
                    _, es, _ = read_avro_ocf(mf["manifest_path"])
                    known |= {e["data_file"]["file_path"] for e in es}
    new_files = [f for f in all_files if f["file_path"] not in known]
    # schema evolution on append (add-as-optional + required->optional
    # relaxation; reference `SchemaUpdate.java` intent, wired here):
    # existing field ids are stable, added columns get fresh ids in a
    # NEW schema version. Runs BEFORE the zero-new-files return so an
    # evolved schema is never silently discarded.
    schema_changed = False
    cur_sid = base["current-schema-id"]
    cur_schema = next(s for s in base["schemas"] if s["schema-id"] == cur_sid)
    if prior is not None:
        evolved, new_last, schema_changed = evolve_iceberg_schema(
            cur_schema, spark_schema, base["last-column-id"]
        )
        if schema_changed and branch is not None:
            # current-schema-id is table-level: evolving it from a
            # staged commit would publish the schema change to main
            # readers immediately, breaking WAP's nothing-visible
            # promise — evolve on main first, then stage
            raise ValueError(
                "schema evolution inside a branch commit would be "
                "visible to main readers before publish; commit the "
                "schema change on main first"
            )
        if schema_changed:
            from tiered_storage_for_apache_kafka_spark.sources.iceberg.schema import (  # noqa: E501
                guard_partition_source_promotion,
                guard_readded_column,
            )

            guard_partition_source_promotion(base, cur_schema, evolved)
            guard_readded_column(base, cur_schema, evolved)
            new_sid = max(s["schema-id"] for s in base["schemas"]) + 1
            evolved = {**evolved, "schema-id": new_sid}
            base = {
                **base,
                "schemas": base["schemas"] + [evolved],
                "current-schema-id": new_sid,
                "last-column-id": new_last,
            }

    schema_updates = _schema_updates(base) if schema_changed else []
    if not new_files:
        if prior is None or schema_changed:
            # an empty table (metadata without a snapshot), or a
            # metadata-only commit: the schema version advances even
            # though no data files entered
            return publish(
                table_dir, version, base0, requirements, schema_updates,
                now_ms, catalog, table_name,
            )
        return base

    # snapshot-log monotonicity: after a lost race the rebased commit
    # may carry a caller clock EARLIER than the rival's snapshot; a
    # non-monotonic log would make TIMESTAMP AS OF resolve a child for a
    # timestamp that predates its parent. Clamp to the newest snapshot.
    newest_ts = max((s["timestamp-ms"] for s in base["snapshots"]), default=0)
    now_ms = max(now_ms, newest_ts)
    seq = base["last-sequence-number"] + 1
    snapshot_id = seq
    # staged metadata files get a per-attempt random token (real Iceberg
    # embeds a commit uuid in manifest/list names): two concurrent
    # catalog writers that loaded the same base state must never collide
    # on staged paths — a colliding loser would overwrite the winner's
    # already-committed manifest before its own commit is rejected.
    commit_uuid = uuid.uuid4().hex[:16]
    meta_dir = os.path.join(table_dir, "metadata")
    entry_schema = manifest_entry_schema(spec_cols)
    schema_struct = _current_schema_struct(base)
    leaf_ids = _leaf_field_ids(schema_struct)
    # sorted write (Iceberg spec "Sort Orders"): the caller sorted rows
    # within the write tasks; record the order (reusing an id when the
    # same column list exists — shared helper with sorted compaction),
    # make it the table's write order, and stamp the entries so readers
    # and the sorted-compaction no-op check see the files as sorted
    sort_order_id = 0
    new_sort_order = None
    if sort_by:
        base, sort_order_id, new_sort_order = match_or_add_sort_order(
            base, list(sort_by), schema_struct
        )
    entries = [
        {
            "status": 1,  # ADDED
            "snapshot_id": snapshot_id,
            "sequence_number": seq,
            "file_sequence_number": seq,
            "data_file": {
                "content": 0,  # DATA
                "file_path": f["file_path"],
                "file_format": "PARQUET",
                "partition": dict(f["partition"]),
                "record_count": f["record_count"],
                "file_size_in_bytes": f["file_size_in_bytes"],
                **_column_stats_fields(f.get("column_stats") or {}, leaf_ids),
                "split_offsets": f["split_offsets"],
                "equality_ids": None,
                "sort_order_id": sort_order_id,
            },
        }
        for f in new_files
    ]
    manifest_path = os.path.join(
        meta_dir, f"{base['table-uuid']}-m{seq}-{commit_uuid}.avro"
    )
    manifest_len = write_avro_ocf(
        manifest_path,
        entry_schema,
        entries,
        {
            "schema": json.dumps(schema_struct).encode(),
            "schema-id": str(base["current-schema-id"]).encode(),
            "partition-spec": json.dumps(spec["fields"]).encode(),
            "partition-spec-id": str(spec["spec-id"]).encode(),
            "format-version": str(FORMAT_VERSION).encode(),
            "content": b"data",
        },
    )

    added_rows = sum(f["record_count"] for f in new_files)
    manifest_file = {
        "manifest_path": manifest_path,
        "manifest_length": manifest_len,
        "partition_spec_id": spec["spec-id"],
        "content": 0,  # data manifest
        "sequence_number": seq,
        "min_sequence_number": seq,
        "added_snapshot_id": snapshot_id,
        "added_data_files_count": len(new_files),
        "existing_data_files_count": 0,
        "deleted_data_files_count": 0,
        "added_rows_count": added_rows,
        "existing_rows_count": 0,
        "deleted_rows_count": 0,
        "partitions": partition_field_summaries(
            [f["partition"] for f in new_files],
            [n for n, _f, _t in spec_cols],
            widths=spec_bound_widths(spec, _current_schema_struct(base)),
        ),
    }
    # a snapshot's manifest list carries its PARENT's manifests too
    # (existing files stay live across an append); for a branch commit
    # the parent is the branch head, not main
    prior_manifest_files = []
    if prior is not None and parent_id != -1:
        cur = next(
            s for s in base["snapshots"] if s["snapshot-id"] == parent_id
        )
        _, prior_manifest_files, _ = read_avro_ocf(cur["manifest-list"])
    summary = {
        "operation": "append",
        "added-data-files": str(len(new_files)),
        "added-records": str(added_rows),
        "total-records": str(
            added_rows + _prev_summary_counter(base, "total-records", parent_id)
        ),
        "total-position-deletes": str(
            _prev_summary_counter(base, "total-position-deletes", parent_id)
        ),
        "total-equality-deletes": str(
            _prev_summary_counter(base, "total-equality-deletes", parent_id)
        ),
        **{k: str(v) for k, v in (summary_extra or {}).items()},
    }
    file_list = [
        {
            "location": f["file_path"],
            # single-field specs keep the scalar FILE_LIST shape every
            # existing consumer reads; multi-field specs record the
            # full partition dict
            "partition": (
                f["partition_value"]
                if len(spec_cols) == 1
                else dict(f["partition"])
            ),
            "recordCount": f["record_count"],
            "fileSizeInBytes": f["file_size_in_bytes"],
        }
        for f in new_files
    ]
    updates = schema_updates + _snapshot_updates(
        table_dir, base, seq, parent_id, commit_uuid,
        [manifest_file] + prior_manifest_files, summary, now_ms,
        ref=branch or "main", file_list=file_list,
        stats_blobs=stats_blobs or (),
    )
    if properties_extra:
        # table-property updates ride the SAME atomic commit as the
        # snapshot (e.g. the streaming lineage's replay marker, which
        # must never drift from the snapshot it records)
        updates.append(
            {
                "action": "set-properties",
                "updates": {k: str(v) for k, v in properties_extra.items()},
            }
        )
    if new_sort_order is not None:
        updates.append({"action": "add-sort-order", "sort-order": new_sort_order})
    if sort_by:
        updates.append(
            {"action": "set-default-sort-order", "sort-order-id": sort_order_id}
        )
    return publish(
        table_dir, version, base0, requirements, updates, now_ms, catalog,
        table_name,
    )


def update_partition_spec(
    table_dir: str,
    partition_spec: list,
    now_ms: int | None = None,
    catalog=None,
    table_name: str | None = None,
) -> dict:
    """Partition-spec EVOLUTION (Iceberg spec "Partition Evolution"):
    register ``partition_spec`` — ``(name, transform, source_col)``
    tuples, ``source_col`` None for identity — as a NEW spec and make
    it the table default. Existing data files stay scoped to the spec
    their manifest records (``partition_spec_id``); only files written
    by LATER commits carry the new layout, and the scan planner prunes
    each manifest under its own spec. Metadata-only: no snapshot, no
    data movement (``rewrite_data_files`` migrates old files to the
    default spec as a side effect of compaction, like the Java
    rewrite).

    Field-ids follow the spec's evolution rule: a field matching an
    existing spec's field on (source-id, transform) REUSES that
    field-id (so external readers see day(ts) as the same partition
    field across generations); genuinely new fields get fresh ids
    above ``last-partition-id``. Re-declaring the current default spec
    exactly is a no-op."""
    import time as _time

    version, base, table_name = _current_state_meta(
        table_dir, catalog, table_name
    )
    now_ms = int(_time.time() * 1000) if now_ms is None else now_ms
    schema_struct = _current_schema_struct(base)
    new_fields = _build_spec_fields(
        partition_spec, "partition", "identity", None, schema_struct
    )
    # field-id assignment: reuse on (source-id, transform) match
    # anywhere in the table's spec history, fresh ids otherwise
    by_key = {
        (f["source-id"], f["transform"]): int(f["field-id"])
        for s in base["partition-specs"]
        for f in s["fields"]
    }
    last_pid = int(base.get("last-partition-id", 999))
    for f in new_fields:
        key = (f["source-id"], f["transform"])
        if key in by_key:
            f["field-id"] = by_key[key]
        else:
            last_pid += 1
            f["field-id"] = last_pid
    cur_default = _default_spec(base)
    if new_fields == cur_default["fields"]:
        return base  # no-op: already the default spec
    new_spec_id = max(s["spec-id"] for s in base["partition-specs"]) + 1
    # add-spec raises last-partition-id to the new fields' ids
    new_spec = {"spec-id": new_spec_id, "fields": new_fields}
    return publish(
        table_dir, version, base, _commit_requirements(base),
        [
            {"action": "add-spec", "spec": new_spec},
            {"action": "set-default-spec", "spec-id": new_spec_id},
        ],
        now_ms, catalog, table_name,
    )


def _schema_updates(base: dict) -> list[dict]:
    """add-schema + set-current-schema updates for an evolved schema
    (the last schema in ``base`` is the one evolution just appended)."""
    return [
        {
            "action": "add-schema",
            "schema": base["schemas"][-1],
            "last-column-id": base["last-column-id"],
        },
        {"action": "set-current-schema", "schema-id": base["current-schema-id"]},
    ]


def _name_mapping_json(schemas: list[dict]) -> str:
    """The table's ``schema.name-mapping.default`` property (Iceberg
    spec Appendix C): for every field id, every name any schema
    version ever bound to it — how an external id-based reader
    resolves files that predate parquet field-id stamping. Names are
    listed oldest-first; struct subtrees recurse through nested
    ``fields`` entries (Appendix C's own recursion), and list/map
    inner nodes appear under their canonical ``element`` / ``key`` /
    ``value`` names (Appendix C's container mapping) — so nested
    renames at any depth, arrays and maps included (r13), resolve for
    external readers."""
    # one node per field id, merged across every schema version:
    # ids are globally unique, so the tree shape is stable and a
    # node's children are the union of its struct children over time
    def collect_type(t, node_map: dict) -> None:
        if not isinstance(t, dict):
            return
        kind = t.get("type")
        if kind == "struct":
            collect(t["fields"], node_map)
        elif kind == "list":
            node = node_map.setdefault(
                t["element-id"], {"names": [], "children": {}}
            )
            if "element" not in node["names"]:
                node["names"].append("element")
            collect_type(t["element"], node["children"])
        elif kind == "map":
            for nm, fid, sub in (
                ("key", t["key-id"], t["key"]),
                ("value", t["value-id"], t["value"]),
            ):
                node = node_map.setdefault(
                    fid, {"names": [], "children": {}}
                )
                if nm not in node["names"]:
                    node["names"].append(nm)
                collect_type(sub, node["children"])

    def collect(struct_fields: list[dict], node_map: dict) -> None:
        for f in struct_fields:
            node = node_map.setdefault(
                f["id"], {"names": [], "children": {}}
            )
            if f["name"] not in node["names"]:
                node["names"].append(f["name"])
            collect_type(f["type"], node["children"])

    roots: dict = {}
    for s in sorted(schemas, key=lambda s: s["schema-id"]):
        collect(s["fields"], roots)

    def emit(node_map: dict) -> list[dict]:
        out = []
        for fid, node in sorted(node_map.items()):
            entry = {"field-id": fid, "names": node["names"]}
            if node["children"]:
                entry["fields"] = emit(node["children"])
            out.append(entry)
        return out

    return json.dumps(emit(roots))


def update_table_schema(
    table_dir: str,
    add: list | None = None,
    drop: list | None = None,
    make_optional: list | None = None,
    promote: dict | None = None,
    rename: dict | None = None,
    now_ms: int | None = None,
    catalog=None,
    table_name: str | None = None,
) -> dict:
    """EXPLICIT schema DDL — the operations evolution-on-write never
    infers (Iceberg spec "Schema Evolution"; the reference's
    `SchemaUpdate.java:17-127` exposes the same verbs): one
    metadata-only commit (no snapshot, no data movement) registering a
    new schema version.

    - ``add=[(name, type)]``: new OPTIONAL columns, fresh field ids.
      ``type`` is an Iceberg primitive string (``int long float double
      string binary boolean date timestamptz timestamp`` or
      ``decimal(p,s)``) or a Spark ``DataType``. Re-using a name a
      DROPPED column once had is allowed (r12): reads resolve by
      (naming epoch, field id) — see schema.py "naming epochs" — so
      the new column reads as null from pre-add files and the dropped
      column's physical values can never resurrect; the re-add bumps
      the naming epoch exactly like a rename. (Evolution-on-WRITE
      still refuses implicit re-adds — a batch carrying a dropped
      name is a stale writer, not a schema decision.)
    - ``drop=[name]``: remove from the current schema; ``name`` may
      be a dotted nested path (``"kafka.legacy"``, r13) — the struct
      keeps its other fields (dropping its LAST field refuses; drop
      the struct column instead), and the dropped nested name is only
      re-usable the way top-level dropped names are NOT re-usable by
      evolution (the stale-writer guard compares dotted paths; an
      explicit nested re-add is not offered). Old versions
      retain it — time travel still sees it, and pre-drop snapshots'
      equality deletes still resolve against their own schema
      version). Guarded: a column that is a partition-spec source (any
      generation), a sort-order field, a merge/identifier column of a
      LIVE equality-delete file, or the last column, refuses loudly.
    - ``make_optional=[name]``: required -> optional (the reverse is
      never offered — committed files may hold nulls). Dotted nested
      paths accepted (r13).
    - ``promote={name: type}``: int->long / float->double, same
      guards as evolution-on-write (identity/truncate partition
      sources refuse; bucket sources are fine). Dotted nested paths
      accepted (r13); old files' narrower nested pages up-cast at
      read time exactly like top-level promotions.
    - ``rename={old: new}``: metadata-only column rename (field id,
      type, required-ness unchanged — the Iceberg identity contract).
      ``old`` may be a DOTTED PATH naming a nested struct field
      (``"kafka.ts"``; r13 — the same surface real Iceberg's
      `SchemaUpdate.renameColumn` offers, the machinery the reference
      inherits at `SchemaUpdate.java:17-127`); ``new`` is always the
      bare new leaf name. Committed files keep their physical names;
      reads re-alias each file's columns — top-level AND nested — BY
      FIELD ID under its write-time naming epoch, so both old and new
      files serve the new name exactly. Container hops use Iceberg's
      canonical pseudo-segments (``arr.element.x``, ``mp.value.p``) —
      struct fields inside list elements and map values rename too
      (reads rebuild them through transform lambdas); renaming inside
      map KEYS refuses (they are the map's immutable identity), as
      does a bare path that crosses a container without its
      pseudo-segment. Guarded: a
      partition-spec SOURCE column of any generation refuses (hive
      path recovery and spec-field naming key on the written name —
      evolve the spec instead), as does a key column of a LIVE
      equality-delete file (the delete rows' physical key columns are
      resolved under the read schema's names; retire the equality
      plane first, same recipe as drop); renaming a field while
      DROPPING its ancestor in the same DDL refuses. The table's
      ``schema.name-mapping.default`` property (spec Appendix C) is
      refreshed with every historical name — nested entries recurse
      through ``fields`` — so external readers can resolve legacy
      files too.
    """
    import time as _time

    from tiered_storage_for_apache_kafka_spark.sources.iceberg.ocf import (
        read_avro_ocf,
    )
    from tiered_storage_for_apache_kafka_spark.sources.iceberg.schema import (
        guard_partition_source_promotion,
        resolve_field_path,
        spark_schema_to_iceberg_type,
    )

    version, base, table_name = _current_state_meta(
        table_dir, catalog, table_name
    )
    now_ms = int(_time.time() * 1000) if now_ms is None else now_ms
    cur_schema = _current_schema_struct(base)
    fields = {f["name"]: f for f in cur_schema["fields"]}
    add = list(add or [])
    drop = list(drop or [])
    make_optional = list(make_optional or [])
    promote = dict(promote or {})
    rename = dict(rename or {})
    if not (add or drop or make_optional or promote or rename):
        return base  # no-op

    # every verb accepts DOTTED PATHS for nested struct fields (r13);
    # split the nested forms out and resolve them against the current
    # schema (the resolver refuses paths through lists/maps and
    # missing segments); nested verbs then apply by LEAF FIELD ID
    top_rename = {k: v for k, v in rename.items() if "." not in k}
    nested_rename = {k: v for k, v in rename.items() if "." in k}
    top_drop = [n for n in drop if "." not in n]
    nested_drop = [n for n in drop if "." in n]
    top_optional = [n for n in make_optional if "." not in n]
    nested_optional = [n for n in make_optional if "." in n]
    top_promote = {k: v for k, v in promote.items() if "." not in k}
    nested_promote = {k: v for k, v in promote.items() if "." in k}
    for name in [*top_drop, *top_optional, *top_promote, *top_rename]:
        if name not in fields:
            raise ValueError(f"column {name!r} not in the current schema")
    nested_chains: dict[str, list[dict]] = {}
    drop_set = set(top_drop) | set(nested_drop)
    for path in [
        *nested_rename, *nested_drop, *nested_optional, *nested_promote,
    ]:
        if path not in nested_chains:
            nested_chains[path] = resolve_field_path(cur_schema, path)
        # EVERY proper ancestor prefix is checked, not just the top
        # segment: dropping a MID-level struct while renaming its
        # descendant in the same DDL would otherwise silently discard
        # the descendant verb (and bump the naming epoch for a rename
        # that never happened)
        parts = path.split(".")
        for j in range(1, len(parts)):
            anc = ".".join(parts[:j])
            if anc in drop_set:
                raise ValueError(
                    f"cannot act on {path!r} AND drop its ancestor "
                    f"{anc!r} in one DDL"
                )
    for path, new in nested_rename.items():
        if "." in new:
            raise ValueError(
                f"rename target {new!r} must be a bare field name "
                f"(the field stays inside {path.rsplit('.', 1)[0]!r}; "
                "moving fields between structs is not offered)"
            )

    # ---- adds ----
    _PRIMS = {
        "int", "long", "float", "double", "string", "binary",
        "boolean", "date", "timestamptz", "timestamp",
    }
    historical = {
        f["name"] for s in base.get("schemas", []) for f in s["fields"]
    }
    counter = {"id": int(base["last-column-id"])}
    new_fields = []
    readded = []
    for name, typ in add:
        if name in fields and name not in top_drop:
            raise ValueError(
                f"column {name!r} already exists in the current schema"
            )
        if name in historical:
            # a DROPPED name re-used: legal under (epoch, field id)
            # resolution — pre-add files read the new column as null;
            # the re-add bumps the naming epoch like a rename so the
            # read side never takes the names-never-diverged fast path
            readded.append(name)
        if isinstance(typ, str):
            if typ not in _PRIMS and not typ.startswith("decimal("):
                raise ValueError(f"unknown Iceberg type {typ!r}")
            counter["id"] += 1
            fid, ityp = counter["id"], typ
        else:
            # allocate the TOP-LEVEL field id first, THEN convert the
            # type with the shared counter for nested ids: the converter
            # only advances the counter for nested nodes, so taking
            # counter["id"] afterwards re-used the last existing column
            # id for primitives (duplicate id — breaks the Iceberg
            # column-identity contract) and aliased an array's field id
            # to its own element-id
            counter["id"] += 1
            fid = counter["id"]
            ityp, _last = spark_schema_to_iceberg_type(typ, counter)
        new_fields.append(
            {"id": fid, "name": name, "required": False, "type": ityp}
        )

    # ---- drop guards ----
    if top_drop and len(set(top_drop)) >= len(fields):
        # even with simultaneous adds: a table whose every ORIGINAL
        # column drops in one DDL turns each old row into contentless
        # all-null padding — almost certainly a caller bug
        raise ValueError("cannot drop every column")
    drop_ids = {fields[n]["id"] for n in top_drop} | {
        nested_chains[p][-1]["id"] for p in nested_drop
    }
    for spec in base.get("partition-specs", []):
        for f in spec["fields"]:
            if f["source-id"] in drop_ids:
                raise ValueError(
                    f"cannot drop a partition source (spec "
                    f"{spec['spec-id']} field {f['name']!r})"
                )
    for order in base.get("sort-orders", []):
        for f in order.get("fields", []):
            if f.get("source-id") in drop_ids:
                raise ValueError(
                    f"cannot drop a sort-order column (order "
                    f"{order.get('order-id')})"
                )
    # ---- rename guards ----
    rename_id_to_path = {
        fields[n]["id"]: n for n in top_rename
    } | {
        nested_chains[path][-1]["id"]: path for path in nested_rename
    }
    rename_ids = set(rename_id_to_path)
    if rename:
        both = sorted(
            (set(top_rename) & set(top_drop))
            | (set(nested_rename) & set(nested_drop))
        )
        if both:
            raise ValueError(f"cannot rename AND drop {both!r} in one DDL")
        for spec in base.get("partition-specs", []):
            for f in spec["fields"]:
                if f["source-id"] in rename_ids:
                    raise ValueError(
                        f"cannot rename "
                        f"{rename_id_to_path[f['source-id']]!r}: it is "
                        f"a partition source of spec {spec['spec-id']} "
                        "(hive path recovery and spec-field naming key "
                        "on the written name) — evolve the partition "
                        "spec instead"
                    )
    if (drop_ids or rename_ids) and base.get("current-snapshot-id", -1) != -1:
        cur_snap = next(
            s
            for s in base["snapshots"]
            if s["snapshot-id"] == base["current-snapshot-id"]
        )
        _, mfs, _ = read_avro_ocf(cur_snap["manifest-list"])
        live_eq_ids: set[int] = set()
        for mf in mfs:
            if int(mf.get("content") or 0) != 1:
                continue  # data manifest: no equality ids
            _, entries, _ = read_avro_ocf(mf["manifest_path"])
            for e in entries:
                d = e["data_file"]
                if e["status"] != 2 and d.get("content") == 2:
                    live_eq_ids |= set(d.get("equality_ids") or [])
        drop_names = {fields[n]["id"]: n for n in top_drop} | {
            nested_chains[p][-1]["id"]: p for p in nested_drop
        }
        for verb, ids, names in (
            ("drop", drop_ids, drop_names),
            ("rename", rename_ids, rename_id_to_path),
        ):
            hit = sorted(ids & live_eq_ids)
            if hit:
                raise ValueError(
                    f"cannot {verb} {[names[i] for i in hit]!r}: LIVE "
                    "equality-delete files key on them — run "
                    "convert_equality_deletes (or rewrite_data_files) "
                    "first to retire the equality plane"
                )

    # ---- build the new version ----
    promo_tbl = {("int", "long"): "long", ("float", "double"): "double"}
    out_fields = []
    for f in cur_schema["fields"]:
        if f["name"] in top_drop:
            continue
        nf = dict(f)
        if f["name"] in top_optional:
            nf["required"] = False
        if f["name"] in top_promote:
            want = top_promote[f["name"]]
            got = promo_tbl.get((str(f["type"]), str(want)))
            if got is None:
                raise ValueError(
                    f"illegal promotion {f['type']!r} -> {want!r} on "
                    f"{f['name']!r} (int->long and float->double only)"
                )
            nf["type"] = got
        if f["name"] in top_rename:
            nf["name"] = top_rename[f["name"]]  # same id, same type:
            # the column's identity is its field id (Iceberg contract)
        out_fields.append(nf)
    out_fields += new_fields
    if nested_chains:
        # nested verbs apply BY LEAF FIELD ID (globally unique), so
        # they compose with same-DDL top-level renames of their
        # ancestors in either order
        nested_new = {
            nested_chains[p][-1]["id"]: nested_rename[p]
            for p in nested_rename
        }
        nested_drop_ids = {
            nested_chains[p][-1]["id"] for p in nested_drop
        }
        nested_opt_ids = {
            nested_chains[p][-1]["id"] for p in nested_optional
        }
        nested_promo_ids = {}
        for p, want in nested_promote.items():
            leaf = nested_chains[p][-1]
            got = promo_tbl.get((str(leaf["type"]), str(want)))
            if got is None:
                raise ValueError(
                    f"illegal promotion {leaf['type']!r} -> {want!r} on "
                    f"{p!r} (int->long and float->double only)"
                )
            nested_promo_ids[leaf["id"]] = got

        def nested_apply(t, path: str):
            if not isinstance(t, dict):
                return t
            if t.get("type") == "struct":
                kept = []
                for f in t["fields"]:
                    if f["id"] in nested_drop_ids:
                        continue
                    nf2 = {
                        **f,
                        "name": nested_new.get(f["id"], f["name"]),
                        "type": nested_apply(
                            f["type"], f"{path}.{f['name']}"
                        ),
                    }
                    if f["id"] in nested_opt_ids:
                        nf2["required"] = False
                    if f["id"] in nested_promo_ids:
                        nf2["type"] = nested_promo_ids[f["id"]]
                    kept.append(nf2)
                if not kept and t["fields"]:
                    raise ValueError(
                        f"cannot drop every field of struct {path!r} "
                        "(drop the struct column itself instead)"
                    )
                return {**t, "fields": kept}
            if t.get("type") == "list":
                return {**t, "element": nested_apply(t["element"], path)}
            if t.get("type") == "map":
                return {
                    **t,
                    "key": nested_apply(t["key"], path),
                    "value": nested_apply(t["value"], path),
                }
            return t

        out_fields = [
            {**f, "type": nested_apply(f["type"], f["name"])}
            for f in out_fields
        ]

    def _check_sibling_dupes(struct_fields, where: str) -> None:
        names_ = [f["name"] for f in struct_fields]
        dupes_ = sorted({n for n in names_ if names_.count(n) > 1})
        if dupes_:
            raise ValueError(
                f"DDL would leave duplicate field name(s) {dupes_!r} "
                f"in {where}"
            )
        for f in struct_fields:
            t = f["type"]
            here = (
                f["name"] if where == "the top level"
                else f"{where}.{f['name']}"
            )
            # descend through containers: their element/value structs
            # have renameable siblings too (r13)
            while isinstance(t, dict) and t.get("type") in ("list", "map"):
                if t["type"] == "list":
                    t, here = t["element"], f"{here}.element"
                else:
                    t, here = t["value"], f"{here}.value"
            if isinstance(t, dict) and t.get("type") == "struct":
                _check_sibling_dupes(t["fields"], here)

    if nested_chains:
        _check_sibling_dupes(out_fields, "the top level")
    if not out_fields:
        raise ValueError("cannot drop every column")
    final_names = [f["name"] for f in out_fields]
    if len(set(final_names)) != len(final_names):
        dupes = sorted(
            {n for n in final_names if final_names.count(n) > 1}
        )
        raise ValueError(
            f"DDL would leave duplicate column name(s) {dupes!r}"
        )
    new_sid = max(s["schema-id"] for s in base["schemas"]) + 1
    evolved = {**cur_schema, "schema-id": new_sid, "fields": out_fields}
    if promote:
        guard_partition_source_promotion(base, cur_schema, evolved)
    if evolved["fields"] == cur_schema["fields"]:
        return base  # only no-op verbs (e.g. make_optional on optional)

    updates = [
        {
            "action": "add-schema",
            "schema": evolved,
            "last-column-id": counter["id"],
        },
        {"action": "set-current-schema", "schema-id": new_sid},
    ]
    if rename or readded:
        # a naming-divergence event: bump the naming epoch so reads
        # resolve every file under ITS write epoch's names (schema.py
        # "naming epochs"), and refresh the spec's name-mapping
        # property (Appendix C) so external readers resolve legacy
        # files by any historical name
        props = dict(base.get("properties") or {})
        epoch = int(props.get("engine.naming-epoch", 0)) + 1
        log = json.loads(props.get("engine.naming-log", "[]"))
        log.append({"epoch": epoch, "schema-id": new_sid})
        prop_updates = {
            "engine.naming-epoch": str(epoch),
            "engine.naming-log": json.dumps(log),
            "schema.name-mapping.default": _name_mapping_json(
                base["schemas"] + [evolved]
            ),
        }
        updates.append({"action": "set-properties", "updates": prop_updates})
    return publish(
        table_dir, version, base, _commit_requirements(base), updates,
        now_ms, catalog, table_name,
    )
