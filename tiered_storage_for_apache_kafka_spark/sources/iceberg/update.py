"""Row-level UPDATE — `UPDATE t SET ... WHERE ...` as ONE merge-on-read
snapshot (Iceberg spec "Row-level deletes"; completes the engine's
mutation triad beside DELETE = `commit_position_deletes` and MERGE =
`merge.merge_upsert`; the reference's Iceberg plane is append-only —
`IcebergTableManager.java:46-95` — so like those two this is the
engine's extension to mutable tables).

Shape: position-delete files retract the matching rows' (file, pos)
identities while the UPDATED copies append as data files, both
manifests at the same sequence number in one ``overwrite`` snapshot.
The spec's asymmetric sequence rules make it atomic: a position delete
applies to data files with sequence number <= its own AND names exact
(path, pos) pairs — the new files' paths are fresh, so the batch's own
rows can never be retracted by its own deletes.

Cost: O(matching rows) + one metadata commit — matching is a
predicate-pruned scan (Catalyst pushes the WHERE into the parquet
read; partition/bounds pruning applies at plan time), the rewrite
touches only the MATCHED rows (copy-on-write would rewrite every
file containing one), and untouched files are never opened. At 100 TB
an UPDATE on 0.1% of rows costs ~0.1% of a table scan plus the
delete-file writes; the merge-on-read debt is paid by scheduled
`rewrite_data_files`, exactly like the other two mutation planes.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from tiered_storage_for_apache_kafka_spark.sources.iceberg.commit import (
    _snapshot_updates,
)
from tiered_storage_for_apache_kafka_spark.sources.iceberg.manifests import (
    _column_stats_fields,
    _leaf_field_ids,
    _stat_data_files,
    manifest_entry_schema,
    partition_field_summaries,
    spec_bound_widths,
    spec_typed_cols,
)
from tiered_storage_for_apache_kafka_spark.sources.iceberg.ocf import (
    FORMAT_VERSION,
    read_avro_ocf,
    write_avro_ocf,
)
from tiered_storage_for_apache_kafka_spark.sources.iceberg.state import (
    _commit_requirements,
    _current_schema_struct,
    _current_state_meta,
    _default_spec,
    _default_table_name,
    _prev_summary_counter,
    _prev_total_pos_deletes,
    commit_with_retries,
    publish,
)


def derived_partition_spec(base: dict) -> list | None:
    """The table's default spec re-expressed as the writer's
    ``(name, transform, source_col)`` declaration — so mutation planes
    can stage files in the table's own layout without the caller
    re-stating it. Unpartitioned -> None; identity fields carry source
    None (the partition column IS the schema column)."""
    spec = _default_spec(base)
    if not spec["fields"]:
        return None
    schema_struct = _current_schema_struct(base)
    id_to_name = {f["id"]: f["name"] for f in schema_struct["fields"]}
    out = []
    for f in spec["fields"]:
        src = id_to_name.get(f["source-id"])
        if src is None:
            raise ValueError(
                "partition spec references a source field id missing "
                "from the current schema"
            )
        if f["transform"] == "identity":
            out.append((f["name"], "identity", None))
        else:
            out.append((f["name"], f["transform"], src))
    return out


def update_where(
    spark,
    table_dir: str,
    predicate,
    set: dict,
    now_ms: int | None = None,
    catalog=None,
    table_name: str | None = None,
    max_commit_retries: int = 3,
    writer_shards: int | None = None,
    max_records_per_file: int | None = None,
) -> dict:
    """``UPDATE table SET col = expr, ... WHERE predicate`` against the
    Iceberg table at ``table_dir``: one atomic snapshot carrying
    position-delete files for the matched rows and data files holding
    their updated copies. ``predicate`` is a Spark SQL string or
    Column; ``set`` maps existing column names to SQL expression
    strings (or Columns) evaluated over the matched row — expressions
    may reference any table column (``{"v": "v + 1"}``). A SET name
    may be a DOTTED NESTED PATH (``{"env.ts": "env.ts + 1"}``, r13):
    the struct rebuilds via ``withField`` — siblings untouched, NULL
    structs stay NULL; paths crossing an array/map refuse explicitly
    (SET the container column with a ``transform()`` expression
    instead). Results cast
    to the column's table type; assigning a column the schema lacks is
    an error (evolve first — schema changes are `merge_upsert` /
    `update_table_schema` territory, never implied by an UPDATE).

    Matching runs against the current MERGED view (rows already
    retracted by any delete plane can't match), the file layout is
    derived from the table's own default spec (an update that moves a
    row's partition value lands it in its new cell — the old identity
    is position-deleted wherever it lives), and matching zero rows
    returns the current metadata unchanged — no empty snapshot.

    With ``catalog``, a lost optimistic-concurrency race reloads and
    RE-PLANS everything (position deletes name exact (file, pos)
    identities, which a rival commit may have invalidated); a lost
    attempt's staged files stay behind as unreferenced orphans — the
    same crash posture as every other staged commit."""
    if not set:
        raise ValueError("update_where needs at least one SET column")
    now_ms = int(time.time() * 1000) if now_ms is None else now_ms
    if catalog is not None and table_name is None:
        table_name = _default_table_name(table_dir)
    return commit_with_retries(
        lambda: _update_once(
            spark, table_dir, predicate, set, now_ms, catalog,
            table_name, writer_shards, max_records_per_file,
        ),
        catalog,
        max_commit_retries,
    )


def _update_once(
    spark, table_dir, predicate, set_map, now_ms, catalog, table_name,
    writer_shards, max_records_per_file,
) -> dict:
    from pyspark.sql import Column
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from tiered_storage_for_apache_kafka_spark.sources.iceberg.deletes import (
        match_position_deletes,
        write_matched_position_deletes,
    )
    from tiered_storage_for_apache_kafka_spark.sources.iceberg.schema import (
        iceberg_schema_to_spark,
    )
    from tiered_storage_for_apache_kafka_spark.sources.iceberg.writer import (
        stage_data_files,
    )
    from tiered_storage_for_apache_kafka_spark.sources.schema_evolution import (
        conform,
    )

    version, base, table_name = _current_state_meta(
        table_dir, catalog, table_name
    )
    if base.get("current-snapshot-id", -1) == -1:
        return base  # empty table: nothing can match
    schema_struct = _current_schema_struct(base)
    table_cols = {f["name"] for f in schema_struct["fields"]}
    top_sets = {c: e for c, e in set_map.items() if "." not in c}
    nested_sets = {c: e for c, e in set_map.items() if "." in c}
    bad = sorted(set(top_sets) - table_cols)
    if bad:
        raise ValueError(
            f"SET names columns not in the table schema: {bad} — "
            "UPDATE never evolves the schema"
        )
    # nested SET paths resolve against the schema (refuses missing
    # segments and paths through lists/maps); the leaf field dict is
    # kept for the required-null guard below
    from tiered_storage_for_apache_kafka_spark.sources.iceberg.schema import (  # noqa: E501
        resolve_field_path,
    )

    nested_leaves = {}
    for path in nested_sets:
        chain = resolve_field_path(schema_struct, path)
        if any(seg.get("_container") for seg in chain):
            raise ValueError(
                f"SET path {path!r} crosses an array/map — per-element "
                "SET is not offered; SET the container column itself "
                "with a transform() expression instead"
            )
        nested_leaves[path] = chain[-1]

    # SINGLE-PASS (r12): one merged-view match, persisted, feeds the
    # null-guard probe, the position-delete files, AND the updated
    # copies — the matched files are read once, not twice, and the
    # guard fires BEFORE any file (delete or data) exists on disk
    matched, ctx = match_position_deletes(
        spark, table_dir, predicate, meta=base
    )
    if matched is None:
        return base  # empty plan: nothing can match
    matched = matched.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        updated = matched.withColumns(
            {
                c: (e if isinstance(e, Column) else F.expr(e))
                for c, e in top_sets.items()
            }
        )
        for path, e in nested_sets.items():
            # struct rebuild via withField: siblings untouched, NULL
            # structs stay NULL, the leaf casts to its table type in
            # the conform below
            top, rest = path.split(".", 1)
            updated = updated.withColumn(
                top,
                F.col(top).withField(
                    rest, e if isinstance(e, Column) else F.expr(e)
                ),
            )
        # conform projects exactly the table columns (drops the
        # (__iceberg_file, __iceberg_pos) identity the delete writer
        # keeps) and casts SET results to the columns' table types
        updated = conform(updated, iceberg_schema_to_spark(schema_struct))
        # a SET expression must not null a REQUIRED column (including
        # the silent nulls a non-ANSI cast of an incompatible
        # expression produces) — one bounded aggregate over only the
        # touched required columns, refused before ANY file (delete or
        # data) is written
        req_touched = [
            f["name"]
            for f in schema_struct["fields"]
            if f["required"] and f["name"] in top_sets
        ] + [
            path
            for path, leaf in nested_leaves.items()
            if leaf["required"]  # F.col resolves dotted struct paths
        ]
        if req_touched:

            def viol(c: str):
                # a NULL PARENT struct is legal even when the leaf is
                # required (the whole value is absent, not a null leaf
                # written into it) — only rows whose parent exists and
                # whose leaf is null violate
                cond = F.col(c).isNull()
                if "." in c:
                    cond = cond & F.col(c.rsplit(".", 1)[0]).isNotNull()
                return F.count(F.when(cond, 1)).alias(c)

            row = updated.agg(
                *[viol(c) for c in req_touched]
            ).collect()[0]
            bad = [c for c in req_touched if row[c] > 0]
            if bad:
                raise ValueError(
                    f"SET would write NULL into REQUIRED column(s) {bad} "
                    "(a non-castable expression also lands as null under "
                    "non-ANSI SQL) — fix the expression or make the "
                    "column optional first"
                )
        stats = write_matched_position_deletes(
            spark, table_dir, matched, ctx,
            writer_shards=writer_shards or 1,
        )
        if not stats:
            return base  # zero matches: no empty snapshot
        new_files, _schema = stage_data_files(
            spark, updated, table_dir,
            partition_spec=derived_partition_spec(base),
            max_records_per_file=max_records_per_file,
            writer_shards=writer_shards,
        )
    finally:
        matched.unpersist()
    return _commit_update_once(
        table_dir, version, base, new_files, stats, now_ms, catalog,
        table_name,
    )


def _commit_update_once(
    table_dir, version, base, new_files, del_stats, now_ms, catalog,
    table_name,
) -> dict:
    """One atomic UPDATE snapshot: a DATA manifest (the updated copies)
    plus a DELETES manifest (position deletes for the old identities),
    both at the new sequence number, ``operation=overwrite``."""
    meta_dir = os.path.join(table_dir, "metadata")
    os.makedirs(meta_dir, exist_ok=True)
    schema_struct = _current_schema_struct(base)
    leaf_ids = _leaf_field_ids(schema_struct)
    spec = _default_spec(base)
    cols = spec_typed_cols(spec, schema_struct)

    newest_ts = max((s["timestamp-ms"] for s in base["snapshots"]), default=0)
    now_ms = max(now_ms, newest_ts)
    seq = base["last-sequence-number"] + 1
    snapshot_id = seq
    commit_uuid = uuid.uuid4().hex[:16]

    stat_files = _stat_data_files(sorted(set(new_files)), cols)
    added_rows = sum(f["record_count"] for f in stat_files)
    data_entries = [
        {
            "status": 1,
            "snapshot_id": snapshot_id,
            "sequence_number": seq,
            "file_sequence_number": seq,
            "data_file": {
                "content": 0,
                "file_path": f["file_path"],
                "file_format": "PARQUET",
                "partition": dict(f["partition"]),
                "record_count": f["record_count"],
                "file_size_in_bytes": f["file_size_in_bytes"],
                **_column_stats_fields(f.get("column_stats") or {}, leaf_ids),
                "split_offsets": f["split_offsets"],
                "equality_ids": None,
                "sort_order_id": 0,
            },
        }
        for f in stat_files
    ]
    del_entries = [
        {
            "status": 1,
            "snapshot_id": snapshot_id,
            "sequence_number": seq,
            "file_sequence_number": seq,
            "data_file": {
                "content": 1,  # POSITION_DELETES
                "file_path": s["delete_path"],
                "file_format": "PARQUET",
                "partition": dict(s["partition"]),
                "record_count": s["n_rows"],
                "file_size_in_bytes": s["file_size"],
                "value_counts": None,
                "null_value_counts": None,
                "lower_bounds": None,
                "upper_bounds": None,
                "split_offsets": None,
                "equality_ids": None,
                "sort_order_id": None,
            },
        }
        for s in sorted(del_stats, key=lambda s: s["delete_path"])
    ]
    n_pos = sum(int(s["n_rows"]) for s in del_stats)

    new_manifests = []
    for tag, content, entries, rows in (
        ("ud", 0, data_entries, added_rows),
        ("ux", 1, del_entries, n_pos),
    ):
        if not entries:
            continue
        mpath = os.path.join(
            meta_dir, f"{base['table-uuid']}-{tag}{seq}-{commit_uuid}.avro"
        )
        mlen = write_avro_ocf(
            mpath,
            manifest_entry_schema(cols),
            entries,
            {
                "schema": json.dumps(schema_struct).encode(),
                "schema-id": str(base["current-schema-id"]).encode(),
                "partition-spec": json.dumps(spec["fields"]).encode(),
                "partition-spec-id": str(spec["spec-id"]).encode(),
                "format-version": str(FORMAT_VERSION).encode(),
                "content": b"data" if content == 0 else b"deletes",
            },
        )
        new_manifests.append(
            {
                "manifest_path": mpath,
                "manifest_length": mlen,
                "partition_spec_id": spec["spec-id"],
                "content": content,
                "sequence_number": seq,
                "min_sequence_number": seq,
                "added_snapshot_id": snapshot_id,
                "added_data_files_count": len(entries),
                "existing_data_files_count": 0,
                "deleted_data_files_count": 0,
                "added_rows_count": rows,
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
                "partitions": partition_field_summaries(
                    [dict(e["data_file"]["partition"]) for e in entries],
                    [n for n, _f, _t in cols],
                    widths=spec_bound_widths(spec, schema_struct),
                ),
            }
        )

    cur = next(
        s
        for s in base["snapshots"]
        if s["snapshot-id"] == base["current-snapshot-id"]
    )
    _, prior_manifest_files, _ = read_avro_ocf(cur["manifest-list"])
    summary = {
        "operation": "overwrite",
        "added-data-files": str(len(stat_files)),
        "added-records": str(added_rows),
        "added-delete-files": str(len(del_stats)),
        "added-position-deletes": str(n_pos),
        "total-records": str(
            _prev_summary_counter(base, "total-records") + added_rows
        ),
        "total-position-deletes": str(_prev_total_pos_deletes(base) + n_pos),
        "total-equality-deletes": str(
            _prev_summary_counter(base, "total-equality-deletes")
        ),
    }
    file_list = [
        {
            "location": e["data_file"]["file_path"],
            "partition": dict(e["data_file"]["partition"]),
            "recordCount": int(e["data_file"]["record_count"]),
            "fileSizeInBytes": int(e["data_file"]["file_size_in_bytes"]),
        }
        for m_entries in (data_entries, del_entries)
        for e in m_entries
    ]
    updates = _snapshot_updates(
        table_dir, base, seq, base["current-snapshot-id"], commit_uuid,
        new_manifests + prior_manifest_files, summary, now_ms,
        file_list=file_list,
    )
    return publish(
        table_dir, version, base, _commit_requirements(base), updates,
        now_ms, catalog, table_name,
    )


def replace_partitions(
    spark,
    df,
    table_dir: str,
    now_ms: int | None = None,
    catalog=None,
    table_name: str | None = None,
    max_commit_retries: int = 3,
    writer_shards: int | None = None,
    max_records_per_file: int | None = None,
) -> dict:
    """DYNAMIC PARTITION OVERWRITE — ``INSERT OVERWRITE t`` with
    Spark's dynamic mode / Iceberg's ``ReplacePartitions``: retract
    every partition CELL the batch touches and land the batch, in ONE
    ``overwrite`` snapshot. Cells the batch does not touch are
    untouched; an empty batch is a no-op (never "truncate table").

    The retraction is ROW-LEVEL and transform-exact: the cell
    membership predicate recomputes each spec field's transform from
    its SOURCE column on the scan side (the same kernels the writer
    uses — identity/truncate/day/bucket/...), so rows in
    OLD-spec-generation files whose recomputed cell matches are
    retracted too — partition evolution never leaks stale rows into a
    replaced cell. Position-delete files + the staged batch commit
    through the same dual-manifest snapshot as :func:`update_where`.

    Batch schema follows the merge plane's conform rules minus
    evolution: absent OPTIONAL columns land as nulls, absent REQUIRED
    columns and unknown columns reject (overwrite never evolves the
    schema — use `merge_upsert` / `update_table_schema` for that).

    Scale shape: cost is O(touched cells' rows) + O(batch) — the scan
    prunes on the source columns (identity/range transforms push to
    parquet; bucket membership evaluates vectorized), untouched cells'
    files are dropped by Catalyst where pushdown applies, and the
    commit is metadata-bound. The copy-on-write alternative (drop
    whole files by metadata tuple) trades read-side delete debt for a
    heavier commit; this engine keeps the merge-on-read posture all
    its mutation planes share, with `rewrite_data_files` as the
    equalizer."""
    now_ms = int(time.time() * 1000) if now_ms is None else now_ms
    if catalog is not None and table_name is None:
        table_name = _default_table_name(table_dir)
    return commit_with_retries(
        lambda: _replace_once(
            spark, df, table_dir, now_ms, catalog, table_name,
            writer_shards, max_records_per_file,
        ),
        catalog,
        max_commit_retries,
    )


def _replace_once(
    spark, df, table_dir, now_ms, catalog, table_name, writer_shards,
    max_records_per_file,
) -> dict:
    from pyspark.sql import functions as F

    from tiered_storage_for_apache_kafka_spark.sources.iceberg.schema import (
        iceberg_schema_to_spark,
    )
    from tiered_storage_for_apache_kafka_spark.sources.iceberg.transforms import (
        transform_column,
    )
    from tiered_storage_for_apache_kafka_spark.sources.iceberg.writer import (
        _validate_append_shape,
        stage_data_files,
        write_iceberg_table,
    )
    from tiered_storage_for_apache_kafka_spark.sources.schema_evolution import (
        conform,
    )

    try:
        version, base, table_name = _current_state_meta(
            table_dir, catalog, table_name
        )
    except FileNotFoundError:
        base = None
    part_spec = None if base is None else derived_partition_spec(base)
    if base is None or base.get("current-snapshot-id", -1) == -1:
        # nothing committed: the overwrite IS the first write
        return write_iceberg_table(
            spark, df, table_dir, partition_spec=part_spec,
            now_ms=now_ms, catalog=catalog, table_name=table_name,
            writer_shards=writer_shards,
            max_records_per_file=max_records_per_file,
        )
    _validate_append_shape(base, part_spec, df.columns)

    # conform (no evolution): unknown columns and absent REQUIRED
    # columns reject; absent optionals null-fill; narrower types up-cast
    schema_struct = _current_schema_struct(base)
    table_cols = {f["name"] for f in schema_struct["fields"]}
    extra = sorted(set(df.columns) - table_cols)
    if extra:
        raise ValueError(
            f"overwrite batch carries unknown columns {extra} — "
            "replace_partitions never evolves the schema"
        )
    missing_required = [
        f["name"]
        for f in schema_struct["fields"]
        if f["required"] and f["name"] not in set(df.columns)
    ]
    if missing_required:
        raise ValueError(
            f"overwrite batch lacks REQUIRED columns {missing_required}"
        )
    df = conform(df, iceberg_schema_to_spark(schema_struct))

    spec = _default_spec(base)
    if not spec["fields"]:
        raise ValueError(
            "the table is unpartitioned: there are no cells to replace "
            "— use update_where / commit_position_deletes + append, or "
            "overwrite by recreating the table"
        )

    # the CELLS the batch touches, as a DISTRIBUTED frame (never
    # collected: a batch touching thousands of cells previously built
    # a linear OR-chain predicate whose Catalyst tree blew planning
    # time — ADVICE r11; the membership test is now one BROADCAST
    # left_semi join against the distinct-cells frame)
    id_to_name = {f["id"]: f["name"] for f in schema_struct["fields"]}
    dft = df
    cell_cols = []
    for f in spec["fields"]:
        src = id_to_name[f["source-id"]]
        if f["transform"] == "identity":
            cell_cols.append(f["name"])
            continue
        dft = transform_column(dft, src, f["transform"], f["name"])
        cell_cols.append(f["name"])
    cells_df = dft.select(
        *[F.col(c).alias(f"__cell_{i}") for i, c in enumerate(cell_cols)]
    ).distinct()
    # BOUNDED driver peek at the touched cells: when the batch touches
    # few cells (the overwhelmingly common overwrite — a day's
    # re-load, one source's refresh), their tuples feed metadata-grain
    # FILE pruning so untouched cells' files never reach the scan;
    # past the cap the peek stops (one row over, never O(cells)) and
    # the scan relies on the semi join alone — correct either way, and
    # the Catalyst OR-chain blowup (ADVICE r11) stays gone
    _CELL_PRUNE_CAP = 256
    head = cells_df.limit(_CELL_PRUNE_CAP + 1).collect()
    if not head:
        return base  # empty batch: no cells, no snapshot
    data_filter = None
    if len(head) <= _CELL_PRUNE_CAP:
        touched = {tuple(r) for r in head}
        spec_field_names = [f["name"] for f in spec["fields"]]

        def data_filter(d):
            part = d.get("partition") or {}
            if any(n not in part for n in spec_field_names):
                return True  # old-spec file: conservative keep
            return tuple(part[n] for n in spec_field_names) in touched

    # membership on the SCAN side, transforms recomputed via the same
    # kernels (prep hook adds the derived columns)
    probe_cols = {}
    for f in spec["fields"]:
        src = id_to_name[f["source-id"]]
        probe_cols[f["name"]] = (
            src if f["transform"] == "identity" else f"__rp_{f['name']}"
        )

    def prep(scan_df):
        for f in spec["fields"]:
            if f["transform"] == "identity":
                continue
            scan_df = transform_column(
                scan_df, id_to_name[f["source-id"]], f["transform"],
                f"__rp_{f['name']}",
            )
        return scan_df

    from tiered_storage_for_apache_kafka_spark.sources.iceberg.deletes import (
        match_position_deletes,
        write_matched_position_deletes,
    )

    scan, ctx = match_position_deletes(
        spark, table_dir, F.lit(True), meta=base, prep=prep,
        data_filter=data_filter,
    )
    if scan is not None:
        join_cond = F.lit(True)
        for i, (name, _pc) in enumerate(probe_cols.items()):
            join_cond = join_cond & F.col(probe_cols[name]).eqNullSafe(
                F.col(f"__cell_{i}")
            )
        matched = scan.join(F.broadcast(cells_df), join_cond, "left_semi")
        del_stats = write_matched_position_deletes(
            spark, table_dir, matched, ctx,
            writer_shards=writer_shards or 1,
        )
    else:
        del_stats = []
    new_files, _schema = stage_data_files(
        spark, df, table_dir, partition_spec=part_spec,
        max_records_per_file=max_records_per_file,
        writer_shards=writer_shards,
    )
    return _commit_update_once(
        table_dir, version, base, new_files, del_stats, now_ms, catalog,
        table_name,
    )
