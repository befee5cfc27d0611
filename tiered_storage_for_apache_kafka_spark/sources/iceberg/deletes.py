"""v2 row-level deletes: position/equality delete files + commits.

Split from the original sources/iceberg.py (r7); provenance and
parity citations live in the package __init__ and the function
docstrings.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from tiered_storage_for_apache_kafka_spark.sources.local_df import (
    local_rows_df,
)

from tiered_storage_for_apache_kafka_spark.sources.iceberg.commit import (
    _snapshot_updates,
)
from tiered_storage_for_apache_kafka_spark.sources.iceberg.manifests import (
    _field_id,
    manifest_entry_schema,
    partition_field_summaries,
    spec_bound_widths,
    spec_names,
    spec_typed_cols,
)
from tiered_storage_for_apache_kafka_spark.sources.iceberg.ocf import (
    FORMAT_VERSION,
    read_avro_ocf,
    write_avro_ocf,
)
from tiered_storage_for_apache_kafka_spark.sources.iceberg.scan import (
    _plan_snapshot,
    _read_plan_with_identity,
)
from tiered_storage_for_apache_kafka_spark.sources.iceberg.state import (
    _commit_requirements,
    _current_schema_struct,
    _current_state_meta,
    _default_spec,
    _default_table_name,
    _prev_summary_counter,
    _prev_total_pos_deletes,
    _prev_total_records,
    _specs_by_id,
    commit_with_retries,
    publish,
)


def _resolve_partition_names(meta: dict, partition_col) -> list[str]:
    """The delete planes' partition scope: every field of the table's
    DEFAULT spec (the only correct default — delete files are scoped
    to a full partition tuple, per spec); an explicit name (or list)
    remains an override for foreign layouts."""
    if partition_col is None:
        return spec_names(_default_spec(meta))
    if isinstance(partition_col, str):
        return [partition_col]
    return list(partition_col)


def _resolve_partition_cols(meta: dict, partition_col) -> list[tuple]:
    """Typed companion of :func:`_resolve_partition_names` —
    ``(name, field_id, type)`` triples from the default spec (explicit
    overrides keep the legacy int typing)."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg.manifests import (
        spec_typed_cols,
    )

    if partition_col is None:
        return spec_typed_cols(_default_spec(meta), _current_schema_struct(meta))
    names = (
        [partition_col]
        if isinstance(partition_col, str)
        else list(partition_col)
    )
    return [(n, 1000 + i, "int") for i, n in enumerate(names)]


def _unpartitioned_spec(meta: dict) -> dict | None:
    """The table's unpartitioned spec (``fields: []``) if one is
    registered — the spec global delete files are scoped to."""
    return next(
        (s for s in meta.get("partition-specs", []) if not s["fields"]), None
    )


def _hive_part_dir(names: list[str], values: dict) -> str:
    """Nested hive dir components for a partition tuple, spec order
    (``day=3/bucket=1``; nulls as ``__HIVE_DEFAULT_PARTITION__``)."""
    return os.sep.join(
        f"{n}={values[n] if values.get(n) is not None else '__HIVE_DEFAULT_PARTITION__'}"
        for n in names
    )



def _pos_delete_arrow_schema():
    """The spec's position-delete parquet shape (field ids 2147483546 /
    2147483545, non-null) — ONE definition shared by the delete writer
    and the delete-plane compaction so the two paths can never drift."""
    import pyarrow as pa

    return pa.schema(
        [
            pa.field(
                "file_path", pa.string(), nullable=False,
                metadata={b"PARQUET:field_id": b"2147483546"},
            ),
            pa.field(
                "pos", pa.int64(), nullable=False,
                metadata={b"PARQUET:field_id": b"2147483545"},
            ),
        ]
    )


def write_position_deletes(
    spark,
    table_dir: str,
    predicate,
    partition_col: str | None = None,
    meta: dict | None = None,
    writer_shards: int = 1,
    prep=None,
) -> list[dict]:
    """Plan and write spec-shaped **position-delete files** for every
    current-snapshot row matching ``predicate`` (a Spark SQL string or
    Column over the table schema). Fully declarative and distributed:
    the match scan is a native parquet read projecting only the
    predicate columns plus the hidden ``_metadata`` file/row-index
    columns (Catalyst prunes the rest), and each partition's matches
    are written by one Arrow task as a parquet file with the spec's
    exact shape — columns ``file_path`` (field id 2147483546) and
    ``pos`` (field id 2147483545), sorted by (file_path, pos), stored
    beside the data files in the partition dir (spec "Position Delete
    Files"). Returns per-file stats for :func:`commit_position_deletes`;
    rows that match nothing produce no files.

    ``writer_shards > 1`` is the 100 TB knob: each partition's matches
    additionally split by a deterministic file-path hash bucket, so a
    hot partition's delete set is built by N parallel Arrow tasks into
    N delete files instead of one giant single-task file (multiple
    position-delete files per partition are spec-legal; readers union
    them). One file per partition stays the small-table default — no
    extra files to plan when the delete set is small."""
    matched, ctx = match_position_deletes(
        spark, table_dir, predicate, partition_col=partition_col,
        meta=meta, prep=prep,
    )
    return write_matched_position_deletes(
        spark, table_dir, matched, ctx, writer_shards=writer_shards
    )


def match_position_deletes(
    spark,
    table_dir: str,
    predicate,
    partition_col: str | None = None,
    meta: dict | None = None,
    prep=None,
    data_filter=None,
):
    """Phase 1 of :func:`write_position_deletes`: the MERGED-VIEW match
    with row identity. Returns ``(matched, ctx)`` — ``matched`` is the
    matching rows with every table column plus ``(__iceberg_file,
    __iceberg_pos)`` (None when the table is empty), ``ctx`` what the
    write phase needs. Split out so `update_where` can run its
    null-guard probe and stage the updated copies from ONE persisted
    scan of the matched rows, with NO file written before the guard
    passes."""
    from pyspark.sql import functions as F

    if meta is None:
        _v, meta, _t = _current_state_meta(table_dir)
    # derive the partition fields from the table's default spec (the
    # default for every caller; an explicit name stays an override)
    part_typed = _resolve_partition_cols(meta, partition_col)
    ctx = {"part_typed": part_typed, "data": []}
    if meta.get("current-snapshot-id", -1) == -1:
        return None, ctx
    cur = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    data, deletes = _plan_snapshot(cur, None)
    if data_filter is not None:
        # metadata-grain file pruning (a caller-supplied predicate over
        # each entry's partition tuple — replace_partitions passes its
        # touched-cell membership): files that provably cannot match
        # never reach the scan. Sound to subset: position deletes match
        # per (file, pos) and equality deletes per partition, so the
        # merged view of a FILE SUBSET is the subset of the merged view.
        data = [d for d in data if data_filter(d)]
    if not data:
        return None, ctx
    ctx["data"] = data
    cond = F.expr(predicate) if isinstance(predicate, str) else predicate
    # match against the MERGED view: a row already deleted (by any
    # plane) must not re-match (duplicate delete rows are spec-legal but
    # inflate added-position-deletes and every later delete scan)
    df = _read_plan_with_identity(spark, table_dir, meta, data, deletes)
    if prep is not None:
        # caller-provided projection hook: lets the predicate reference
        # DERIVED columns (e.g. recomputed partition transforms for the
        # cell-membership match in replace_partitions) without the scan
        # schema carrying them; it only adds columns, so applying it to
        # the merged view selects the same rows
        df = prep(df)
    return df.where(cond), ctx


def write_matched_position_deletes(
    spark, table_dir: str, matched, ctx: dict, writer_shards: int = 1
) -> list[dict]:
    """Phase 2 of :func:`write_position_deletes`: project the matched
    rows' (file, pos) identities, attach each file's partition tuple,
    and write the spec-shaped delete files (one Arrow task per
    partition [x shard])."""
    from pyspark.sql import functions as F

    if matched is None:
        return []
    part_typed = ctx["part_typed"]
    data = ctx["data"]
    part_names = [n for n, _f, _t in part_typed]
    part_cols = [f"__iceberg_part_{i}" for i in range(len(part_names))]
    part_map = local_rows_df(
        spark,
        [
            (d["file_path"], *[d["partition"].get(n) for n in part_names])
            for d in data
        ],
        ", ".join(
            ["__iceberg_file string"]
            + [f"{c} {t}" for c, (_n, _f, t) in zip(part_cols, part_typed)]
        ),
    )
    matches = (
        matched.select("__iceberg_file", "__iceberg_pos")
        .join(F.broadcast(part_map), "__iceberg_file")
    )
    group_cols = list(part_cols)
    if writer_shards > 1:
        # deterministic file-path shard: positions of ONE data file
        # always land in the same delete file (keeps each file's
        # delete rows contiguous and sorted for the reader's merge)
        matches = matches.withColumn(
            "__iceberg_shard",
            F.pmod(F.xxhash64("__iceberg_file"), F.lit(writer_shards)),
        )
        group_cols.append("__iceberg_shard")
    token = uuid.uuid4().hex[:16]
    names = list(part_names)
    types = [t for _n, _f, t in part_typed]
    sharded = writer_shards > 1

    def _write_group(pdf):
        import json as _json

        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        pdf = pdf.sort_values(["__iceberg_file", "__iceberg_pos"])
        values = {}
        for n, c, t in zip(names, part_cols, types):
            v = pdf[c].iloc[0]
            if pd.isna(v):
                values[n] = None
            else:
                values[n] = str(v) if t == "string" else int(v)
        out_dir = os.path.join(
            table_dir, "deletes", _hive_part_dir(names, values)
        )
        os.makedirs(out_dir, exist_ok=True)
        tag = "-".join(str(values[n]) for n in names)
        if sharded:
            tag += f"-s{int(pdf['__iceberg_shard'].iloc[0])}"
        path = os.path.join(out_dir, f"delete-{token}-p{tag}.parquet")
        schema = _pos_delete_arrow_schema()
        tbl = pa.Table.from_arrays(
            [
                pa.array(pdf["__iceberg_file"], pa.string()),
                pa.array(pdf["__iceberg_pos"], pa.int64()),
            ],
            schema=schema,
        )
        pq.write_table(tbl, path, compression="zstd")
        return pd.DataFrame(
            [[path, _json.dumps(values), len(pdf), os.path.getsize(path)]],
            columns=["delete_path", "partition_json", "n_rows", "file_size"],
        )

    stats = matches.groupBy(*group_cols).applyInPandas(
        _write_group,
        "delete_path string, partition_json string, n_rows bigint, "
        "file_size bigint",
    )
    return [
        {
            "delete_path": r["delete_path"],
            "partition": json.loads(r["partition_json"]),
            "n_rows": r["n_rows"],
            "file_size": r["file_size"],
        }
        for r in stats.collect()
    ]


def commit_position_deletes(
    spark,
    table_dir: str,
    predicate,
    partition_col: str | None = None,
    now_ms: int | None = None,
    catalog=None,
    table_name: str | None = None,
    max_commit_retries: int = 3,
    writer_shards: int = 1,
) -> dict:
    """Row-level DELETE as an Iceberg v2 **row-delta commit**: write
    position-delete files for the matching rows (merge-on-read — data
    files are never rewritten; `DELETE FROM t WHERE ...` semantics) and
    commit them as a new snapshot whose manifest list adds a DELETE
    manifest (content=1). Matching zero rows returns the current
    metadata unchanged — no empty snapshot. With ``catalog``, the
    pointer moves through the REST-catalog protocol and a lost race
    reloads, RE-PLANS the deletes against the new head (the predicate
    must evaluate against the data files that are actually current),
    and retries; a lost attempt's staged delete files stay behind as
    unreferenced orphans, the same crash-safe failure mode as staged
    append manifests."""
    now_ms = int(time.time() * 1000) if now_ms is None else now_ms
    if catalog is not None and table_name is None:
        table_name = _default_table_name(table_dir)

    def attempt():
        version, base, _name = _current_state_meta(
            table_dir, catalog, table_name
        )
        stats = write_position_deletes(
            spark, table_dir, predicate, partition_col, meta=base,
            writer_shards=writer_shards,
        )
        if not stats:
            return base
        return _commit_deletes_once(
            table_dir, version, base, stats,
            _resolve_partition_names(base, partition_col), now_ms,
            catalog, table_name,
        )

    return commit_with_retries(attempt, catalog, max_commit_retries)


def write_equality_deletes(
    spark,
    table_dir: str,
    keys_df,
    equality_cols: list[str],
    partition_col: str | None = None,
    meta: dict | None = None,
    global_scope: bool = False,
    allow_null_partition: bool = False,
) -> list[dict]:
    """Write spec-shaped **equality-delete files** (content=2) for the
    key rows in ``keys_df`` — the CDC-writer primitive: delete every
    row matching a key WITHOUT scanning the data (vs position deletes,
    which cost one corpus scan to plan). ``keys_df`` must carry the
    equality columns plus the partition column (an equality delete is
    scoped to its partition, per spec); each partition's distinct keys
    are written by one Arrow task as a parquet file of exactly the
    equality columns, with their Iceberg field ids, sorted. Returns
    stats (with ``equality_ids``) for :func:`commit_equality_deletes`.

    ``global_scope=True`` writes a GLOBAL equality delete instead
    (spec: a delete file scoped to an UNPARTITIONED spec applies to
    every partition): ``keys_df`` needs only the equality columns, one
    delete file covers the whole table, and the reader matches with no
    partition conditions — "delete this key wherever it lives", the
    CDC shape when the key's partition is unknown (e.g. the
    partitioning timestamp changed)."""
    if meta is None:
        _v, meta, _t = _current_state_meta(table_dir)
    if global_scope:
        part_typed, part_names = [], []
    else:
        # derive the partition fields from the table's default spec
        # (the default for every caller; an explicit name stays an
        # override)
        part_typed = _resolve_partition_cols(meta, partition_col)
        part_names = [n for n, _f, _t in part_typed]
    if meta.get("current-snapshot-id", -1) == -1:
        # no data has ever been committed: an equality delete applies
        # only to data files with a strictly lower sequence number, so
        # there is nothing to delete — no-op (mirrors the position-
        # delete path) instead of writing orphan files and crashing in
        # _commit_deletes_once's current-snapshot lookup
        return []
    schema_struct = _current_schema_struct(meta)
    ids = [_field_id(schema_struct, c) for c in equality_cols]
    missing = [
        c for c in [*part_names, *equality_cols] if c not in keys_df.columns
    ]
    if missing:
        raise ValueError(f"keys_df lacks columns {missing}")
    token = uuid.uuid4().hex[:16]
    cols = list(equality_cols)
    names = list(part_names)
    types = {n: t for n, _f, t in part_typed}

    def _write_group(pdf):
        import json as _json

        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        values = {}
        for n in names:
            v = pdf[n].iloc[0]
            if pd.isna(v):
                values[n] = None
            else:
                values[n] = str(v) if types[n] == "string" else int(v)
        out_dir = os.path.join(
            table_dir, "deletes", _hive_part_dir(names, values)
        )
        os.makedirs(out_dir, exist_ok=True)
        tag = "-".join(str(values[n]) for n in names)
        path = os.path.join(out_dir, f"delete-eq-{token}-p{tag}.parquet")
        body = pdf[cols].sort_values(cols).reset_index(drop=True)
        tbl = pa.Table.from_pandas(body, preserve_index=False)
        fields = [
            f.with_metadata(
                {b"PARQUET:field_id": str(ids[cols.index(f.name)]).encode()}
            )
            for f in tbl.schema
        ]
        tbl = tbl.cast(pa.schema(fields))
        pq.write_table(tbl, path, compression="zstd")
        return pd.DataFrame(
            [[path, _json.dumps(values), len(body), os.path.getsize(path)]],
            columns=["delete_path", "partition_json", "n_rows", "file_size"],
        )

    from pyspark.sql import functions as F

    deduped = keys_df.select(*part_names, *equality_cols).distinct()
    if part_names and not allow_null_partition:
        # a NULL partition value in a PARTITION-SCOPED delete is
        # usually a caller bug: unless the key genuinely lives in the
        # table's NULL partition cell (the read-side eqNullSafe match
        # handles that case exactly), the null never matches the data
        # file's recomputed NON-null partition value and the delete is
        # a silent no-op — the rows it should retract reappear. Reject
        # by default; "delete this key wherever it lives" is
        # global_scope=True, and an INTENTIONAL null-cell delete is
        # allow_null_partition=True.
        null_probe = deduped.where(
            " OR ".join(f"`{n}` IS NULL" for n in part_names)
        )
        if null_probe.limit(1).count() > 0:
            raise ValueError(
                f"keys_df has NULL values in partition column(s) "
                f"{part_names}; a partition-scoped equality delete "
                "with a NULL partition matches only rows whose own "
                "partition value is NULL — pass global_scope=True to "
                "delete the key table-wide, or "
                "allow_null_partition=True to target the NULL cell "
                "deliberately"
            )
    # global scope: ONE group/file for the whole key set (a constant
    # grouping key — groupBy() with zero columns has no Arrow path)
    grouped = (
        deduped.groupBy(F.lit(1).alias("__g"))
        if global_scope
        else deduped.groupBy(*part_names)
    )
    stats = grouped.applyInPandas(
        _write_group,
        "delete_path string, partition_json string, n_rows bigint, "
        "file_size bigint",
    )
    return [
        {
            "delete_path": r["delete_path"],
            "partition": json.loads(r["partition_json"]),
            "n_rows": r["n_rows"],
            "file_size": r["file_size"],
            "equality_ids": ids,
        }
        for r in stats.collect()
    ]


def commit_equality_deletes(
    spark,
    table_dir: str,
    keys_df,
    equality_cols: list[str],
    partition_col: str | None = None,
    now_ms: int | None = None,
    catalog=None,
    table_name: str | None = None,
    max_commit_retries: int = 3,
    global_scope: bool = False,
    allow_null_partition: bool = False,
) -> dict:
    """Row-level DELETE by key as an Iceberg v2 row-delta commit of
    equality-delete files — the upsert building block real CDC writers
    (Flink CDC into Iceberg) use: commit the delete of a key set
    without reading the data, then append the replacement rows; the
    strict sequence-number rule (applies only to data files with seq
    STRICTLY below the delete's) guarantees the replacements survive.
    An empty key set returns the current metadata unchanged.

    ``global_scope=True`` commits a GLOBAL equality delete — one
    delete file scoped to an UNPARTITIONED spec (registered on first
    use, never made the default), matching its keys in EVERY partition
    (Iceberg spec: delete files with an unpartitioned spec apply
    table-wide). The CDC shape when a key's partition is unknown —
    e.g. an upsert whose partitioning timestamp changed."""
    now_ms = int(time.time() * 1000) if now_ms is None else now_ms
    if catalog is not None and table_name is None:
        table_name = _default_table_name(table_dir)

    def attempt():
        version, base, _name = _current_state_meta(
            table_dir, catalog, table_name
        )
        stats = write_equality_deletes(
            spark, table_dir, keys_df, equality_cols, partition_col,
            meta=base, global_scope=global_scope,
            allow_null_partition=allow_null_partition,
        )
        if not stats:
            return base
        return _commit_deletes_once(
            table_dir, version, base, stats,
            [] if global_scope
            else _resolve_partition_names(base, partition_col),
            now_ms, catalog, table_name, global_scope=global_scope,
        )

    return commit_with_retries(attempt, catalog, max_commit_retries)


def _commit_deletes_once(
    table_dir: str,
    version: int,
    base: dict,
    stats: list[dict],
    partition_cols: list[str],
    now_ms: int,
    catalog,
    table_name: str | None,
    global_scope: bool = False,
) -> dict:
    meta_dir = os.path.join(table_dir, "metadata")
    os.makedirs(meta_dir, exist_ok=True)
    # global deletes scope to the table's UNPARTITIONED spec,
    # registered on first use (never made the default — data keeps its
    # layout; only the delete file is table-wide)
    spec = _unpartitioned_spec(base) if global_scope else _default_spec(base)
    spec_updates: list[dict] = []
    if spec is None:
        spec = {
            "spec-id": max(s["spec-id"] for s in base["partition-specs"]) + 1,
            "fields": [],
        }
        spec_updates = [{"action": "add-spec", "spec": spec}]
    newest_ts = max((s["timestamp-ms"] for s in base["snapshots"]), default=0)
    now_ms = max(now_ms, newest_ts)  # snapshot-log monotonicity clamp
    seq = base["last-sequence-number"] + 1
    snapshot_id = seq
    commit_uuid = uuid.uuid4().hex[:16]
    entries = [
        {
            "status": 1,  # ADDED
            "snapshot_id": snapshot_id,
            "sequence_number": seq,
            "file_sequence_number": seq,
            "data_file": {
                # 1 = POSITION_DELETES, 2 = EQUALITY_DELETES
                "content": 2 if s.get("equality_ids") else 1,
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
                "equality_ids": s.get("equality_ids") or None,
                "sort_order_id": None,
            },
        }
        for s in sorted(stats, key=lambda s: s["delete_path"])
    ]
    schema_struct = _current_schema_struct(base)
    entry_cols = (
        spec_typed_cols(spec, schema_struct)
        if spec_names(spec) == list(partition_cols)
        else list(partition_cols)
    )
    manifest_path = os.path.join(
        meta_dir, f"{base['table-uuid']}-d{seq}-{commit_uuid}.avro"
    )
    manifest_len = write_avro_ocf(
        manifest_path,
        manifest_entry_schema(entry_cols),
        entries,
        {
            "schema": json.dumps(schema_struct).encode(),
            "schema-id": str(base["current-schema-id"]).encode(),
            "partition-spec": json.dumps(spec["fields"]).encode(),
            "partition-spec-id": str(spec["spec-id"]).encode(),
            "format-version": str(FORMAT_VERSION).encode(),
            "content": b"deletes",
        },
    )
    return _finish_delete_commit(
        table_dir, version, base, stats, now_ms, catalog, table_name,
        seq, commit_uuid, manifest_path, manifest_len,
        len(entries), delete_spec=spec, extra_updates=spec_updates,
    )


def _finish_delete_commit(
    table_dir: str,
    version: int,
    base: dict,
    stats: list[dict],
    now_ms: int,
    catalog,
    table_name: str | None,
    seq: int,
    commit_uuid: str,
    manifest_path: str,
    manifest_len: int,
    n_entries: int,
    prior_manifests: list[dict] | None = None,
    removed_pos_deletes: int = 0,
    summary_extra: dict | None = None,
    delete_spec: dict | None = None,
    extra_updates: list[dict] | None = None,
    delete_manifests: list[dict] | None = None,
    removed_eq_deletes: int = 0,
) -> dict:
    """Shared tail of every delete-flavored commit (v2 parquet
    row-deltas and v3-style deletion vectors): build the DELETE
    manifest-list entry and the snapshot summary with the bumped delete
    counters, then hand the snapshot to the shared tail and publish.

    ``prior_manifests`` overrides the carried-over manifest list (the
    DV supersede path rewrites prior delete manifests to tombstone the
    replaced DV entries); ``removed_pos_deletes`` is subtracted from
    the running total (a superseding DV's cardinality includes the
    union of the old one, which must not double-count);
    ``delete_spec`` overrides the manifest's spec (global equality
    deletes scope to the unpartitioned spec); ``extra_updates`` ride
    along in the same commit (e.g. that spec's add-spec); and
    ``delete_manifests`` replaces the single built manifest entry with
    caller-built manifest-file dicts — a manifest scopes to exactly ONE
    partition spec, so a commit spanning several spec GENERATIONS
    (rewrite_position_deletes over an evolved table) writes one
    manifest per generation and hands them all in here (then
    ``manifest_path``/``manifest_len``/``n_entries`` are unused)."""
    n_del_rows = sum(int(s["n_rows"]) for s in stats)
    n_pos = sum(int(s["n_rows"]) for s in stats if not s.get("equality_ids"))
    n_eq = n_del_rows - n_pos
    if delete_manifests is not None:
        new_manifests = list(delete_manifests)
    else:
        parts = [dict(s["partition"]) for s in stats]
        # summary field order follows the stats' partition dicts
        # (written in spec order by every in-repo delete writer)
        part_names = list(parts[0]) if parts else []
        manifest_spec = delete_spec or _default_spec(base)
        new_manifests = [
            {
                "manifest_path": manifest_path,
                "manifest_length": manifest_len,
                "partition_spec_id": manifest_spec["spec-id"],
                "content": 1,  # DELETES manifest
                "sequence_number": seq,
                "min_sequence_number": seq,
                "added_snapshot_id": seq,
                "added_data_files_count": n_entries,
                "existing_data_files_count": 0,
                "deleted_data_files_count": 0,
                "added_rows_count": n_del_rows,
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
                "partitions": partition_field_summaries(
                    parts,
                    part_names,
                    widths=spec_bound_widths(
                        manifest_spec, _current_schema_struct(base)
                    ),
                ),
            }
        ]
    if prior_manifests is None:
        cur = next(
            s
            for s in base["snapshots"]
            if s["snapshot-id"] == base["current-snapshot-id"]
        )
        _, prior_manifests, _ = read_avro_ocf(cur["manifest-list"])
    summary = {
        "operation": "delete",
        "added-delete-files": str(n_entries),
        "added-position-deletes": str(n_pos),
        "added-equality-deletes": str(n_eq),
        "total-position-deletes": str(
            _prev_total_pos_deletes(base) + n_pos - removed_pos_deletes
        ),
        "total-equality-deletes": str(
            _prev_summary_counter(base, "total-equality-deletes")
            + n_eq
            - removed_eq_deletes
        ),
        "total-records": str(_prev_total_records(base)),
        **{k: str(v) for k, v in (summary_extra or {}).items()},
    }
    file_list = [
        {
            "location": s["delete_path"],
            # single-field specs keep the scalar FILE_LIST shape every
            # existing consumer reads; multi-field specs record the dict
            "partition": (
                next(iter(s["partition"].values()))
                if len(s["partition"]) == 1
                else dict(s["partition"])
            ),
            "recordCount": int(s["n_rows"]),
            "fileSizeInBytes": int(s["file_size"]),
        }
        for s in stats
    ]
    updates = list(extra_updates or []) + _snapshot_updates(
        table_dir, base, seq, base["current-snapshot-id"], commit_uuid,
        new_manifests + prior_manifests, summary, now_ms,
        file_list=file_list,
    )
    return publish(
        table_dir, version, base, _commit_requirements(base), updates,
        now_ms, catalog, table_name,
    )


def rewrite_position_deletes(
    spark,
    table_dir: str,
    now_ms: int | None = None,
    catalog=None,
    table_name: str | None = None,
    max_commit_retries: int = 3,
    max_rows_per_delete_file: int | None = None,
) -> dict:
    """Iceberg ``rewritePositionDeleteFiles`` maintenance — the delete
    plane's compaction (the fifth action, beside expire / both rewrites
    / orphan sweep): merge each partition cell's accumulated v2 parquet
    position-delete files into ONE sorted file and DROP DANGLING rows
    (positions referencing data files no longer live in the current
    snapshot). Data files are untouched — this is the light
    counterpart to ``rewrite_data_files``, which materializes deletes
    by rewriting the data. DVs (v3, one live per data file by spec)
    and equality deletes are left alone. Cells are compacted under
    EVERY spec generation the table ever had (matching the Java
    action): after ``update_partition_spec``, old-generation delete
    files merge within their own generation's cells, each generation's
    merged files committed in a manifest scoped to its own spec. No-op
    when no cell of any generation holds more than one target file.

    ``max_rows_per_delete_file`` caps each merged output file (the
    delete-plane analog of the writer's ``max_records_per_file``): a
    hot cell's merged set slices into several consecutively-sorted
    files instead of one unbounded Arrow write — multiple sorted files
    per cell are spec-legal, and the cap bounds the per-task pandas
    memory a skewed delete plane would otherwise concentrate.

    Scale shape: one distributed read of exactly the target delete
    files, a semi-join against the live-path set (shuffle, never a
    driver collect of positions), and one Arrow write task per
    partition cell, O(delete bytes) independent of data bytes — with
    the row cap bounding any single task. Merged files take the new
    snapshot's sequence number: spec-legal because a position delete
    names an exact (path, pos) and part-file paths are attempt-unique,
    so widening the sequence window cannot match a later file. The
    replaced originals tombstone (status=2) in their manifests,
    preserving incremental-window retraction guards.

    Keyed-consumer safety (r11): a cell whose inputs are ALL
    ``convert_equality_deletes`` outputs merges under the
    ``delete-eqconv-merged-*`` name, keeping the view-neutral
    provenance the keyed-changelog stream skips — so running this
    action between a mirror's checkpoints never forces a re-bootstrap.
    Mixed cells (organic positional files present) merge under the
    plain name and correctly keep the positional-delete refusal."""
    now_ms = int(time.time() * 1000) if now_ms is None else now_ms
    if catalog is not None and table_name is None:
        table_name = _default_table_name(table_dir)
    return commit_with_retries(
        lambda: _rewrite_position_deletes_once(
            spark, table_dir, now_ms, catalog, table_name,
            max_rows_per_delete_file,
        ),
        catalog,
        max_commit_retries,
    )


def _rewrite_position_deletes_once(
    spark,
    table_dir: str,
    now_ms: int,
    catalog,
    table_name: str | None,
    max_rows_per_delete_file: int | None = None,
) -> dict:
    from pyspark.sql import functions as F

    from tiered_storage_for_apache_kafka_spark.sources.deletion_vectors import (
        _tombstone_superseded,
    )

    version, base, table_name = _current_state_meta(
        table_dir, catalog, table_name
    )
    if base.get("current-snapshot-id", -1) == -1:
        return base
    cur = next(
        s
        for s in base["snapshots"]
        if s["snapshot-id"] == base["current-snapshot-id"]
    )
    data, deletes = _plan_snapshot(cur, None)
    default_sid = int(_default_spec(base)["spec-id"])
    specs_by_id = {
        int(sp["spec-id"]): sp for sp in base["partition-specs"]
    }
    # targets: live v2 parquet position-delete files of EVERY spec
    # generation — after partition evolution, old-generation delete
    # files compact within their own generation, like the Java action
    # (DV locators are PUFFIN-backed; equality deletes are content=2;
    # both excluded by construction)
    targets = [
        d
        for d in deletes
        if d.get("content") == 1
        and not d.get("referenced_data_file")
        and str(d.get("file_path", "")).endswith(".parquet")
    ]
    # group per (spec generation, partition cell); an unknown spec id
    # is metadata corruption — raise, never cluster under a guess
    by_cell: dict[str, list[dict]] = {}
    cell_names: dict[str, list[str]] = {}
    for d in targets:
        sid = int(d.get("_spec_id", default_sid))
        if sid not in specs_by_id:
            raise KeyError(
                f"delete manifest references partition-spec-id {sid} "
                "not present in table metadata"
            )
        names = spec_names(specs_by_id[sid])
        key = json.dumps(
            {
                "sid": sid,
                "part": {n: d["partition"].get(n) for n in names},
            },
            sort_keys=True,
        )
        by_cell.setdefault(key, []).append(d)
        cell_names[key] = names
    merge_groups = {k: v for k, v in by_cell.items() if len(v) > 1}
    if not merge_groups:
        return base  # already one file per cell: nothing to merge

    group_paths = {
        k: sorted(d["file_path"] for d in v) for k, v in merge_groups.items()
    }
    path_to_group = {
        p: k for k, ps in group_paths.items() for p in ps
    }
    # VIEW-NEUTRAL provenance survives the merge: a cell whose inputs
    # are ALL `delete-eqconv-` conversion outputs merges into files
    # named `delete-eqconv-merged-*`, which the keyed-changelog
    # consumer's conversion skip (incremental.py, prefix
    # "delete-eqconv-") recognizes — otherwise running this action
    # between a keyed consumer's checkpoints would hand it the
    # permanent positional-delete refusal and force a re-bootstrap.
    # Sound by composition: every merged position was covered by a
    # live equality delete (the conversion's own invariant, gated by
    # the same GC-horizon condition the consumer checks), and dropping
    # dangling rows only shrinks that set. A MIXED cell (conversion +
    # organic positional files) keeps the plain name: its positions
    # are not all eq-covered, so the refusal is correct there.
    eqconv_pure_groups = {
        k
        for k, ps in group_paths.items()
        if all(
            os.path.basename(p).startswith("delete-eqconv-") for p in ps
        )
    }
    all_paths = sorted(path_to_group)
    live_paths = local_rows_df(
        spark, [(d["file_path"],) for d in data], "file_path string"
    )
    from tiered_storage_for_apache_kafka_spark.sources.iceberg.scan import (
        _norm_file_expr,
    )

    rows = (
        spark.read.parquet(*all_paths)
        # input_file_name() is a URI (scheme + percent-encoding);
        # _norm_file_expr decodes it back to the raw metadata path so
        # hive dirs with URI-special chars (string partition values
        # with spaces etc.) still map to their merge group
        .withColumn("__src", _norm_file_expr(F.input_file_name()))
        # dangling drop: positions of data files the current snapshot
        # no longer lists simply vanish from the merged output
        .join(live_paths, "file_path", "left_semi")
    )
    grp_map = local_rows_df(
        spark, list(path_to_group.items()), "__src string, __grp string"
    )
    rows = rows.join(F.broadcast(grp_map), "__src")
    token = uuid.uuid4().hex[:16]
    grp_names = dict(cell_names)  # closure-shipped: small, one per cell
    row_cap = max_rows_per_delete_file
    eqconv_pure = set(eqconv_pure_groups)  # closure-shipped

    def _merge_group(pdf):
        import json as _json

        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        grp = pdf["__grp"].iloc[0]
        meta = _json.loads(grp)
        values, names = meta["part"], grp_names[grp]
        pdf = pdf.sort_values(["file_path", "pos"])
        out_dir = os.path.join(
            table_dir, "deletes", _hive_part_dir(names, values)
        )
        os.makedirs(out_dir, exist_ok=True)
        tag = "-".join(str(values[n]) for n in names) or "unpartitioned"
        # row cap: slice the cell's sorted merge into k consecutive
        # files (multiple sorted files per cell are spec-legal) so a
        # hot cell cannot OOM one Arrow write task
        cap = row_cap if row_cap and row_cap > 0 else len(pdf) or 1
        out = []
        schema = _pos_delete_arrow_schema()
        stem = (
            "delete-eqconv-merged" if grp in eqconv_pure else "delete-merged"
        )
        for ci, lo in enumerate(range(0, len(pdf), cap)):
            chunk = pdf.iloc[lo : lo + cap]
            path = os.path.join(
                out_dir,
                f"{stem}-{token}-p{tag}-s{meta['sid']}-k{ci}.parquet",
            )
            tbl = pa.Table.from_arrays(
                [
                    pa.array(chunk["file_path"], pa.string()),
                    pa.array(chunk["pos"], pa.int64()),
                ],
                schema=schema,
            )
            pq.write_table(tbl, path, compression="zstd")
            out.append([path, grp, len(chunk), os.path.getsize(path)])
        return pd.DataFrame(
            out,
            columns=["delete_path", "partition_json", "n_rows", "file_size"],
        )

    merged = []
    for r in (
        rows.groupBy("__grp")
        .applyInPandas(
            _merge_group,
            "delete_path string, partition_json string, n_rows bigint, "
            "file_size bigint",
        )
        .collect()
    ):
        key = json.loads(r["partition_json"])
        names = cell_names[r["partition_json"]]
        merged.append(
            {
                "delete_path": r["delete_path"],
                "sid": int(key["sid"]),
                # the group KEY is alphabetical (sort_keys); the
                # committed partition dict must be SPEC-ORDERED — the
                # manifest summary array is positional in spec field
                # order, and a reordered dict would misalign every
                # field's bounds
                "partition": {n: key["part"].get(n) for n in names},
                "n_rows": int(r["n_rows"]),
                "file_size": int(r["file_size"]),
            }
        )

    meta_dir = os.path.join(table_dir, "metadata")
    os.makedirs(meta_dir, exist_ok=True)
    newest_ts = max((s["timestamp-ms"] for s in base["snapshots"]), default=0)
    now_ms = max(now_ms, newest_ts)
    seq = base["last-sequence-number"] + 1
    snapshot_id = seq
    commit_uuid = uuid.uuid4().hex[:16]
    schema_struct = _current_schema_struct(base)

    # ONE manifest per spec generation: a manifest scopes to a single
    # partition spec, so each generation's merged files commit under
    # their own spec id (and summary widths) — the manifest-list then
    # carries one entry per generation touched
    delete_manifests: list[dict] = []
    n_entries_total = 0
    for sid in sorted({s["sid"] for s in merged}):
        spec = specs_by_id[sid]
        gen = [s for s in merged if s["sid"] == sid]
        entries = [
            {
                "status": 1,
                "snapshot_id": snapshot_id,
                "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": {
                    "content": 1,
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
            for s in sorted(gen, key=lambda s: s["delete_path"])
        ]
        n_entries_total += len(entries)
        manifest_path = os.path.join(
            meta_dir,
            f"{base['table-uuid']}-rpd{seq}-s{sid}-{commit_uuid}.avro",
        )
        manifest_len = write_avro_ocf(
            manifest_path,
            manifest_entry_schema(spec_typed_cols(spec, schema_struct)),
            entries,
            {
                "schema": json.dumps(schema_struct).encode(),
                "schema-id": str(base["current-schema-id"]).encode(),
                "partition-spec": json.dumps(spec["fields"]).encode(),
                "partition-spec-id": str(sid).encode(),
                "format-version": str(FORMAT_VERSION).encode(),
                "content": b"deletes",
            },
        )
        gen_names = spec_names(spec)
        delete_manifests.append(
            {
                "manifest_path": manifest_path,
                "manifest_length": manifest_len,
                "partition_spec_id": sid,
                "content": 1,
                "sequence_number": seq,
                "min_sequence_number": seq,
                "added_snapshot_id": snapshot_id,
                "added_data_files_count": len(entries),
                "existing_data_files_count": 0,
                "deleted_data_files_count": 0,
                "added_rows_count": sum(s["n_rows"] for s in gen),
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
                "partitions": partition_field_summaries(
                    [dict(s["partition"]) for s in gen],
                    gen_names,
                    widths=spec_bound_widths(spec, schema_struct),
                ),
            }
        )

    # tombstone every replaced original in its own manifest (the DV
    # supersede rewriter keys on (path, referenced_data_file) — a
    # parquet position delete's locator is None, so the pair is exact)
    sup_stats = [
        {
            "superseded": [
                {
                    "puffin_path": d["file_path"],
                    "referenced_data_file": None,
                    "cardinality": int(d["record_count"]),
                }
                for v in merge_groups.values()
                for d in v
            ]
        }
    ]
    prior_manifests, removed_pos, _n = _tombstone_superseded(
        base, sup_stats, meta_dir, seq, snapshot_id, commit_uuid
    )
    return _finish_delete_commit(
        table_dir, version, base, merged, now_ms, catalog, table_name,
        seq, commit_uuid, "", 0,
        n_entries_total, prior_manifests=prior_manifests,
        removed_pos_deletes=removed_pos,
        summary_extra={"rewritten-delete-files": str(len(path_to_group))},
        delete_manifests=delete_manifests,
    )


def convert_equality_deletes(
    spark,
    table_dir: str,
    now_ms: int | None = None,
    catalog=None,
    table_name: str | None = None,
    max_commit_retries: int = 3,
    max_rows_per_delete_file: int | None = None,
) -> dict:
    """Convert the table's accumulated EQUALITY deletes into POSITION
    deletes — the light maintenance pass that bounds a CDC table's
    read debt (Iceberg's ``convert_equality_deletes`` action): every
    live equality-delete file's key set is resolved against the
    current data to concrete ``(file, pos)`` rows, written as one
    sorted position-delete file per partition cell (of the DATA file's
    own spec generation), and the originals tombstone in the same
    snapshot. Data files are untouched — unlike ``rewrite_data_files``
    this reads the matching rows but rewrites nothing, and afterwards
    ``rewrite_position_deletes`` and the DV plane own the (cheap)
    positional debt. Counters move exactly: total-equality-deletes
    drops by the converted key rows, total-position-deletes grows by
    the NET-new positions (already-positioned rows are excluded before
    matching, so a key deleted both ways never double-counts).

    Sequence safety: a converted position delete carries the new
    snapshot's sequence number, which widens its window over the
    original equality delete's (``< eq_seq`` becomes ``<= N``) — legal
    because a position names an exact row of an exact attempt-unique
    file, so the wider window cannot match anything new (the same
    argument ``rewrite_position_deletes`` relies on). The match itself
    runs under the ORIGINAL per-file windows (``data_seq < eq_seq``)
    and per-generation partition scopes, so re-inserted keys
    (delete-then-resurrect) are never retro-deleted.

    Scale shape: one distributed scan of the table's data rows
    projecting the key + `_metadata` identity columns (Catalyst prunes
    the rest), the eq key sets broadcast per (key-set, spec
    generation) group, one Arrow write task per touched cell with the
    same ``max_rows_per_delete_file`` hot-cell cap as
    ``rewrite_position_deletes``. No driver row handling."""
    now_ms = int(time.time() * 1000) if now_ms is None else now_ms
    if catalog is not None and table_name is None:
        table_name = _default_table_name(table_dir)
    return commit_with_retries(
        lambda: _convert_equality_deletes_once(
            spark, table_dir, now_ms, catalog, table_name,
            max_rows_per_delete_file,
        ),
        catalog,
        max_commit_retries,
    )


def _convert_equality_deletes_once(
    spark,
    table_dir: str,
    now_ms: int,
    catalog,
    table_name: str | None,
    max_rows_per_delete_file: int | None,
) -> dict:
    from pyspark.sql import functions as F

    from tiered_storage_for_apache_kafka_spark.sources.deletion_vectors import (
        _tombstone_superseded,
    )
    from tiered_storage_for_apache_kafka_spark.sources.iceberg.scan import (
        _apply_eq_delete_group,
        _eq_delete_groups,
    )

    version, base, table_name = _current_state_meta(
        table_dir, catalog, table_name
    )
    if base.get("current-snapshot-id", -1) == -1:
        return base
    cur = next(
        s
        for s in base["snapshots"]
        if s["snapshot-id"] == base["current-snapshot-id"]
    )
    data, deletes = _plan_snapshot(cur, None)
    eqs = [d for d in deletes if d.get("content") == 2]
    if not eqs or not data:
        return base
    schema_struct = _current_schema_struct(base)
    specs_by_id = _specs_by_id(base)
    default_sid = int(_default_spec(base)["spec-id"])

    # exclude rows ALREADY position-deleted (either plane): their
    # identity is covered; re-adding it would double-count the
    # position counter and inflate every later delete scan
    df = _read_plan_with_identity(
        spark, table_dir, base, data,
        [d for d in deletes if d.get("content") != 2],
    )

    # the rows each equality-delete group WOULD retract, with identity:
    # the merge-on-read scan's groups, inverted to semi-joins
    matches = None
    for eq_cols, spec, group in _eq_delete_groups(base, schema_struct, eqs):
        m = _apply_eq_delete_group(
            spark, df, data, group, eq_cols, spec, schema_struct,
            join_type="left_semi",
        ).select("__iceberg_file", "__iceberg_pos")
        matches = m if matches is None else matches.unionAll(m)
    matches = matches.distinct()

    # write one sorted position-delete file per touched cell, under
    # the DATA file's own spec generation (positions follow their file)
    file_cell_rows = []
    for d in data:
        sid = int(d.get("_spec_id", default_sid))
        if sid not in specs_by_id:
            raise KeyError(
                f"data manifest references partition-spec-id {sid} "
                "not present in table metadata"
            )
        names = spec_names(specs_by_id[sid])
        file_cell_rows.append(
            (
                d["file_path"],
                json.dumps(
                    {
                        "sid": sid,
                        "part": {
                            n: d["partition"].get(n) for n in names
                        },
                    },
                    sort_keys=True,
                ),
            )
        )
    file_cell = local_rows_df(
        spark, file_cell_rows, "__iceberg_file string, __grp string"
    )
    rows = matches.join(F.broadcast(file_cell), "__iceberg_file")
    token = uuid.uuid4().hex[:16]
    grp_names = {
        g: spec_names(specs_by_id[json.loads(g)["sid"]])
        for _p, g in file_cell_rows
    }
    row_cap = max_rows_per_delete_file

    def _write_cell(pdf):
        import json as _json

        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        grp = pdf["__grp"].iloc[0]
        gmeta = _json.loads(grp)
        values, names = gmeta["part"], grp_names[grp]
        pdf = pdf.sort_values(["__iceberg_file", "__iceberg_pos"])
        out_dir = os.path.join(
            table_dir, "deletes", _hive_part_dir(names, values)
        )
        os.makedirs(out_dir, exist_ok=True)
        tag = "-".join(str(values[n]) for n in names) or "unpartitioned"
        cap = row_cap if row_cap and row_cap > 0 else len(pdf) or 1
        out = []
        schema = _pos_delete_arrow_schema()
        for ci, lo in enumerate(range(0, len(pdf), cap)):
            chunk = pdf.iloc[lo : lo + cap]
            path = os.path.join(
                out_dir,
                f"delete-eqconv-{token}-p{tag}-s{gmeta['sid']}-k{ci}"
                ".parquet",
            )
            tbl = pa.Table.from_arrays(
                [
                    pa.array(chunk["__iceberg_file"], pa.string()),
                    pa.array(chunk["__iceberg_pos"], pa.int64()),
                ],
                schema=schema,
            )
            pq.write_table(tbl, path, compression="zstd")
            out.append([path, grp, len(chunk), os.path.getsize(path)])
        return pd.DataFrame(
            out,
            columns=["delete_path", "partition_json", "n_rows", "file_size"],
        )

    converted = []
    for r in (
        rows.groupBy("__grp")
        .applyInPandas(
            _write_cell,
            "delete_path string, partition_json string, n_rows bigint, "
            "file_size bigint",
        )
        .collect()
    ):
        key = json.loads(r["partition_json"])
        names = grp_names[r["partition_json"]]
        converted.append(
            {
                "delete_path": r["delete_path"],
                "sid": int(key["sid"]),
                # spec-ordered partition dict (summaries are positional)
                "partition": {n: key["part"].get(n) for n in names},
                "n_rows": int(r["n_rows"]),
                "file_size": int(r["file_size"]),
            }
        )

    meta_dir = os.path.join(table_dir, "metadata")
    os.makedirs(meta_dir, exist_ok=True)
    newest_ts = max((s["timestamp-ms"] for s in base["snapshots"]), default=0)
    now_ms = max(now_ms, newest_ts)
    seq = base["last-sequence-number"] + 1
    snapshot_id = seq
    commit_uuid = uuid.uuid4().hex[:16]

    # ONE manifest per spec generation of the converted files
    delete_manifests: list[dict] = []
    n_entries_total = 0
    for sid in sorted({c["sid"] for c in converted}):
        spec = specs_by_id[sid]
        gen = [c for c in converted if c["sid"] == sid]
        entries = [
            {
                "status": 1,
                "snapshot_id": snapshot_id,
                "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": {
                    "content": 1,  # POSITION_DELETES
                    "file_path": c["delete_path"],
                    "file_format": "PARQUET",
                    "partition": dict(c["partition"]),
                    "record_count": c["n_rows"],
                    "file_size_in_bytes": c["file_size"],
                    "value_counts": None,
                    "null_value_counts": None,
                    "lower_bounds": None,
                    "upper_bounds": None,
                    "split_offsets": None,
                    "equality_ids": None,
                    "sort_order_id": None,
                },
            }
            for c in sorted(gen, key=lambda c: c["delete_path"])
        ]
        n_entries_total += len(entries)
        manifest_path = os.path.join(
            meta_dir,
            f"{base['table-uuid']}-eqc{seq}-s{sid}-{commit_uuid}.avro",
        )
        manifest_len = write_avro_ocf(
            manifest_path,
            manifest_entry_schema(spec_typed_cols(spec, schema_struct)),
            entries,
            {
                "schema": json.dumps(schema_struct).encode(),
                "schema-id": str(base["current-schema-id"]).encode(),
                "partition-spec": json.dumps(spec["fields"]).encode(),
                "partition-spec-id": str(sid).encode(),
                "format-version": str(FORMAT_VERSION).encode(),
                "content": b"deletes",
            },
        )
        gen_names = spec_names(spec)
        delete_manifests.append(
            {
                "manifest_path": manifest_path,
                "manifest_length": manifest_len,
                "partition_spec_id": sid,
                "content": 1,
                "sequence_number": seq,
                "min_sequence_number": seq,
                "added_snapshot_id": snapshot_id,
                "added_data_files_count": len(entries),
                "existing_data_files_count": 0,
                "deleted_data_files_count": 0,
                "added_rows_count": sum(c["n_rows"] for c in gen),
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
                "partitions": partition_field_summaries(
                    [dict(c["partition"]) for c in gen],
                    gen_names,
                    widths=spec_bound_widths(spec, schema_struct),
                ),
            }
        )

    # tombstone every converted equality-delete file (path match; an
    # eq file's DV locator is None so the (path, None) pair is exact)
    sup_stats = [
        {
            "superseded": [
                {
                    "puffin_path": d["file_path"],
                    "referenced_data_file": None,
                    "cardinality": int(d["record_count"]),
                }
                for d in eqs
            ]
        }
    ]
    prior_manifests, removed_eq, _n = _tombstone_superseded(
        base, sup_stats, meta_dir, seq, snapshot_id, commit_uuid
    )
    return _finish_delete_commit(
        table_dir, version, base, converted, now_ms, catalog, table_name,
        seq, commit_uuid, "", 0,
        n_entries_total, prior_manifests=prior_manifests,
        removed_eq_deletes=removed_eq,
        summary_extra={
            "converted-equality-delete-files": str(len(eqs)),
        },
        delete_manifests=delete_manifests,
    )
