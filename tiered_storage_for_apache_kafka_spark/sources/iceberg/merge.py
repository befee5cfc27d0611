"""MERGE INTO / CDC upsert — one atomic row-delta snapshot.

The missing row-level mutation beside the delete plane: apply a batch
of upserts and deletes to an Iceberg table in ONE commit, the Flink
CDC-writer shape (Iceberg spec "Row-level deletes"; the reference's
Iceberg plane is append-only — `IcebergTableManager.java:46-95` — so
this is the engine's extension to mutable tables, the standard
lakehouse `MERGE INTO target USING source ON key` surface).

Semantics (merge-on-read, never scans the target):

- every distinct merge key in the batch gets an EQUALITY-DELETE row
  (content=2) — "retract whatever older row holds this key";
- every non-delete row in the batch is appended as a DATA file;
- both land in the SAME snapshot at the same sequence number N. The
  spec's asymmetric sequence rules make this atomic upsert correct:
  an equality delete applies only to data files with sequence number
  STRICTLY BELOW its own, so the batch's new rows survive their own
  retraction while every older version of the key disappears.

The target table is NEVER read or shuffled — cost is O(batch), flat
in table size, which is what makes continuous CDC ingestion viable at
100 TB (the copy-on-write alternative rewrites every touched file per
batch; the merge-on-read debt is paid by `rewrite_data_files`, which
materializes accumulated deletes in scheduled compactions).

Delete-file scoping: PARTITION-SCOPED when every source column of the
table's default partition spec is part of the merge key — then a
key's partition value can never change between versions, the old row
provably lives in the same cell, and the scan prunes delete files per
partition. Otherwise GLOBAL (scoped to an unpartitioned spec): a
mutable partition source (e.g. partitioned by day(updated_at)) means
the previous version of a key may live in ANY cell, and a
partition-scoped delete would silently miss it — correctness first,
one table-wide delete file per batch.
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
from tiered_storage_for_apache_kafka_spark.sources.iceberg.schema import (
    evolve_iceberg_schema,
    guard_partition_source_promotion,
    guard_readded_column,
    iceberg_schema_to_spark,
)
from tiered_storage_for_apache_kafka_spark.sources.iceberg.state import (
    _commit_requirements,
    _current_schema_struct,
    _current_state_meta,
    _default_spec,
    _default_table_name,
    _prev_summary_counter,
    apply_updates,
    commit_with_retries,
    publish,
)

# Debezium/Flink changelog op codes, first letter, lowercased:
# insert/create/+I, update/row-kind U (+U), read/snapshot R all carry a
# full row to land; delete/-D retracts only
_UPSERT_OPS = {"i", "c", "u", "r", "+"}
_DELETE_OPS = {"d", "-"}


def _collapse_identical_rows(df):
    """``dropDuplicates()`` that tolerates MAP-typed columns: maps are
    not set-comparable in Spark, so each top-level map column dedupes
    through a canonical ``sort_array(map_entries(...))`` shadow (same
    entry set in any insertion order collapses — exactly the
    at-least-once-replay semantics wanted). A map nested where no such
    projection exists (inside a struct or array element) has no
    canonical form; collapsing on the remaining columns could merge
    genuinely different events, so the collapse is SKIPPED there."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    def orderable(dt) -> bool:
        if isinstance(dt, T.MapType):
            return False
        if isinstance(dt, T.ArrayType):
            return orderable(dt.elementType)
        if isinstance(dt, T.StructType):
            return all(orderable(f.dataType) for f in dt.fields)
        return True

    shadows: dict[str, object] = {}
    for f in df.schema.fields:
        if orderable(f.dataType):
            continue
        if isinstance(f.dataType, T.MapType) and orderable(
            T.StructType(
                [
                    T.StructField("key", f.dataType.keyType),
                    T.StructField("value", f.dataType.valueType),
                ]
            )
        ):
            shadows[f"__dedup_{f.name}"] = F.sort_array(
                F.map_entries(F.col(f.name))
            )
        else:
            return df  # no canonical form: skip the collapse
    if not shadows:
        return df.dropDuplicates()
    plain = [
        f.name for f in df.schema.fields if orderable(f.dataType)
    ]
    return (
        df.withColumns(shadows)
        .dropDuplicates(plain + sorted(shadows))
        .drop(*shadows)
    )


def _resolve_batch(df, on, op_col, seq_col):
    """Within-batch resolution to at most ONE final action per key:
    last-writer-wins by ``seq_col`` (validated unambiguous — duplicate
    ``(key, seq)`` pairs are rejected, not tie-broken arbitrarily;
    BYTE-IDENTICAL duplicate rows collapse first, since replaying the
    same event twice is idempotent, not ambiguous); without ``seq_col``
    the batch must already be key-unique. Returns ``(upserts, keys,
    cached)``: the rows to append (op/seq columns dropped), the
    distinct key rows to retract, and the PERSISTED source frame the
    caller must unpersist after staging — every downstream action
    (validation probes, emptiness checks, data-file staging, delete
    staging) otherwise recomputes the batch lineage, which in the
    streaming sink means re-reading the micro-batch source several
    times per commit."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    missing = [c for c in on if c not in df.columns]
    if missing:
        raise ValueError(f"merge key columns missing from batch: {missing}")
    if op_col is not None and op_col not in df.columns:
        raise ValueError(f"op_col {op_col!r} missing from batch")
    if seq_col is not None and seq_col not in df.columns:
        raise ValueError(f"seq_col {seq_col!r} missing from batch")

    # identical rows are one event delivered twice (at-least-once
    # replay, a key retracted by two copies of the same delete event):
    # collapse them BEFORE the ambiguity validation so only genuinely
    # conflicting rows (same key+seq, different payload/op) raise.
    # MAP-typed columns are not set-comparable (Spark raises
    # UNSUPPORTED_FEATURE.SET_OPERATION_ON_MAP_TYPE), so a map payload
    # dedupes through a canonical sorted-entries projection instead;
    # a map nested where no canonical projection exists (inside a
    # struct/array) skips the collapse — the key-scoped ambiguity
    # checks below still refuse real conflicts, identical replays
    # there just surface as duplicate (key, seq) errors as pre-r11
    df = _collapse_identical_rows(df).persist(StorageLevel.MEMORY_AND_DISK)
    cached = df

    if op_col is not None:
        opc = F.lower(F.substring(F.col(op_col).cast("string"), 1, 1))
        known = sorted(_UPSERT_OPS | _DELETE_OPS)
        bad = df.where(~opc.isin(known) | F.col(op_col).isNull()).limit(1)
        bad_rows = bad.collect()
        if bad_rows:
            cached.unpersist()
            raise ValueError(
                f"unknown CDC op value {bad_rows[0][op_col]!r} in "
                f"{op_col!r} (accepted first letters: {known})"
            )
        df = df.withColumn("__merge_del", opc.isin(sorted(_DELETE_OPS)))
    else:
        df = df.withColumn("__merge_del", F.lit(False))

    if seq_col is not None:
        dup = (
            df.groupBy(*on, seq_col)
            .count()
            .where(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            cached.unpersist()
            raise ValueError(
                f"ambiguous batch: duplicate (key, {seq_col}) pair "
                f"{tuple(dup[0])[:-1]!r} — last-writer-wins needs a "
                "total order per key"
            )
        w = Window.partitionBy(*on).orderBy(F.col(seq_col).desc())
        df = (
            df.withColumn("__merge_rn", F.row_number().over(w))
            .where(F.col("__merge_rn") == 1)
            .drop("__merge_rn")
        )
    else:
        dup = (
            df.groupBy(*on)
            .count()
            .where(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            cached.unpersist()
            raise ValueError(
                f"batch has multiple rows for key {tuple(dup[0])[:-1]!r} "
                "and no seq_col to order them — pass seq_col for "
                "last-writer-wins resolution"
            )

    drop_cols = ["__merge_del"] + [
        c for c in (op_col, seq_col) if c is not None
    ]
    upserts = df.where(~df["__merge_del"]).drop(*drop_cols)
    keys = df.select(*on).distinct()
    return upserts, keys, cached


def _null_aware_batch_schema(upserts, schema_struct: dict):
    """The batch schema with nullability corrected against the DATA:
    Spark frames arrive all-nullable (createDataFrame, every streaming
    source), which would make evolution relax each of the table's
    REQUIRED columns on the first merge — so a column the table
    requires keeps ``required`` unless the batch actually delivers a
    null in it (one bounded aggregate over the persisted batch, only
    when such columns exist). A feed that really ships nulls still
    relaxes, loudly visible as a schema version bump."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructField, StructType

    required = {f["name"] for f in schema_struct["fields"] if f["required"]}
    cand = [
        f.name
        for f in upserts.schema.fields
        if f.nullable and f.name in required
    ]
    keep: set = set()
    if cand:
        row = upserts.agg(
            *[
                F.count(F.when(F.col(c).isNull(), 1)).alias(c)
                for c in cand
            ]
        ).collect()[0]
        keep = {c for c in cand if row[c] == 0}
    if not keep:
        return upserts.schema
    return StructType(
        [
            StructField(
                f.name,
                f.dataType,
                False if f.name in keep else f.nullable,
            )
            for f in upserts.schema.fields
        ]
    )


def _delete_scope(base: dict, on: list[str]):
    """(partition_scoped, spec) for the batch's retractions — scoped to
    the default spec only when every spec source column is a merge-key
    column (key-derived partition values are immutable per key);
    table-wide (unpartitioned-spec) otherwise. See module docstring."""
    spec = _default_spec(base)
    if not spec["fields"]:
        return False, spec  # unpartitioned table: global IS the spec
    schema_struct = _current_schema_struct(base)
    id_to_name = {f["id"]: f["name"] for f in schema_struct["fields"]}
    sources = [id_to_name.get(f["source-id"]) for f in spec["fields"]]
    if any(s is None for s in sources):
        raise ValueError(
            "partition spec references a source field id missing from "
            "the current schema — cannot derive the delete scope"
        )
    return set(sources) <= set(on), spec


def merge_upsert(
    spark,
    df,
    table_dir: str,
    on: list[str],
    partition_spec: list | None = None,
    op_col: str | None = None,
    seq_col: str | None = None,
    now_ms: int | None = None,
    catalog=None,
    table_name: str | None = None,
    max_commit_retries: int = 3,
    writer_shards: int | None = None,
    max_records_per_file: int | None = None,
    allow_null_partition: bool = False,
    summary_extra: dict | None = None,
    properties_extra: dict | None = None,
    branch: str | None = None,
    evolve_schema: bool = True,
) -> dict:
    """Apply a CDC batch to the table at ``table_dir`` as ONE atomic
    snapshot: retract every batch key via equality-delete files and
    append the batch's surviving rows as data files (module docstring
    has the sequence-number argument for why same-snapshot works).
    Returns the new table metadata.

    ``on`` is the merge key. ``op_col`` (optional) tags each row
    insert/update/delete (Debezium/Flink first-letter codes; rows
    tagged delete retract only). ``seq_col`` (optional) orders
    multiple ops on the same key within the batch — last writer wins;
    without it the batch must be key-unique (validated, one O(batch)
    aggregate). Both columns are batch metadata and never reach the
    table.

    First merge into a table that doesn't exist (or holds no data yet)
    degrades to a plain partitioned write of the upsert rows — there
    is nothing to retract. ``partition_spec`` follows
    :func:`writer.write_iceberg_table` and must match an existing
    table's default spec.

    With ``catalog``, a lost optimistic-concurrency race reloads and
    rebuilds ONLY the metadata (manifests, snapshot, pointer): the
    staged parquet — data files and equality-delete files — is
    position-independent, so unlike position deletes no re-planning is
    needed; retries are metadata-cost. A mid-retry partition-spec
    change (the one thing that would invalidate the staged delete
    layout) aborts loudly.

    ``branch="audit"`` stages the merge on that branch (WAP): the
    snapshot chains off the BRANCH head (auto-created at the current
    main head on first use), retracts relative to that lineage, and
    main readers see nothing until :func:`refs.fast_forward`
    publishes — CDC batches can be audited before release exactly like
    staged appends. Requirements assert only the moved branch's head,
    so an unrelated main writer never spuriously conflicts a staged
    merge.

    ``evolve_schema`` (default True): a batch whose schema drifts from
    the table's evolves it IN the merge commit — new columns
    add-as-optional, int→long / float→double promotions widen, absent
    optional columns conform to null (the upsert is a full replacement
    image); absent REQUIRED columns, non-promotable type changes, and
    evolution from a branch-staged merge are rejected loudly. Pass
    ``evolve_schema=False`` to restore the strict schema-equality
    contract (a drifted batch then errors instead of evolving)."""
    if not on:
        raise ValueError("merge_upsert needs at least one key column")
    if branch == "main":
        branch = None  # explicit main is just the default path
    now_ms = int(time.time() * 1000) if now_ms is None else now_ms
    if catalog is not None and table_name is None:
        table_name = _default_table_name(table_dir)
    # record the table's merge keys ONCE (first keyed merge defines the
    # row identity; later merges with other keys are ad-hoc and leave
    # it alone) — the keyed-changelog stream (`iceberg_cdc`) defaults
    # its mergeKeys from this property, so consumers cross row-level
    # UPDATE windows without per-query configuration
    try:
        _v0, base0, _t0 = _current_state_meta(table_dir, catalog, table_name)
    except FileNotFoundError:
        base0 = None
    if (
        base0 is None
        or "engine.merge-keys" not in (base0.get("properties") or {})
    ):
        properties_extra = {
            **(properties_extra or {}),
            "engine.merge-keys": ",".join(str(c) for c in on),
        }

    upserts, keys, cached = _resolve_batch(df, on, op_col, seq_col)
    try:
        return _merge_resolved(
            spark, upserts, keys, table_dir, on, partition_spec, op_col,
            now_ms, catalog, table_name, max_commit_retries,
            writer_shards, max_records_per_file, allow_null_partition,
            summary_extra, properties_extra, branch, evolve_schema,
        )
    finally:
        cached.unpersist()


def _merge_resolved(
    spark, upserts, keys, table_dir, on, partition_spec, op_col,
    now_ms, catalog, table_name, max_commit_retries, writer_shards,
    max_records_per_file, allow_null_partition, summary_extra,
    properties_extra, branch, evolve_schema,
):
    """The staging+commit tail of :func:`merge_upsert`, split out so the
    resolved-batch cache unpersists on every exit path."""
    from pyspark.sql import functions as F

    from tiered_storage_for_apache_kafka_spark.sources.iceberg.deletes import (
        write_equality_deletes,
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
        _v0, base, table_name = _current_state_meta(
            table_dir, catalog, table_name
        )
    except FileNotFoundError:
        base = None
    if base is not None and branch is not None:
        ref = (base.get("refs") or {}).get(branch)
        if ref is not None and ref.get("type") == "tag":
            raise ValueError(f"ref {branch!r} is a tag, not a branch")
    if base is None or _merge_parent_id(base, branch) == -1:
        # no committed data: nothing to retract — a plain write of the
        # upsert rows IS the merge (table-creating on first use). When
        # metadata already exists (a mirror destination pre-created
        # from the source's schema), the declared schema is
        # null-corrected so the all-nullable stream batch doesn't relax
        # the table's REQUIRED columns on arrival
        declared = None
        if base is not None:
            declared = _null_aware_batch_schema(
                upserts, _current_schema_struct(base)
            )
        return write_iceberg_table(
            spark, upserts, table_dir,
            partition_spec=partition_spec, now_ms=now_ms,
            catalog=catalog, table_name=table_name,
            max_records_per_file=max_records_per_file,
            writer_shards=writer_shards,
            summary_extra=summary_extra,
            properties_extra=properties_extra,
            branch=branch,
            declared_schema=declared,
        )
    _validate_append_shape(base, partition_spec, upserts.columns)

    if keys.isEmpty():
        return base  # empty batch: no empty snapshot (and no evolution)

    # schema: the batch may EVOLVE the table in the same merge commit
    # (the reference's SchemaUpdate intent — `SchemaUpdate.java:17-127`,
    # promotion table `SchemaUtils.java:80-84`; the normal life of a
    # Debezium feed is a column appearing mid-stream): add-as-optional
    # new columns, int→long / float→double promotion. A batch MISSING
    # table columns is conformed with typed nulls (the upsert row is a
    # FULL replacement image, so a column the feed stopped carrying is
    # null in the new version) — but never for a REQUIRED column, and
    # never from a branch-staged merge (the schema version is
    # table-level: it would publish to main readers before release).
    schema_struct = _current_schema_struct(base)
    batch_schema_ev = _null_aware_batch_schema(upserts, schema_struct)
    try:
        evolved, new_last, schema_changed = evolve_iceberg_schema(
            schema_struct, batch_schema_ev, base["last-column-id"]
        )
    except TypeError as e:
        raise ValueError(
            f"merge batch schema is incompatible with the table: {e}"
        ) from e
    if schema_changed:
        if not evolve_schema:
            table_cols = {f["name"] for f in schema_struct["fields"]}
            raise ValueError(
                f"merge batch schema {sorted(upserts.columns)} != table "
                f"schema {sorted(table_cols)} and evolve_schema=False — "
                "evolve the schema with a plain append first, or pass "
                "evolve_schema=True"
            )
        if branch is not None:
            raise ValueError(
                "schema evolution inside a branch-staged merge would be "
                "visible to main readers before publish; commit the "
                "schema change on main first"
            )
        guard_partition_source_promotion(base, schema_struct, evolved)
        guard_readded_column(base, schema_struct, evolved)
        new_sid = max(s["schema-id"] for s in base["schemas"]) + 1
        evolved = {**evolved, "schema-id": new_sid}
        base = {
            **base,
            "schemas": base["schemas"] + [evolved],
            "current-schema-id": new_sid,
            "last-column-id": new_last,
        }
        schema_struct = evolved
    missing_required = [
        f["name"]
        for f in schema_struct["fields"]
        if f["required"] and f["name"] not in set(upserts.columns)
    ]
    if missing_required:
        raise ValueError(
            f"merge batch lacks REQUIRED table columns "
            f"{missing_required} — a conformed null would violate the "
            "schema; make them optional first or carry them in the feed"
        )
    # conform to the table-facing schema: null-fill absent optionals,
    # up-cast narrower batch types — a pure projection
    target_spark = iceberg_schema_to_spark(schema_struct)
    upserts = conform(upserts, target_spark)
    keys = keys.select(
        *[F.col(k).cast(target_spark[k].dataType).alias(k) for k in on]
    )
    staged_key_ids = [
        next(f["id"] for f in schema_struct["fields"] if f["name"] == k)
        for k in on
    ]

    scoped, del_spec = _delete_scope(base, on)
    keys_df = keys
    if scoped:
        from tiered_storage_for_apache_kafka_spark.sources.iceberg.transforms import (  # noqa: E501
            transform_column,
        )

        id_to_name = {f["id"]: f["name"] for f in schema_struct["fields"]}
        for f in del_spec["fields"]:
            if f["transform"] == "identity":
                continue  # source column == key column, already present
            keys_df = transform_column(
                keys_df, id_to_name[f["source-id"]], f["transform"],
                f["name"],
            )

    # ---- stage everything ONCE (commit attempts below only rebuild
    # metadata; parquet bytes never rewrite on a lost race) ----
    new_files: list[str] = []
    # a pure-delete batch (every final op tagged delete) stages no
    # data; an untagged batch is all-upserts by construction, and its
    # non-emptiness was just checked through `keys`
    if op_col is None or not upserts.isEmpty():
        new_files, _schema = stage_data_files(
            spark, upserts, table_dir,
            partition_spec=partition_spec,
            max_records_per_file=max_records_per_file,
            writer_shards=writer_shards,
        )
    del_stats = write_equality_deletes(
        spark, table_dir, keys_df, list(on),
        meta=base, global_scope=not scoped,
        allow_null_partition=allow_null_partition,
    )
    staged_spec_id = int(_default_spec(base)["spec-id"])

    def attempt():
        version, base, _name = _current_state_meta(
            table_dir, catalog, table_name
        )
        if int(_default_spec(base)["spec-id"]) != staged_spec_id:
            raise ValueError(
                "partition spec changed while this merge was "
                "staging — the staged delete files are laid out "
                "under the old spec; re-run the merge"
            )
        # re-derive the evolution against the LIVE base each attempt: a
        # rival writer may have evolved too (the staged parquet stays
        # valid — evolution only adds/widens), but a rival assigning
        # DIFFERENT field ids to this merge's key columns would orphan
        # the staged delete files' embedded ids — that one aborts
        schema_updates = _reapply_schema_evolution(base, batch_schema_ev)
        cur_schema = (
            schema_updates[0]["schema"]
            if schema_updates
            else _current_schema_struct(base)
        )
        ids_now = [
            next(
                (f["id"] for f in cur_schema["fields"] if f["name"] == k),
                None,
            )
            for k in on
        ]
        if ids_now != staged_key_ids:
            raise ValueError(
                "a concurrent schema change reassigned the merge "
                "key columns' field ids while this merge was "
                "staging; re-run the merge"
            )
        return _commit_merge_once(
            table_dir, version, base, new_files, del_stats, scoped,
            now_ms, catalog, table_name, summary_extra,
            properties_extra, branch, schema_updates,
        )

    return commit_with_retries(attempt, catalog, max_commit_retries)


def _reapply_schema_evolution(cur: dict, batch_schema) -> list[dict]:
    """The staged batch's schema evolution against the LIVE metadata,
    as add-schema + set-current-schema updates (each commit attempt
    re-derives it, so retries compose with rival evolutions); empty
    when the batch fits the current schema."""
    cur_schema = _current_schema_struct(cur)
    evolved, new_last, changed = evolve_iceberg_schema(
        cur_schema, batch_schema, cur["last-column-id"]
    )
    if not changed:
        return []
    guard_partition_source_promotion(cur, cur_schema, evolved)
    guard_readded_column(cur, cur_schema, evolved)
    new_sid = max(s["schema-id"] for s in cur["schemas"]) + 1
    return [
        {
            "action": "add-schema",
            "schema": {**evolved, "schema-id": new_sid},
            "last-column-id": new_last,
        },
        {"action": "set-current-schema", "schema-id": new_sid},
    ]


def _merge_parent_id(base: dict, branch: str | None) -> int:
    """The snapshot this merge chains off: the branch head when
    staging (first branch commit forks off main's head — the WAP
    auto-create `commit_append` uses), main's current otherwise."""
    if branch is not None:
        ref = (base.get("refs") or {}).get(branch)
        if ref is not None:
            return int(ref["snapshot-id"])
    return int(base.get("current-snapshot-id", -1))


def _commit_merge_once(
    table_dir: str,
    version: int,
    base: dict,
    new_files: list[str],
    del_stats: list[dict],
    scoped: bool,
    now_ms: int,
    catalog,
    table_name: str | None,
    summary_extra: dict | None,
    properties_extra: dict | None,
    branch: str | None,
    schema_updates: list[dict],
) -> dict:
    """One attempt at the atomic merge snapshot: a DATA manifest for
    the staged batch files plus a DELETES manifest for the staged
    equality-delete files, both at the new sequence number, one
    snapshot with ``operation=overwrite`` (the spec's op for commits
    that logically replace rows). ``schema_updates`` (non-empty when
    the batch evolved the schema) rides in the SAME commit, and the
    manifests and snapshot below stamp the evolved schema-id."""
    meta_dir = os.path.join(table_dir, "metadata")
    os.makedirs(meta_dir, exist_ok=True)
    updates = list(schema_updates)
    loaded, base = base, apply_updates(base, schema_updates, now_ms)
    schema_struct = _current_schema_struct(base)
    leaf_ids = _leaf_field_ids(schema_struct)

    # global deletes scope to the table's UNPARTITIONED spec,
    # registered on first use (same posture as commit_equality_deletes:
    # data keeps its layout, only the delete plane is table-wide)
    if not scoped and del_stats:
        del_spec = next(
            (s for s in base["partition-specs"] if not s["fields"]), None
        )
        if del_spec is None:
            del_spec = {
                "spec-id": max(
                    s["spec-id"] for s in base["partition-specs"]
                )
                + 1,
                "fields": [],
            }
            updates.append({"action": "add-spec", "spec": del_spec})
    elif del_stats:
        del_spec = _default_spec(base)
    else:
        del_spec = None

    newest_ts = max((s["timestamp-ms"] for s in base["snapshots"]), default=0)
    now_ms = max(now_ms, newest_ts)  # snapshot-log monotonicity clamp
    seq = base["last-sequence-number"] + 1
    snapshot_id = seq
    commit_uuid = uuid.uuid4().hex[:16]
    data_spec = _default_spec(base)
    data_cols = spec_typed_cols(data_spec, schema_struct)

    new_manifests: list[dict] = []
    stat_files = _stat_data_files(sorted(set(new_files)), data_cols)
    added_rows = sum(f["record_count"] for f in stat_files)
    if stat_files:
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
                    **_column_stats_fields(
                        f.get("column_stats") or {}, leaf_ids
                    ),
                    "split_offsets": f["split_offsets"],
                    "equality_ids": None,
                    "sort_order_id": 0,
                },
            }
            for f in stat_files
        ]
        mpath = os.path.join(
            meta_dir, f"{base['table-uuid']}-mg{seq}-{commit_uuid}.avro"
        )
        mlen = write_avro_ocf(
            mpath,
            manifest_entry_schema(data_cols),
            entries,
            {
                "schema": json.dumps(schema_struct).encode(),
                "schema-id": str(base["current-schema-id"]).encode(),
                "partition-spec": json.dumps(data_spec["fields"]).encode(),
                "partition-spec-id": str(data_spec["spec-id"]).encode(),
                "format-version": str(FORMAT_VERSION).encode(),
                "content": b"data",
            },
        )
        new_manifests.append(
            {
                "manifest_path": mpath,
                "manifest_length": mlen,
                "partition_spec_id": data_spec["spec-id"],
                "content": 0,
                "sequence_number": seq,
                "min_sequence_number": seq,
                "added_snapshot_id": snapshot_id,
                "added_data_files_count": len(entries),
                "existing_data_files_count": 0,
                "deleted_data_files_count": 0,
                "added_rows_count": added_rows,
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
                "partitions": partition_field_summaries(
                    [f["partition"] for f in stat_files],
                    [n for n, _f, _t in data_cols],
                    widths=spec_bound_widths(data_spec, schema_struct),
                ),
            }
        )

    n_eq_rows = sum(int(s["n_rows"]) for s in del_stats)
    if del_stats:
        del_cols = spec_typed_cols(del_spec, schema_struct)
        dentries = [
            {
                "status": 1,  # ADDED
                "snapshot_id": snapshot_id,
                "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": {
                    "content": 2,  # EQUALITY_DELETES
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
                    "equality_ids": s["equality_ids"],
                    "sort_order_id": None,
                },
            }
            for s in sorted(del_stats, key=lambda s: s["delete_path"])
        ]
        dpath = os.path.join(
            meta_dir, f"{base['table-uuid']}-dg{seq}-{commit_uuid}.avro"
        )
        dlen = write_avro_ocf(
            dpath,
            manifest_entry_schema(del_cols),
            dentries,
            {
                "schema": json.dumps(schema_struct).encode(),
                "schema-id": str(base["current-schema-id"]).encode(),
                "partition-spec": json.dumps(del_spec["fields"]).encode(),
                "partition-spec-id": str(del_spec["spec-id"]).encode(),
                "format-version": str(FORMAT_VERSION).encode(),
                "content": b"deletes",
            },
        )
        new_manifests.append(
            {
                "manifest_path": dpath,
                "manifest_length": dlen,
                "partition_spec_id": del_spec["spec-id"],
                "content": 1,  # DELETES manifest
                "sequence_number": seq,
                "min_sequence_number": seq,
                "added_snapshot_id": snapshot_id,
                "added_data_files_count": len(dentries),
                "existing_data_files_count": 0,
                "deleted_data_files_count": 0,
                "added_rows_count": n_eq_rows,
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
                "partitions": partition_field_summaries(
                    [dict(s["partition"]) for s in del_stats],
                    [n for n, _f, _t in del_cols],
                    widths=spec_bound_widths(del_spec, schema_struct),
                ),
            }
        )

    parent_id = _merge_parent_id(base, branch)
    cur = next(
        s for s in base["snapshots"] if s["snapshot-id"] == parent_id
    )
    _, prior_manifest_files, _ = read_avro_ocf(cur["manifest-list"])
    summary = {
        "operation": "overwrite",
        "added-data-files": str(len(stat_files)),
        "added-records": str(added_rows),
        "added-delete-files": str(len(del_stats)),
        "added-equality-deletes": str(n_eq_rows),
        # totals chain off the PARENT lineage (the branch head for a
        # staged merge, main otherwise)
        "total-records": str(
            _prev_summary_counter(base, "total-records", parent_id)
            + added_rows
        ),
        "total-position-deletes": str(
            _prev_summary_counter(base, "total-position-deletes", parent_id)
        ),
        "total-equality-deletes": str(
            _prev_summary_counter(base, "total-equality-deletes", parent_id)
            + n_eq_rows
        ),
        **{k: str(v) for k, v in (summary_extra or {}).items()},
    }
    file_list = [
        {
            "location": f["file_path"],
            "partition": (
                f["partition_value"]
                if len(f["partition"]) == 1
                else dict(f["partition"])
            ),
            "recordCount": f["record_count"],
            "fileSizeInBytes": f["file_size_in_bytes"],
        }
        for f in stat_files
    ] + [
        {
            "location": s["delete_path"],
            "partition": (
                next(iter(s["partition"].values()))
                if len(s["partition"]) == 1
                else dict(s["partition"])
            ),
            "recordCount": int(s["n_rows"]),
            "fileSizeInBytes": int(s["file_size"]),
        }
        for s in del_stats
    ]
    # a staged (WAP) merge moves only its branch ref: main readers and
    # the snapshot-log (TIMESTAMP AS OF) see nothing
    updates += _snapshot_updates(
        table_dir, base, seq, parent_id, commit_uuid,
        new_manifests + prior_manifest_files, summary, now_ms,
        ref=branch or "main", file_list=file_list,
    )
    if properties_extra:
        updates.append(
            {
                "action": "set-properties",
                "updates": {k: str(v) for k, v in properties_extra.items()},
            }
        )
    return publish(
        table_dir, version, loaded,
        _commit_requirements(loaded, branch=branch), updates, now_ms,
        catalog, table_name,
    )
