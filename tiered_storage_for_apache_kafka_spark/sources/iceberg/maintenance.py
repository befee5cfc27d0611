"""expire_snapshots / rewrite_manifests / rewrite_data_files / remove_orphan_files.

Split from the original sources/iceberg.py (r7); provenance and
parity citations live in the package __init__ and the function
docstrings.
"""

from __future__ import annotations

import json
import os
import uuid

from tiered_storage_for_apache_kafka_spark.sources.iceberg.commit import (
    _snapshot_updates,
)
from tiered_storage_for_apache_kafka_spark.sources.iceberg.manifests import (
    _STATS_KEYS,
    _column_stats_fields,
    _leaf_field_ids,
    _stat_data_files,
    _tombstone_gc_safe,
    manifest_entry_schema,
    partition_field_summaries,
    spec_bound_widths,
    spec_typed_cols,
    spec_names,
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
    _prev_summary_counter,
    _prev_total_pos_deletes,
    _specs_by_id,
    commit_with_retries,
    publish,
)


def expire_snapshots(
    table_dir: str,
    keep_last: int | None = None,
    now_ms: int | None = None,
    catalog=None,
    table_name: str | None = None,
    max_commit_retries: int = 3,
    older_than_ms: int | None = None,
) -> dict:
    """Iceberg snapshot expiration (`expireSnapshots` maintenance — the
    catalog-side analog of the reference's retention/delete plane):
    drop all but the newest ``keep_last`` snapshots from the metadata,
    delete their no-longer-referenced manifest lists, manifests, and
    statistics files, and write a new metadata version. Data files
    still referenced by a surviving snapshot are untouched (an append-
    only table's old files stay live in the current snapshot). Returns
    the new metadata dict. In catalog mode a lost race (concurrent
    append moved the head between load and commit) reloads and retries
    — maintenance on a busy streaming table must not deterministically
    fail.

    ``older_than_ms`` (the Java action's ``expireOlderThan``) is an
    ADDITIONAL keep condition: snapshots at or after the cutoff survive
    even beyond ``keep_last``, so retention is max(count, age) — the
    standard production policy "keep N days of history, at least the
    head".

    Arguments left unset fall back to the table's OWN retention
    properties, exactly the Java action's property resolution:
    ``history.expire.min-snapshots-to-keep`` -> ``keep_last`` (else 1)
    and ``history.expire.max-snapshot-age-ms`` -> ``older_than_ms``
    (as ``now - age``) — so a table can DECLARE its retention policy
    once and every maintenance run honors it; an explicit argument
    always wins."""
    return commit_with_retries(
        lambda: _expire_snapshots_once(
            table_dir, keep_last, now_ms, catalog, table_name,
            older_than_ms,
        ),
        catalog,
        max_commit_retries,
    )


def _expire_snapshots_once(
    table_dir: str,
    keep_last: int | None,
    now_ms: int | None,
    catalog,
    table_name: str | None,
    older_than_ms: int | None = None,
) -> dict:
    import time as _time

    if keep_last is not None and keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    version, meta, table_name = _current_state_meta(table_dir, catalog, table_name)
    snaps = meta["snapshots"]
    now_ms = int(_time.time() * 1000) if now_ms is None else now_ms
    # unset args resolve from the table's declared retention properties
    # (the Java action's history.expire.* resolution); explicit wins
    props = meta.get("properties") or {}
    if keep_last is None:
        keep_last = int(
            props.get("history.expire.min-snapshots-to-keep", 1)
        )
        if keep_last < 1:
            raise ValueError(
                "history.expire.min-snapshots-to-keep must be >= 1"
            )
    if older_than_ms is None:
        max_age = props.get("history.expire.max-snapshot-age-ms")
        if max_age is not None:
            older_than_ms = now_ms - int(max_age)
    by_id_ts = {s["snapshot-id"]: s for s in snaps}
    # per-ref retention (spec "Snapshot References", r12): a ref whose
    # ``max-ref-age-ms`` has lapsed — age measured from its snapshot's
    # commit timestamp, as the Java RemoveSnapshots action does — is
    # REMOVED by this expiration, releasing its snapshot. Without this
    # a forgotten tag pins data forever at 100 TB. Refs without the
    # field are permanent (the pre-r12 behavior).
    refs_all = dict(meta.get("refs") or {})
    removed_refs: list[str] = []
    for rname, r in sorted(refs_all.items()):
        if rname == "main":
            continue  # main's retention is this function's own args
        max_ref_age = r.get("max-ref-age-ms")
        if max_ref_age is None:
            continue
        snap = by_id_ts.get(r["snapshot-id"])
        ref_ts = int(snap["timestamp-ms"]) if snap else 0
        if now_ms - ref_ts > int(max_ref_age):
            removed_refs.append(rname)
            del refs_all[rname]
    # spec: expiration never removes a snapshot any SURVIVING ref
    # points at — a tag pins its snapshot for the tag's lifetime
    ref_ids = {r["snapshot-id"] for r in refs_all.values()}
    # retain-last counts along MAIN'S LINEAGE (newest-first parent
    # walk), exactly the Java action: positional newest-N is identical
    # for linear histories but wrong after a rollback — it would keep
    # the abandoned fork's snapshots (unreachable from any ref) while
    # dropping a live ancestor. Dead forks survive only by age
    # (older_than_ms) or a ref pointing at them.
    by_id_lineage = {s["snapshot-id"]: s for s in snaps}
    lineage: list = []
    node = meta.get("current-snapshot-id", -1)
    while node in by_id_lineage:
        lineage.append(node)
        node = by_id_lineage[node].get("parent-snapshot-id")
    keep_ids = set(lineage[:keep_last]) | ref_ids
    if older_than_ms is not None:
        # expireSnapshots(olderThan) semantics: age is an ADDITIONAL
        # keep condition — a snapshot younger than the cutoff survives
        # even past keep_last, so retention is max(count, age), exactly
        # the Java action's composition of retainLast + olderThan
        keep_ids |= {
            s["snapshot-id"]
            for s in snaps
            if int(s["timestamp-ms"]) >= older_than_ms
        }
    # an unpublished BRANCH lineage survives too: fast_forward's
    # ancestry check needs the parent chain from the branch head back
    # to the fork point. Bounded by the branch-only chain — the walk
    # stops at anything already kept or on main's lineage, so old
    # published history is never dragged back in.
    by_id_all = {s["snapshot-id"]: s for s in snaps}
    main_lineage: set = set()
    node = meta.get("current-snapshot-id", -1)
    while node in by_id_all:
        main_lineage.add(node)
        node = by_id_all[node].get("parent-snapshot-id")
    for name, r in refs_all.items():
        if name == "main" or r.get("type") != "branch":
            continue
        head = by_id_all.get(r["snapshot-id"])
        node = head.get("parent-snapshot-id") if head else None
        # per-branch lineage retention (spec fields, r12): with
        # ``min-snapshots-to-keep`` / ``max-snapshot-age-ms`` declared,
        # only that many / that young of the branch's ancestors
        # survive; without them the FULL chain back to main's lineage
        # is kept (pre-r12 behavior — fast_forward's ancestry walk
        # needs it, so pruning is strictly opt-in per ref)
        min_keep = r.get("min-snapshots-to-keep")
        max_age = r.get("max-snapshot-age-ms")
        has_retention = min_keep is not None or max_age is not None
        count = 1  # the head itself (always kept via ref_ids)
        while node in by_id_all:
            if has_retention:
                # the declared bound is the walk's own terminator, so
                # it follows the branch lineage even through nodes
                # main/other refs already keep (they still count)
                young = (
                    max_age is not None
                    and now_ms - int(by_id_all[node]["timestamp-ms"])
                    <= int(max_age)
                )
                within = min_keep is not None and count < int(min_keep)
                if not (young or within):
                    break
                keep_ids.add(node)
                count += 1
            else:
                if node in keep_ids or node in main_lineage:
                    break  # published history is not re-pinned
                keep_ids.add(node)
            node = by_id_all[node].get("parent-snapshot-id")
    keep = [s for s in snaps if s["snapshot-id"] in keep_ids]
    expired = [s for s in snaps if s["snapshot-id"] not in keep_ids]
    if not expired and not removed_refs:
        return meta

    # files referenced by surviving snapshots stay; everything metadata-
    # side that only the expired snapshots referenced is deleted
    live_manifest_paths: set[str] = set()
    for s in keep:
        _, manifest_files, _ = read_avro_ocf(s["manifest-list"])
        live_manifest_paths.update(mf["manifest_path"] for mf in manifest_files)
    removed: list[str] = []
    for s in expired:
        _, manifest_files, _ = read_avro_ocf(s["manifest-list"])
        for mf in manifest_files:
            if mf["manifest_path"] not in live_manifest_paths:
                removed.append(mf["manifest_path"])
        removed.append(s["manifest-list"])
    removed += [
        st["statistics-path"]
        for st in meta.get("statistics", [])
        if st["snapshot-id"] not in keep_ids
    ]

    # COMMIT FIRST, clean up after: the new metadata version + hint are
    # durable before any file is removed, so a crash mid-delete leaves a
    # fully consistent table plus some not-yet-collected orphans (the
    # safe failure mode; the reverse order wedges the current metadata
    # on already-deleted manifest lists). remove-snapshots also drops
    # the expired snapshot-log entries and the oldest survivor's
    # dangling parent pointer.
    updates = [
        {"action": "remove-snapshot-ref", "ref-name": rname}
        for rname in removed_refs
    ]
    if expired:
        updates.append(
            {
                "action": "remove-snapshots",
                "snapshot-ids": [s["snapshot-id"] for s in expired],
            }
        )
    updates += [
        {"action": "remove-statistics", "snapshot-id": st["snapshot-id"]}
        for st in meta.get("statistics", [])
        if st["snapshot-id"] not in keep_ids
    ]
    new_meta = publish(
        table_dir, version, meta, _commit_requirements(meta), updates,
        now_ms, catalog, table_name,
    )
    for path in removed:
        try:
            os.remove(path)
        except FileNotFoundError:
            pass
    return new_meta


def rewrite_manifests(
    table_dir: str,
    now_ms: int | None = None,
    catalog=None,
    table_name: str | None = None,
    max_commit_retries: int = 3,
    target_entries: int = 2048,
) -> dict:
    """See :func:`_rewrite_manifests_once`; in catalog mode a lost race
    against a concurrent append reloads the (now longer) manifest list
    and re-compacts — exactly the table state compaction exists for."""
    return commit_with_retries(
        lambda: _rewrite_manifests_once(
            table_dir, now_ms, catalog, table_name, target_entries
        ),
        catalog,
        max_commit_retries,
    )


def _rewrite_manifests_once(
    table_dir: str,
    now_ms: int | None = None,
    catalog=None,
    table_name: str | None = None,
    target_entries: int = 2048,
) -> dict:
    """Iceberg ``rewriteManifests`` maintenance: merge the current
    snapshot's manifests into PARTITION-CLUSTERED compacted manifests
    of at most ``target_entries`` entries each and commit them as a
    new snapshot (operation ``replace`` — same data files, new
    metadata layout). Long-lived streaming tables accumulate one
    manifest per micro-batch; scan planning walks every manifest, so
    periodic compaction keeps the metadata walk O(1) per scan instead
    of O(commits). The split matters the other way too: manifest
    partition summaries are the PRUNING index, so a single giant
    manifest forces every partition-filtered plan to entry-scan it
    (measured by ``bench_scaling.py --transform-pruning``: 38 ms vs
    2.8 ms for the same 4-file window) — entries are sorted by
    partition value before chunking, giving each output manifest a
    tight summary, exactly real Iceberg's cluster-by-partition rewrite.
    Carried-over entries get status 0/EXISTING (their original
    sequence numbers preserved), so external incremental/CDC readers
    do not see compaction as appends. No-op on already-compact
    tables."""
    import time as _time

    version, meta, table_name = _current_state_meta(table_dir, catalog, table_name)
    if meta.get("current-snapshot-id", -1) == -1:
        return meta
    cur = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _, manifest_files, _ = read_avro_ocf(cur["manifest-list"])
    def _mf_entries(mf) -> int:
        return (
            int(mf.get("added_data_files_count") or 0)
            + int(mf.get("existing_data_files_count") or 0)
            + int(mf.get("deleted_data_files_count") or 0)
        )

    specs = _specs_by_id(meta)
    # compactness is judged PER (content, spec): a multi-spec table is
    # compact at one right-sized manifest per spec generation (spec: a
    # manifest is scoped to one partition spec, so generations cannot
    # merge)
    mf_group_counts: dict[tuple[int, int], int] = {}
    for mf in manifest_files:
        k = (int(mf.get("content") or 0), int(mf.get("partition_spec_id", 0)))
        mf_group_counts[k] = mf_group_counts.get(k, 0) + 1
    if all(c <= 1 for c in mf_group_counts.values()) and all(
        _mf_entries(mf) <= target_entries
        for mf in manifest_files
        if not mf.get("content")
    ):
        return meta  # already compact (<=1 right-sized manifest each)
    # tombstone GC horizon: status=2 entries are load-bearing for the
    # incremental planner (rewrite_data_files / DV-supersede history),
    # but only inside windows a caller can still open — and a window's
    # `from` must be a snapshot that still exists. Entries at or below
    # the oldest live snapshot's sequence number are unreachable.
    horizon = min(
        (int(s["sequence-number"]) for s in meta["snapshots"]),
        default=0,
    )
    # data and delete manifests compact SEPARATELY (spec: a manifest
    # holds either data files or delete files, never both — merging
    # them would make every scan read delete entries as data), and so
    # do SPEC GENERATIONS (each manifest is scoped to one partition
    # spec; merging generations would mis-key partition structs)
    groups: dict[tuple[int, int], list] = {}
    for mf in manifest_files:
        _, es, _ = read_avro_ocf(mf["manifest_path"])
        mf_sid = int(mf.get("partition_spec_id", 0))
        for e in es:
            seq = e.get("sequence_number")
            if seq is None:
                seq = mf.get("sequence_number", 0)
            d2 = dict(e["data_file"])
            d2.setdefault("equality_ids", None)
            for k in _STATS_KEYS:  # pre-stats manifests lack these
                d2.setdefault(k, None)
            if e["status"] == 2:
                # carry tombstones (original deleting-snapshot
                # attribution intact) until no queryable window can
                # reach them — dropping them would blind the
                # incremental planner's retraction guard and lose
                # pre-rewrite windows (see _plan_seq_window); hive-
                # layout data tombstones are additionally the
                # discovery dedup record and never GC (see
                # _tombstone_gc_safe)
                if int(seq) <= horizon and _tombstone_gc_safe(d2, table_dir):
                    continue
                e2 = {**e, "sequence_number": int(seq), "data_file": d2}
            else:
                # spec: carried-over files are status 0 (EXISTING) — an
                # incremental/CDC reader must not see compaction as
                # appends; sequence numbers become explicit so
                # inheritance from the NEW manifest cannot rewrite
                # history
                e2 = {
                    **e,
                    "status": 0,
                    "sequence_number": int(seq),
                    "data_file": d2,
                }
            groups.setdefault(
                (0 if not d2.get("content") else 1, mf_sid), []
            ).append(e2)

    now_ms = int(_time.time() * 1000) if now_ms is None else now_ms
    # snapshot-log monotonicity (same clamp as _commit_append_once): a
    # maintenance clock behind the head must not time-travel the log
    now_ms = max(
        now_ms, max((s["timestamp-ms"] for s in meta["snapshots"]), default=0)
    )
    meta_dir = os.path.join(table_dir, "metadata")
    seq = meta["last-sequence-number"] + 1
    snapshot_id = seq
    schema_struct = _current_schema_struct(meta)
    compact_uuid = uuid.uuid4().hex[:16]  # same per-attempt token as
    # commit_append: concurrent maintenance must not collide on staged
    # metadata paths
    new_manifest_files = []
    total_live_rows = 0
    file_list = []
    data_groups = sorted(k for k in groups if k[0] == 0) or [(0, 0)]
    for _content, sid in data_groups:
        spec = specs.get(sid)
        if spec is None:
            # a manifest naming a spec-id the table metadata lacks is
            # CORRUPTION; resolving it to spec 0 would silently cluster
            # and summarize under the wrong field list (the scan plane
            # errors loudly on unknown specs - maintenance must too)
            raise KeyError(
                f"manifest references partition-spec-id {sid} not present "
                "in table metadata"
            )
        names = [f["name"] for f in spec["fields"]]
        # cluster by partition tuple so each output manifest's summary
        # is a tight pruning range on EVERY spec field (None first,
        # stable by path)
        entries = sorted(
            groups.get((0, sid), []),
            key=lambda e: (
                *(
                    (
                        e["data_file"]["partition"].get(n) is not None,
                        (
                            e["data_file"]["partition"].get(n)
                            if e["data_file"]["partition"].get(n) is not None
                            else 0
                        ),
                    )
                    for n in names
                ),
                e["data_file"]["file_path"],
            ),
        )
        total_live_rows += sum(
            e["data_file"]["record_count"] for e in entries if e["status"] != 2
        )
        file_list += [
            {
                "location": e["data_file"]["file_path"],
                "partition": (
                    e["data_file"]["partition"].get(names[0])
                    if len(names) == 1
                    else dict(e["data_file"]["partition"])
                ),
                "recordCount": e["data_file"]["record_count"],
                "fileSizeInBytes": e["data_file"]["file_size_in_bytes"],
            }
            for e in entries
            if e["status"] != 2
        ]
        n_chunks = max(1, -(-len(entries) // target_entries))
        chunk_size = -(-len(entries) // n_chunks) if entries else 0
        chunks = (
            [
                entries[i : i + chunk_size]
                for i in range(0, len(entries), chunk_size)
            ]
            if entries
            else [[]]  # an empty table still writes one (empty) manifest
        )
        for ci, chunk in enumerate(chunks):
            rows = 0
            n_live = n_dead = dead_rows = 0
            for e in chunk:
                if e["status"] == 2:
                    n_dead += 1
                    dead_rows += e["data_file"]["record_count"]
                else:
                    n_live += 1
                    rows += e["data_file"]["record_count"]
            manifest_path = os.path.join(
                meta_dir,
                f"{meta['table-uuid']}-compacted-m{seq}-s{sid}-{ci}-{compact_uuid}.avro",
            )
            manifest_len = write_avro_ocf(
                manifest_path,
                manifest_entry_schema(spec_typed_cols(spec, schema_struct)),
                chunk,
                {
                    "schema": json.dumps(schema_struct).encode(),
                    "schema-id": str(meta["current-schema-id"]).encode(),
                    "partition-spec": json.dumps(spec["fields"]).encode(),
                    "partition-spec-id": str(sid).encode(),
                    "format-version": str(FORMAT_VERSION).encode(),
                    "content": b"data",
                },
            )
            new_manifest_files.append(
                {
                    "manifest_path": manifest_path,
                    "manifest_length": manifest_len,
                    "partition_spec_id": sid,
                    "content": 0,
                    "sequence_number": seq,
                    "min_sequence_number": min(
                        (e["sequence_number"] for e in chunk),
                        default=min(
                            mf["min_sequence_number"] for mf in manifest_files
                        ),
                    ),
                    "added_snapshot_id": snapshot_id,
                    "added_data_files_count": 0,
                    "existing_data_files_count": n_live,
                    "deleted_data_files_count": n_dead,
                    "added_rows_count": 0,
                    "existing_rows_count": rows,
                    "deleted_rows_count": dead_rows,
                    "partitions": partition_field_summaries(
                        [e["data_file"]["partition"] for e in chunk],
                        names,
                        widths=spec_bound_widths(spec, schema_struct),
                    ),
                }
            )
    for _content, sid in sorted(k for k in groups if k[0] == 1):
        # the table's position-delete entries compact into their own
        # content=1 manifest (per spec generation), preserving each
        # entry's sequence number (the delete-applies-to rule depends
        # on it); the schema selection goes through
        # normalize_delete_entries so DV locators survive compaction
        del_entries = groups[(1, sid)]
        spec = specs.get(sid)
        if spec is None:
            # a manifest naming a spec-id the table metadata lacks is
            # CORRUPTION; resolving it to spec 0 would silently cluster
            # and summarize under the wrong field list (the scan plane
            # errors loudly on unknown specs - maintenance must too)
            raise KeyError(
                f"manifest references partition-spec-id {sid} not present "
                "in table metadata"
            )
        names = [f["name"] for f in spec["fields"]]
        from tiered_storage_for_apache_kafka_spark.sources.deletion_vectors import (  # noqa: E501 (local import: deletion_vectors imports this module)
            normalize_delete_entries,
        )

        del_schema = normalize_delete_entries(
            del_entries, spec_typed_cols(spec, schema_struct)
        )
        del_path = os.path.join(
            meta_dir,
            f"{meta['table-uuid']}-compacted-d{seq}-s{sid}-{compact_uuid}.avro",
        )
        del_len = write_avro_ocf(
            del_path,
            del_schema,
            del_entries,
            {
                "schema": json.dumps(schema_struct).encode(),
                "schema-id": str(meta["current-schema-id"]).encode(),
                "partition-spec": json.dumps(spec["fields"]).encode(),
                "partition-spec-id": str(sid).encode(),
                "format-version": str(FORMAT_VERSION).encode(),
                "content": b"deletes",
            },
        )
        new_manifest_files.append(
            {
                "manifest_path": del_path,
                "manifest_length": del_len,
                "partition_spec_id": sid,
                "content": 1,
                "sequence_number": seq,
                "min_sequence_number": min(
                    e["sequence_number"] for e in del_entries
                ),
                "added_snapshot_id": snapshot_id,
                "added_data_files_count": 0,
                "existing_data_files_count": sum(
                    1 for e in del_entries if e["status"] != 2
                ),
                "deleted_data_files_count": sum(
                    1 for e in del_entries if e["status"] == 2
                ),
                "added_rows_count": 0,
                "existing_rows_count": sum(
                    e["data_file"]["record_count"]
                    for e in del_entries
                    if e["status"] != 2
                ),
                "deleted_rows_count": sum(
                    e["data_file"]["record_count"]
                    for e in del_entries
                    if e["status"] == 2
                ),
                "partitions": partition_field_summaries(
                    [e["data_file"]["partition"] for e in del_entries],
                    names,
                    widths=spec_bound_widths(spec, schema_struct),
                ),
            }
        )
    summary = {
        "operation": "replace",
        "manifests-replaced": str(len(manifest_files)),
        "manifests-created": str(len(new_manifest_files)),
        "total-records": str(total_live_rows),
        "total-position-deletes": str(_prev_total_pos_deletes(meta)),
        "total-equality-deletes": str(
            _prev_summary_counter(meta, "total-equality-deletes")
        ),
    }
    # the compacted manifests ARE the new list (nothing carried over)
    updates = _snapshot_updates(
        table_dir, meta, seq, meta["current-snapshot-id"], compact_uuid,
        new_manifest_files, summary, now_ms, file_list=file_list,
    )
    return publish(
        table_dir, version, meta, _commit_requirements(meta), updates,
        now_ms, catalog, table_name,
    )


def rewrite_data_files(
    spark,
    table_dir: str,
    now_ms: int | None = None,
    catalog=None,
    table_name: str | None = None,
    max_records_per_file: int | None = None,
    sort_by: str | list[str] | None = None,
    zorder_by: list[str] | None = None,
    max_commit_retries: int = 3,
) -> dict:
    """See :func:`_rewrite_data_files_once`; in catalog mode a lost
    race against a concurrent writer reloads and re-compacts against
    the new head."""
    return commit_with_retries(
        lambda: _rewrite_data_files_once(
            spark, table_dir, now_ms, catalog, table_name,
            max_records_per_file, sort_by, zorder_by,
        ),
        catalog,
        max_commit_retries,
    )


def _rewrite_data_files_once(
    spark,
    table_dir: str,
    now_ms: int | None,
    catalog,
    table_name: str | None,
    max_records_per_file: int | None,
    sort_by: str | list[str] | None = None,
    zorder_by: list[str] | None = None,
) -> dict:
    """Iceberg ``rewriteDataFiles`` maintenance (bin-pack compaction
    with merge-on-read materialization): read the current snapshot's
    LIVE rows — every position delete, deletion vector, and equality
    delete applied — rewrite them as fresh parquet (one file per
    partition under ``local[n]``; cap file size at scale with
    ``max_records_per_file``), and commit a REPLACE snapshot whose
    manifest list holds one new data manifest plus tombstone manifests
    recording the replaced data files and the now-fully-applied delete
    files as status=2 entries. After the rewrite the table carries
    ZERO delete files — small-file pressure and merge-on-read cost
    both reset. Same logical rows by construction (the rewrite is the
    planned live scan), so the snapshot is spec-``replace``.

    Positional identity intentionally changes: every surviving row
    gets a new (file, pos). Consumers that diff by identity are
    guarded — ``read_iceberg_changelog`` refuses windows spanning a
    data rewrite, and the incremental append scan skips replace-added
    files. Both guards are durable: compaction output is recognizable
    by its ``_compacted-`` path marker even after the rewrite snapshot
    expires, prior tombstones are carried forward through later
    rewrites and manifest compactions (GC'd only once no queryable
    window can reach them), and a tombstone whose deleting snapshot
    the metadata can no longer explain is an explicit error, never a
    silently wrong window.

    New files live under ``<table>/_compacted-<token>/`` — a
    "_"-prefixed (Hadoop-hidden) directory the discovery-mode append
    skips, so a crash between staging and commit leaves orphans that
    can never be double-committed. Scale shape: the rewrite is one
    distributed read + one distributed write, no driver materialization
    — the driver handles only O(#files) footer stats, same as every
    commit path."""
    import time as _time

    version, meta, table_name = _current_state_meta(table_dir, catalog, table_name)
    if meta.get("current-snapshot-id", -1) == -1:
        return meta
    cur = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    raw_tombstones: list[dict] = []
    data, deletes = _plan_snapshot(cur, None, tombstones_out=raw_tombstones)
    if not data:
        return meta
    # the rewrite writes under the table's DEFAULT spec — compaction is
    # how old-spec files migrate to the current layout after partition
    # evolution, exactly like the Java rewrite action
    spec = _default_spec(meta)
    part_names = spec_names(spec)
    specs = _specs_by_id(meta)
    schema_struct = _current_schema_struct(meta)
    leaf_ids = _leaf_field_ids(schema_struct)

    # sorted compaction (Iceberg's sort strategy): sort rows within
    # the partition-colocated write tasks and slice by
    # max_records_per_file, so each output file covers a NARROW value
    # range — the recorded lower/upper bounds get tight and
    # plan_scan's bounds pruning skips whole files instead of row
    # groups. The order is recorded as a spec sort-order and stamped
    # on the entries via sort_order_id. Resolved BEFORE the
    # already-compact early-return: a sort request must re-layout (or
    # error on a bad column) even when file counts look fine.
    sort_cols = (
        [sort_by] if isinstance(sort_by, str) else list(sort_by or [])
    )
    zorder_cols = list(zorder_by or [])
    if sort_cols and zorder_cols:
        raise ValueError("sort_by and zorder_by are mutually exclusive")
    sort_order_id = 0
    new_sort_order: dict | None = None
    if sort_cols:
        from tiered_storage_for_apache_kafka_spark.sources.iceberg.manifests import (  # noqa: E501 (shared with the sorted write path)
            match_or_add_sort_order,
        )

        _, sort_order_id, new_sort_order = match_or_add_sort_order(
            meta, sort_cols, schema_struct
        )

    per_part: dict = {}
    for d in data:
        key = tuple(d["partition"].get(n) for n in part_names)
        per_part[key] = per_part.get(key, 0) + 1
    already_sorted = bool(sort_cols) and all(
        int(d.get("sort_order_id") or 0) == sort_order_id for d in data
    )
    all_default_spec = all(
        int(d.get("_spec_id", spec["spec-id"])) == spec["spec-id"]
        for d in data
    )
    if (
        not deletes
        and max(per_part.values()) <= 1
        and all_default_spec
        and (not sort_cols or already_sorted)
        # a zorder request always re-layouts: entries carry no record
        # of an interleaved order (spec sort orders cannot express it),
        # so there is nothing to no-op against
        and not zorder_cols
    ):
        return meta  # already compact (and in the requested order/spec)

    live = _read_plan_with_identity(spark, table_dir, meta, data, deletes).drop(
        "__iceberg_file", "__iceberg_pos"
    )
    # transformed partition columns are metadata-only (never in the
    # data or the scan) — recompute EVERY one executor-side from its
    # source column so the rewrite regroups exactly as the writer did
    # (old-spec files get the new spec's columns computed here too —
    # that is the spec migration)
    id_to_name = {f["id"]: f["name"] for f in schema_struct["fields"]}
    for f in spec["fields"]:
        if f["transform"] != "identity":
            from tiered_storage_for_apache_kafka_spark.sources.iceberg.transforms import (  # noqa: E501
                transform_column,
            )

            live = transform_column(
                live,
                id_to_name[f["source-id"]],
                f["transform"],
                f["name"],
            )
    compact_uuid = uuid.uuid4().hex[:16]
    out_dir = os.path.join(table_dir, f"_compacted-{compact_uuid}")

    def _colocate(df):
        # a truly unpartitioned table (fields: []) has no partition
        # tuple to co-locate on; repartition(*[]) is a TypeError
        return df.repartition(*part_names) if part_names else df
    if sort_cols:
        from pyspark.sql import functions as F

        from tiered_storage_for_apache_kafka_spark.sources.iceberg.transforms import (  # noqa: E501
            sort_field_expr,
        )

        keys = [F.col(n) for n in part_names] + [
            sort_field_expr(c) for c in sort_cols
        ]
        # sort within the partition-colocated tasks; file-level range
        # slicing comes from maxRecordsPerFile (AQE may coalesce a
        # range shuffle on small data, but a sorted task split by
        # record cap yields consecutive — hence tight-bounded — files
        # deterministically at every scale)
        shaped = _colocate(live).sortWithinPartitions(*keys)
    elif zorder_cols:
        from pyspark.sql import functions as F

        from tiered_storage_for_apache_kafka_spark.sources.iceberg.transforms import (  # noqa: E501
            zorder_column,
            zorder_surrogate_expr,
        )

        # one bounded agg for the dimension ranges (driver-side: 2N
        # scalars), then the interleave key is pure JVM expressions;
        # sorting by it clusters rows close in EVERY zorder dimension,
        # so the record-cap slices carry tight bounds on ALL of them.
        # Ranges aggregate over each dimension's SURROGATE expression
        # (numeric pass-through, temporal epoch ordinals, string byte
        # prefixes) — the same expression the rank divides through, so
        # bounds and ranks can never disagree; unsupported dimension
        # types raise a typed error here, before any file is touched
        aggs = []
        for c in zorder_cols:
            sur = zorder_surrogate_expr(live, c)
            aggs += [F.min(sur).alias(f"mn_{c}"), F.max(sur).alias(f"mx_{c}")]
        row = live.agg(*aggs).collect()[0]
        stats = {
            c: (
                row[f"mn_{c}"] if row[f"mn_{c}"] is not None else 0,
                row[f"mx_{c}"] if row[f"mx_{c}"] is not None else 0,
            )
            for c in zorder_cols
        }
        zed = zorder_column(live, zorder_cols, stats, "__zorder")
        keys = [F.col(n) for n in part_names] + [F.col("__zorder")]
        shaped = (
            _colocate(zed)
            .sortWithinPartitions(*keys)
            .drop("__zorder")
        )
    else:
        shaped = _colocate(live)
    from tiered_storage_for_apache_kafka_spark.sources.iceberg.writer import (
        _with_parquet_field_ids,
    )

    shaped = _with_parquet_field_ids(shaped, meta)
    writer = shaped.write.partitionBy(*part_names)
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    # session-portable write confs: rewritten files must carry INT64
    # timestamp stats under ANY ambient session (session.pinned_write_confs)
    from tiered_storage_for_apache_kafka_spark.session import (
        pinned_write_confs,
    )

    with pinned_write_confs(spark):
        writer.parquet(out_dir, mode="overwrite")
    # rewritten bytes carry the CURRENT schema's column names, so the
    # compacted files are stamped with the current naming epoch (the
    # read side resolves each file under its own epoch's names —
    # schema.py "naming epochs")
    naming_epoch = int(
        (meta.get("properties") or {}).get("engine.naming-epoch", 0)
    )
    new_paths = []
    for root, _dirs, names in os.walk(out_dir):
        if "_temporary" in root.split(os.sep):
            continue
        for n in names:
            if not n.endswith(".parquet"):
                continue
            dest = os.path.join(
                root, n[: -len(".parquet")] + f"-e{naming_epoch}.parquet"
            )
            os.replace(os.path.join(root, n), dest)
            new_paths.append(dest)
    new_files = _stat_data_files(sorted(new_paths), spec_typed_cols(spec, schema_struct))

    now_ms = int(_time.time() * 1000) if now_ms is None else now_ms
    now_ms = max(
        now_ms, max((s["timestamp-ms"] for s in meta["snapshots"]), default=0)
    )
    meta_dir = os.path.join(table_dir, "metadata")
    seq = meta["last-sequence-number"] + 1
    snapshot_id = seq
    ocf_meta = {
        "schema": json.dumps(schema_struct).encode(),
        "schema-id": str(meta["current-schema-id"]).encode(),
        "partition-spec": json.dumps(spec["fields"]).encode(),
        "partition-spec-id": str(spec["spec-id"]).encode(),
        "format-version": str(FORMAT_VERSION).encode(),
    }
    added_entries = [
        {
            "status": 1,  # ADDED
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
                "sort_order_id": sort_order_id,
            },
        }
        for f in new_files
    ]
    data_manifest_path = os.path.join(
        meta_dir, f"{meta['table-uuid']}-rw{seq}-{compact_uuid}.avro"
    )
    data_manifest_len = write_avro_ocf(
        data_manifest_path,
        manifest_entry_schema(spec_typed_cols(spec, schema_struct)),
        added_entries,
        {**ocf_meta, "content": b"data"},
    )
    live_rows = sum(f["record_count"] for f in new_files)
    new_manifest_files = [
        {
            "manifest_path": data_manifest_path,
            "manifest_length": data_manifest_len,
            "partition_spec_id": spec["spec-id"],
            "content": 0,
            "sequence_number": seq,
            "min_sequence_number": seq,
            "added_snapshot_id": snapshot_id,
            "added_data_files_count": len(new_files),
            "existing_data_files_count": 0,
            "deleted_data_files_count": 0,
            "added_rows_count": live_rows,
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
            "partitions": partition_field_summaries(
                [f["partition"] for f in new_files],
                part_names,
                widths=spec_bound_widths(spec, schema_struct),
            ),
        }
    ]

    # prior tombstones (earlier rewrites / DV supersedes) must survive
    # this rewrite too — dropping them would lose pre-rewrite
    # incremental windows and blind the retraction guard — collected
    # in the SAME metadata walk as the plan (tombstones_out above).
    # GC at the oldest-live-snapshot horizon, except hive-layout data
    # tombstones: those are the discovery dedup record for files still
    # on disk and never GC (see _tombstone_gc_safe).
    horizon = min(
        (int(s["sequence-number"]) for s in meta["snapshots"]), default=0
    )
    default_sid = int(spec["spec-id"])
    prior_tombstones: dict[tuple[int, int], list[dict]] = {}
    for e in raw_tombstones:
        d2 = e["data_file"]
        if int(e["sequence_number"]) <= horizon and _tombstone_gc_safe(
            d2, table_dir
        ):
            continue
        # the ORIGINAL deleting-snapshot attribution is kept
        prior_tombstones.setdefault(
            (
                0 if not d2.get("content") else 1,
                int(e.get("_spec_id", default_sid)),
            ),
            [],
        ).append({k: v for k, v in e.items() if k != "_spec_id"})

    from tiered_storage_for_apache_kafka_spark.sources.deletion_vectors import (
        normalize_delete_entries,
    )

    def _tombstones(flat: list[dict], content: int, tag: str) -> None:
        """Status=2 manifests recording the replaced entries (plus
        carried prior tombstones), ONE PER SPEC GENERATION — each
        tombstone's partition struct stays keyed by the spec its file
        was written under; tombstones keep their original sequence
        numbers so the incremental planner's retraction guard stays
        durable."""
        by_sid: dict[int, list[dict]] = {}
        for d in sorted(flat, key=lambda d: d["file_path"]):
            sid = int(d.get("_spec_id", default_sid))
            d2 = {k: v for k, v in d.items() if k not in ("_seq", "_spec_id")}
            by_sid.setdefault(sid, []).append(
                {
                    "status": 2,  # DELETED by this snapshot
                    "snapshot_id": snapshot_id,
                    "sequence_number": int(d["_seq"]),
                    "file_sequence_number": None,
                    "data_file": d2,
                }
            )
        for (c, sid), prior in prior_tombstones.items():
            if c == content:
                by_sid.setdefault(sid, []).extend(prior)
        for sid in sorted(by_sid):
            entries = by_sid[sid]
            t_spec = specs.get(sid)
            if t_spec is None:
                raise KeyError(
                    f"tombstone references partition-spec-id {sid} not "
                    "present in table metadata"
                )
            t_names = spec_names(t_spec)
            for e in entries:
                d2 = e["data_file"]
                d2.setdefault("equality_ids", None)
                for k in _STATS_KEYS:
                    d2.setdefault(k, None)
                d2.setdefault("split_offsets", None)
                d2.setdefault("sort_order_id", None)
            entry_schema = (
                normalize_delete_entries(
                    entries, spec_typed_cols(t_spec, schema_struct)
                )
                if content == 1
                else manifest_entry_schema(spec_typed_cols(t_spec, schema_struct))
            )
            path = os.path.join(
                meta_dir,
                f"{meta['table-uuid']}-{tag}{seq}-s{sid}-{compact_uuid}.avro",
            )
            length = write_avro_ocf(
                path,
                entry_schema,
                entries,
                {
                    **ocf_meta,
                    "partition-spec": json.dumps(t_spec["fields"]).encode(),
                    "partition-spec-id": str(sid).encode(),
                    "content": b"data" if content == 0 else b"deletes",
                },
            )
            new_manifest_files.append(
                {
                    "manifest_path": path,
                    "manifest_length": length,
                    "partition_spec_id": sid,
                    "content": content,
                    "sequence_number": seq,
                    "min_sequence_number": min(
                        int(e["sequence_number"]) for e in entries
                    ),
                    "added_snapshot_id": snapshot_id,
                    "added_data_files_count": 0,
                    "existing_data_files_count": 0,
                    "deleted_data_files_count": len(entries),
                    "added_rows_count": 0,
                    "existing_rows_count": 0,
                    "deleted_rows_count": sum(
                        e["data_file"]["record_count"] for e in entries
                    ),
                    "partitions": partition_field_summaries(
                        [e["data_file"]["partition"] for e in entries],
                        t_names,
                        widths=spec_bound_widths(t_spec, schema_struct),
                    ),
                }
            )

    _tombstones(data, 0, "rwdel")
    if deletes or any(k[0] == 1 for k in prior_tombstones):
        _tombstones(deletes, 1, "rwdrop")

    summary = {
        "operation": "replace",
        "added-data-files": str(len(new_files)),
        "deleted-data-files": str(len(data)),
        "removed-delete-files": str(len(deletes)),
        "added-records": str(live_rows),
        "deleted-records": str(sum(d["record_count"] for d in data)),
        "total-records": str(live_rows),
        "total-data-files": str(len(new_files)),
        "total-position-deletes": "0",
        "total-equality-deletes": "0",
    }
    file_list = [
        {
            "location": f["file_path"],
            "partition": (
                f["partition_value"]
                if len(part_names) == 1
                else dict(f["partition"])
            ),
            "recordCount": f["record_count"],
            "fileSizeInBytes": f["file_size_in_bytes"],
        }
        for f in new_files
    ]
    # the rewrite's manifests (new data + tombstones) ARE the new list
    updates = _snapshot_updates(
        table_dir, meta, seq, meta["current-snapshot-id"], compact_uuid,
        new_manifest_files, summary, now_ms, file_list=file_list,
    )
    if new_sort_order is not None:
        updates.append({"action": "add-sort-order", "sort-order": new_sort_order})
    return publish(
        table_dir, version, meta, _commit_requirements(meta), updates,
        now_ms, catalog, table_name,
    )


def remove_orphan_files(
    table_dir: str,
    older_than_timestamp_ms: int | None = None,
    now_ms: int | None = None,
    catalog=None,
    table_name: str | None = None,
    dry_run: bool = False,
) -> list[str]:
    """Iceberg ``removeOrphanFiles`` maintenance — the fourth leg of
    the maintenance set (expire / rewrite_manifests /
    rewrite_data_files / this): delete files under the table location
    that no surviving snapshot references LIVE and no still-openable
    incremental window can serve. Orphans accumulate from crashed
    writer attempts (staged ``_staging-*`` dirs, Spark ``_temporary``
    leftovers) and from snapshot expiration (a ``rewrite_data_files``-
    replaced original whose last live-referencing snapshot has been
    expired). Tombstoned files are kept while their sequence number is
    still above the oldest-live-snapshot horizon — exactly the
    reachability rule `_plan_seq_window` uses to serve pre-rewrite
    windows from tombstones, so a tag pinning an old ``from`` snapshot
    keeps the window's bytes alive here too.

    Metadata-only read; commits nothing (like the Java action). Files
    whose mtime is at or after ``older_than_timestamp_ms`` (an ABSOLUTE
    epoch-ms cutoff, default: 3 days before now — pass
    ``now_ms - age`` for a duration) are kept: an in-flight writer
    stages files BEFORE its commit makes them referenced, so the
    recency guard is the only thing separating "orphan" from "about to
    be committed". Caveat inherited from the Java action's mtime
    semantics: files staged for a FUTURE discovery-mode
    ``commit_append`` with preserved old timestamps (``cp -p`` /
    ``rsync -a`` backfills) look like orphans — commit first, or vacuum
    with a cutoff older than the backfill. The ``metadata/`` tree is
    governed by :func:`expire_snapshots` and never touched; emptied
    directories are pruned only along the removed files' ancestor
    chains, so an in-flight writer's freshly-created empty staging dir
    is never rmdir'd from under it. Returns the removed (or, under
    ``dry_run``, would-be-removed) paths.

    Scale shape: one metadata walk (manifest lists + manifests, each
    read once via a path cache) and one filesystem listing — the same
    O(metadata + files) any orphan scan pays; nothing row-level."""
    import time as _time

    _version, meta, table_name = _current_state_meta(
        table_dir, catalog, table_name
    )
    now_ms = int(_time.time() * 1000) if now_ms is None else now_ms
    cutoff_ms = (
        now_ms - 3 * 24 * 3600 * 1000
        if older_than_timestamp_ms is None
        else older_than_timestamp_ms
    )
    horizon = min(
        (int(s["sequence-number"]) for s in meta.get("snapshots", [])),
        default=0,
    )
    referenced: set[str] = set()
    seen_manifests: set[str] = set()
    for s in meta.get("snapshots", []):
        _, mfs, _ = read_avro_ocf(s["manifest-list"])
        for mf in mfs:
            mp = mf["manifest_path"]
            if mp in seen_manifests:
                continue
            seen_manifests.add(mp)
            _, es, _ = read_avro_ocf(mp)
            for e in es:
                if e["status"] == 2:
                    seq = e.get("sequence_number")
                    if seq is None:
                        seq = mf.get("sequence_number", 0)
                    if int(seq) <= horizon:
                        # no openable window reaches it: bytes dead
                        continue
                referenced.add(os.path.realpath(e["data_file"]["file_path"]))
    removed: list[str] = []
    for root, dirs, names in os.walk(table_dir):
        if root == table_dir and "metadata" in dirs:
            dirs.remove("metadata")  # expire_snapshots' jurisdiction
        for name in names:
            if name.startswith(".") or name == "_SUCCESS":
                continue  # fs markers ride along with their dir
            p = os.path.join(root, name)
            if os.path.realpath(p) in referenced:
                continue
            try:
                mtime_ms = os.path.getmtime(p) * 1000
            except FileNotFoundError:
                continue
            if mtime_ms >= cutoff_ms:
                continue  # possibly staged ahead of an in-flight commit
            removed.append(p)
    if not dry_run:
        prune_dirs: set[str] = set()
        for p in removed:
            try:
                os.remove(p)
            except FileNotFoundError:
                pass
            # a checksum sidecar (.f.crc) of a removed file is pure
            # leak once its data file is gone
            crc = os.path.join(
                os.path.dirname(p), f".{os.path.basename(p)}.crc"
            )
            try:
                os.remove(crc)
            except OSError:
                pass
            d = os.path.dirname(p)
            while d != table_dir and d.startswith(table_dir):
                prune_dirs.add(d)
                d = os.path.dirname(d)
        # prune emptied dirs bottom-up, but ONLY along removed files'
        # ancestor chains — never a concurrent writer's fresh (still
        # empty) staging dir, and never anything under metadata/
        for d in sorted(prune_dirs, key=len, reverse=True):
            try:
                if not os.listdir(d):
                    os.rmdir(d)
            except OSError:
                pass
    return sorted(removed)


# -- per-column NDV statistics (the compute_table_stats surface, r12) ----------

NDV_BLOB_TYPE = "engine-kmv-ndv-v1"
_NDV_SPACE = 1 << 40  # 40-bit md5-prefix hash domain (exact in double)


def _ndv_bottom_k_frame(df, columns: list[str], k: int):
    """The single-pass bottom-k frame `compute_ndv_stats` collects:
    (column, u, rn) rows with rn <= k per column. One scan whatever
    the column count; the rank filter sits directly over the window
    so Spark's WindowGroupLimit pushdown keeps per-task bottom-k
    BEFORE the exchange (the plan test pins both properties)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    pair_exprs = [
        F.struct(
            F.lit(c).alias("column"),
            F.expr(
                f"cast(conv(substr(md5(cast(`{c}` as string)), 1, 10), "
                "16, 10) as bigint)"
            ).alias("u"),
        )
        for c in columns
    ]
    w = Window.partitionBy("column").orderBy("u")
    return (
        df.select(F.explode(F.array(*pair_exprs)).alias("s"))
        .select("s.column", "s.u")
        .where(F.col("u").isNotNull())  # null values hash to null
        .distinct()
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
    )


def compute_ndv_stats(
    spark,
    table_dir: str,
    columns: list[str],
    k: int = 1024,
    now_ms: int | None = None,
    catalog=None,
    table_name: str | None = None,
) -> dict:
    """Iceberg's ``compute_table_stats`` surface: per-column
    NDV (number-of-distinct-values) sketches for the CURRENT snapshot,
    written as Puffin statistics blobs and registered in the table's
    ``statistics`` list (spec "Table statistics"; real Iceberg writes
    `apache-datasketches-theta-v1` blobs — this engine writes its own
    honest blob type rather than fake theta bytes). Each column gets
    one blob: type ``engine-kmv-ndv-v1``, ``fields=[field id]``,
    payload = the K smallest 40-bit md5-prefix hashes of the column's
    distinct values (JSON; MERGEABLE — the union sketch is the K
    smallest of the concatenation, the KMV/bottom-k estimator), and
    blob property ``ndv`` = the point estimate external readers
    consume (Trino reads the same property off theta blobs). The
    sketch is DETERMINISTIC (md5 order statistics, integer estimate
    arithmetic), so any engine — including the DuckDB oracle —
    reproduces it bit-for-bit; fewer than K distinct hashes means the
    estimate IS the exact count.

    The snapshot's existing statistics file (the engine's commit paths
    register a ``file-list`` blob) is preserved: its non-NDV blobs are
    re-packed into the new file alongside the fresh sketches, and the
    statistics entry is replaced for this snapshot only.

    Scale shape (r13): ONE scan of the data whatever the column count
    — rows explode to (column, hash) pairs, one distinct shuffle, one
    per-column bottom-k whose rank filter rides Spark's
    WindowGroupLimit pushdown (per-task partial bottom-k before the
    exchange, so the final shuffle carries O(k·columns·tasks) rows,
    never the distinct domain). The blob left behind is O(K) and
    mergeable across partitions/tables."""
    import time as _time

    from pyspark.sql import functions as F

    from tiered_storage_for_apache_kafka_spark.sources.iceberg.scan import (
        read_iceberg_table,
    )
    from tiered_storage_for_apache_kafka_spark.sources.puffin import (
        read_puffin_blobs,
        write_puffin_file,
    )

    if not columns:
        raise ValueError("compute_ndv_stats needs at least one column")
    if k < 2:
        raise ValueError("k must be >= 2 (the estimator divides by k-1)")
    version, meta, table_name = _current_state_meta(
        table_dir, catalog, table_name
    )
    snap_id = int(meta.get("current-snapshot-id", -1))
    if snap_id == -1:
        raise ValueError("table has no snapshot to compute statistics for")
    snap = next(s for s in meta["snapshots"] if s["snapshot-id"] == snap_id)
    seq = int(snap.get("sequence-number", 0))
    schema_struct = _current_schema_struct(meta)
    leaf = _leaf_field_ids(schema_struct)
    missing = sorted(set(columns) - set(leaf))
    if missing:
        raise ValueError(f"no scalar leaf column(s) {missing} in the schema")

    df = read_iceberg_table(
        spark, table_dir, catalog=catalog, table_name=table_name
    )
    # SINGLE-PASS over all columns (r13; previously one job per
    # column = N sequential scans of the same data on a wide table):
    # explode each row to (column, 40-bit md5 hash) pairs — one scan
    # whatever the column count — then one distinct shuffle and one
    # per-column bottom-k. The rank filter under the window triggers
    # Spark's WindowGroupLimit pushdown (partial per-task bottom-k
    # BEFORE the exchange), so the shuffle carries O(k · columns ·
    # tasks) rows, never the distinct domain. Hash order statistics
    # are unchanged, so the KMV payloads stay bit-for-bit identical
    # to the per-column jobs' (the DuckDB oracle replays them).
    rows = _ndv_bottom_k_frame(df, columns, k).collect()
    bottom: dict[str, list[int]] = {}
    for r in rows:
        bottom.setdefault(r["column"], []).append((r["rn"], int(r["u"])))
    blob_specs: list[dict] = []
    for c in columns:
        hashes = [u for _rn, u in sorted(bottom.get(c, []))]
        if len(hashes) < k:
            est = len(hashes)  # full domain observed: exact
        else:
            est = (k - 1) * _NDV_SPACE // hashes[-1]
        blob_specs.append(
            {
                "type": NDV_BLOB_TYPE,
                "fields": [leaf[c]],
                "payload": json.dumps(
                    {"k": k, "space": _NDV_SPACE, "hashes": hashes}
                ).encode(),
                "properties": {"ndv": str(est), "column": c},
            }
        )

    # preserve the snapshot's existing non-NDV blobs (file-list etc.);
    # recomputed NDV blobs replace stale ones wholesale
    existing = next(
        (
            st
            for st in meta.get("statistics", [])
            if int(st["snapshot-id"]) == snap_id
        ),
        None,
    )
    if existing is not None:
        for e in read_puffin_blobs(existing["statistics-path"]):
            if e["type"] != NDV_BLOB_TYPE:
                blob_specs.insert(
                    0,
                    {
                        "type": e["type"],
                        "fields": e.get("fields") or [],
                        "payload": e["payload"],
                        **(
                            {"properties": e["properties"]}
                            if e.get("properties")
                            else {}
                        ),
                    },
                )
    now_ms = int(_time.time() * 1000) if now_ms is None else now_ms
    meta_dir = os.path.join(table_dir, "metadata")
    os.makedirs(meta_dir, exist_ok=True)
    stats_path = os.path.join(
        meta_dir, f"stats-ndv-{snap_id}-{uuid.uuid4().hex[:16]}.puffin"
    )
    pstats = write_puffin_file(stats_path, blob_specs, snap_id, seq)
    stat_entry = {
        "snapshot-id": snap_id,
        "statistics-path": stats_path,
        "file-size-in-bytes": pstats["file_size"],
        "file-footer-size-in-bytes": pstats["footer_size"],
        "blob-metadata": pstats["blob_metadata"],
    }
    return publish(
        table_dir, version, meta, _commit_requirements(meta),
        [{"action": "set-statistics", "statistics": stat_entry}], now_ms,
        catalog, table_name,
    )
