"""Branches and tags: create/drop refs, WAP fast-forward.

Split from the original sources/iceberg.py (r7); provenance and
parity citations live in the package __init__ and the function
docstrings.
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
    manifest_entry_schema,
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
    _prev_summary_counter,
    _specs_by_id,
    publish,
)


def create_ref(
    table_dir: str,
    name: str,
    kind: str = "tag",
    snapshot_id: int | None = None,
    now_ms: int | None = None,
    catalog=None,
    table_name: str | None = None,
    max_ref_age_ms: int | None = None,
    min_snapshots_to_keep: int | None = None,
    max_snapshot_age_ms: int | None = None,
) -> dict:
    """Create (or move) a named snapshot reference — spec "Snapshot
    References": a ``tag`` is an immutable label for auditing /
    reproducible reads ("the corpus release we trained on"), a
    ``branch`` a movable head. Defaults to the current snapshot.
    A commit's ``set-snapshot-ref`` moves only its own ref, and
    :func:`expire_snapshots` protects every referenced snapshot, so a
    tagged snapshot stays readable for the tag's lifetime. Either mode
    publishes one ``set-snapshot-ref`` update (the REST spec's update
    type).

    Per-ref RETENTION (spec fields, r12 — honored by
    :func:`maintenance.expire_snapshots`): ``max_ref_age_ms`` ages the
    ref itself out (age measured from its snapshot's commit timestamp;
    the lapsed ref is removed by the next expiration, releasing its
    snapshot — without it a forgotten tag pins data forever at
    100 TB); ``min_snapshots_to_keep`` / ``max_snapshot_age_ms``
    (branches only, as the spec says) bound how much of the branch's
    ANCESTRY expiration retains — count-from-head and age
    respectively, OR-composed like the Java action. Refs without the
    fields keep the conservative defaults: permanent, full ancestry."""
    if kind not in ("tag", "branch"):
        raise ValueError(f"ref type must be 'tag' or 'branch', got {kind!r}")
    if name == "main" and kind == "tag":
        raise ValueError("'main' is the branch head; it cannot be a tag")
    if kind == "tag" and (
        min_snapshots_to_keep is not None or max_snapshot_age_ms is not None
    ):
        raise ValueError(
            "min_snapshots_to_keep / max_snapshot_age_ms are branch "
            "retention fields (a tag has no ancestry of its own); use "
            "max_ref_age_ms to age a tag out"
        )
    version, meta, table_name = _current_state_meta(
        table_dir, catalog, table_name
    )
    if snapshot_id is None:
        snapshot_id = meta.get("current-snapshot-id", -1)
    if not any(s["snapshot-id"] == snapshot_id for s in meta["snapshots"]):
        raise ValueError(f"snapshot {snapshot_id} not found")
    ref = {"snapshot-id": snapshot_id, "type": kind}
    if max_ref_age_ms is not None:
        ref["max-ref-age-ms"] = int(max_ref_age_ms)
    if min_snapshots_to_keep is not None:
        ref["min-snapshots-to-keep"] = int(min_snapshots_to_keep)
    if max_snapshot_age_ms is not None:
        ref["max-snapshot-age-ms"] = int(max_snapshot_age_ms)
    now_ms = int(time.time() * 1000) if now_ms is None else now_ms
    # set-snapshot-ref on main also moves current-snapshot-id and the
    # snapshot-log: refs.main and the head never diverge
    return publish(
        table_dir, version, meta, _commit_requirements(meta),
        [{"action": "set-snapshot-ref", "ref-name": name, **ref}],
        now_ms, catalog, table_name,
    )


def drop_ref(
    table_dir: str,
    name: str,
    now_ms: int | None = None,
    catalog=None,
    table_name: str | None = None,
) -> dict:
    """Remove a named ref (``remove-snapshot-ref`` in the REST spec).
    The snapshot itself stays until :func:`expire_snapshots` collects
    it. Dropping ``main`` is refused — a table always has a head."""
    if name == "main":
        raise ValueError("cannot drop the main branch")
    version, meta, table_name = _current_state_meta(
        table_dir, catalog, table_name
    )
    if name not in (meta.get("refs") or {}):
        raise ValueError(f"ref {name!r} not found")
    now_ms = int(time.time() * 1000) if now_ms is None else now_ms
    return publish(
        table_dir, version, meta, _commit_requirements(meta),
        [{"action": "remove-snapshot-ref", "ref-name": name}],
        now_ms, catalog, table_name,
    )


def fast_forward(
    table_dir: str,
    source: str,
    target: str = "main",
    now_ms: int | None = None,
    catalog=None,
    table_name: str | None = None,
) -> dict:
    """Publish a branch — the WAP (write-audit-publish) publish step:
    move ``target`` (default ``main``) to ``source``'s head. Requires
    the target head to be an ANCESTOR of the source head (walked via
    parent-snapshot-id), exactly Iceberg's ``fast_forward`` procedure —
    a divergent target needs an explicit choice (drop the branch or
    re-stage), never a silent overwrite. Advancing ``main`` also moves
    ``current-snapshot-id`` and appends the published head to the
    snapshot-log, so TIMESTAMP AS OF sees the publish instant, not the
    staging instants."""
    version, meta, table_name = _current_state_meta(table_dir, catalog, table_name)
    refs = meta.get("refs") or {}
    src = refs.get(source)
    if src is None:
        raise ValueError(f"ref {source!r} not found")
    src_id = int(src["snapshot-id"])
    tgt = refs.get(target)
    tgt_id = int(tgt["snapshot-id"]) if tgt is not None else -1
    if tgt is not None and tgt.get("type") == "tag":
        raise ValueError(f"target ref {target!r} is a tag, not a branch")
    if tgt_id == src_id:
        return meta  # already published
    # ancestry walk: target head must be reachable from the source head
    by_id = {s["snapshot-id"]: s for s in meta["snapshots"]}
    node = src_id
    while tgt_id != -1:
        snap = by_id.get(node)
        if snap is None:
            raise ValueError(
                f"cannot fast-forward {target!r}: its head {tgt_id} is "
                f"not an ancestor of {source!r} (lineage broken at "
                f"{node}); drop or re-stage the branch instead"
            )
        parent = snap.get("parent-snapshot-id")
        if parent == tgt_id:
            break
        if parent is None:
            raise ValueError(
                f"cannot fast-forward {target!r}: its head {tgt_id} is "
                f"not an ancestor of {source!r}; drop or re-stage the "
                "branch instead"
            )
        node = parent

    now_ms = int(time.time() * 1000) if now_ms is None else now_ms
    now_ms = max(
        now_ms, max((e["timestamp-ms"] for e in meta["snapshot-log"]), default=0)
    )
    return publish(
        table_dir, version, meta, _commit_requirements(meta),
        [
            {
                "action": "set-snapshot-ref",
                "ref-name": target,
                "type": "branch",
                "snapshot-id": src_id,
            }
        ],
        now_ms, catalog, table_name,
    )


def rollback_to_snapshot(
    table_dir: str,
    snapshot_id: int,
    now_ms: int | None = None,
    catalog=None,
    table_name: str | None = None,
    allow_non_ancestor: bool = False,
) -> dict:
    """Roll ``main`` back to a historical snapshot — Iceberg's
    ``rollback_to_snapshot`` procedure (the operational "oops" after a
    bad commit): one metadata-only commit moving ``current-snapshot-id``
    and the ``main`` ref to ``snapshot_id`` and appending it to the
    snapshot-log (the rollback IS a ``TIMESTAMP AS OF`` event). Data
    and metadata files are untouched: the rolled-back-from snapshots
    stay readable by id until ``expire_snapshots`` garbage-collects
    them as unreachable, and the NEXT write chains off the restored
    head (the abandoned lineage becomes a dead fork, exactly Iceberg's
    semantics — sequence numbers keep increasing monotonically, so
    incremental consumers never see a regressing offset).

    The target must be an ANCESTOR of the current head (the rollback
    contract); ``allow_non_ancestor=True`` relaxes it to Iceberg's
    ``set_current_snapshot`` (jump to ANY listed snapshot, e.g. back
    onto an abandoned fork). Rolling back UNDER a live keyed-changelog
    consumer's checkpoint is a divergence event for that consumer —
    its emitted rows from the abandoned lineage have no counterpart in
    the restored one; restart it from a fresh checkpoint
    (re-bootstrap), the same operational rule as retention."""
    version, meta, table_name = _current_state_meta(
        table_dir, catalog, table_name
    )
    by_id = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    if snapshot_id not in by_id:
        raise ValueError(
            f"snapshot {snapshot_id} not found (expired or never existed)"
        )
    cur_id = int(meta.get("current-snapshot-id", -1))
    if cur_id == snapshot_id:
        return meta  # already there
    if not allow_non_ancestor:
        node = cur_id
        while node != snapshot_id:
            snap = by_id.get(node)
            parent = None if snap is None else snap.get("parent-snapshot-id")
            if parent is None:
                raise ValueError(
                    f"snapshot {snapshot_id} is not an ancestor of the "
                    f"current head {cur_id}; pass "
                    "allow_non_ancestor=True for set_current_snapshot "
                    "semantics (jump to any listed snapshot)"
                )
            node = parent

    now_ms = int(time.time() * 1000) if now_ms is None else now_ms
    now_ms = max(
        now_ms,
        max((e["timestamp-ms"] for e in meta["snapshot-log"]), default=0),
    )
    return publish(
        table_dir, version, meta, _commit_requirements(meta),
        [
            {
                "action": "set-snapshot-ref",
                "ref-name": "main",
                "type": "branch",
                "snapshot-id": snapshot_id,
            }
        ],
        now_ms, catalog, table_name,
    )


def cherry_pick_snapshot(
    table_dir: str,
    snapshot_id: int,
    now_ms: int | None = None,
    catalog=None,
    table_name: str | None = None,
) -> dict:
    """Iceberg's ``cherrypick_snapshot`` procedure — the WAP resolution
    :func:`fast_forward` refuses when main MOVED under a staged branch:
    re-commit a staged APPEND snapshot's added files onto the current
    head as a NEW snapshot (one metadata commit, no data movement; the
    staged lineage is untouched and ages out or publishes separately).

    Only ``operation=append`` snapshots cherry-pick. A staged
    overwrite/merge retracts rows RELATIVE TO ITS OWN lineage;
    replaying that against a different head needs conflict detection
    this engine refuses rather than approximates (the Java procedure
    draws the same line at appends + dynamic overwrites).

    The added manifests are REWRITTEN at the new snapshot's sequence
    number rather than reused: position/equality deletes apply by
    sequence-number comparison, so surfacing the files under their old
    staged sequence would let deletes committed BETWEEN the staging
    and the pick retro-apply to rows that were never visible to them.
    The staged snapshot's PARENT must still be live (the added-set is
    the manifest-list diff against it); an expired parent refuses
    toward re-staging. The new snapshot's summary carries
    ``cherry-pick-snapshot-id`` for provenance."""
    version, meta, table_name = _current_state_meta(
        table_dir, catalog, table_name
    )
    by_id = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    staged = by_id.get(snapshot_id)
    if staged is None:
        raise ValueError(f"snapshot {snapshot_id} not found")
    op = (staged.get("summary") or {}).get("operation")
    if op != "append":
        raise ValueError(
            f"cherry-pick supports APPEND snapshots; {snapshot_id} is "
            f"{op!r} — publish via fast_forward from an undiverged "
            "target, or re-stage the change against the current head"
        )
    head_id = int(meta.get("current-snapshot-id", -1))
    if head_id == snapshot_id:
        return meta  # picking the head is a no-op
    parent_id = staged.get("parent-snapshot-id")
    parent = by_id.get(parent_id) if parent_id is not None else None
    if parent_id is not None and parent is None:
        raise ValueError(
            f"snapshot {snapshot_id}'s parent {parent_id} has been "
            "expired — the added-file set cannot be derived; re-stage "
            "the change against the current head"
        )
    _, staged_mfs, _ = read_avro_ocf(staged["manifest-list"])
    parent_paths: set[str] = set()
    if parent is not None:
        _, parent_mfs, _ = read_avro_ocf(parent["manifest-list"])
        parent_paths = {m["manifest_path"] for m in parent_mfs}
    added = [m for m in staged_mfs if m["manifest_path"] not in parent_paths]
    if any(int(m.get("content") or 0) != 0 for m in added):
        raise ValueError(
            "staged snapshot added DELETE manifests despite an append "
            "summary — refusing to cherry-pick a mislabeled row-delta"
        )

    now_ms = int(time.time() * 1000) if now_ms is None else now_ms
    now_ms = max(
        now_ms,
        max((s["timestamp-ms"] for s in meta["snapshots"]), default=0),
    )
    seq = int(meta["last-sequence-number"]) + 1
    new_id = seq
    commit_uuid = uuid.uuid4().hex[:16]
    meta_dir = os.path.join(table_dir, "metadata")
    schema_struct = _current_schema_struct(meta)
    specs = _specs_by_id(meta)

    new_manifests = []
    added_files = 0
    added_rows = 0
    for i, mf in enumerate(added):
        spec = specs.get(int(mf.get("partition_spec_id", 0)))
        if spec is None:
            raise ValueError(
                f"manifest {mf['manifest_path']} references unknown "
                f"spec {mf.get('partition_spec_id')}"
            )
        _, entries, _ = read_avro_ocf(mf["manifest_path"])
        live = [e for e in entries if e["status"] != 2]
        rewritten = [
            {
                **e,
                "status": 1,
                "snapshot_id": new_id,
                "sequence_number": seq,
                "file_sequence_number": seq,
            }
            for e in live
        ]
        mpath = os.path.join(
            meta_dir,
            f"{meta['table-uuid']}-cp{seq}-{i}-{commit_uuid}.avro",
        )
        mlen = write_avro_ocf(
            mpath,
            manifest_entry_schema(spec_typed_cols(spec, schema_struct)),
            rewritten,
            {
                "schema": json.dumps(schema_struct).encode(),
                "schema-id": str(meta["current-schema-id"]).encode(),
                "partition-spec": json.dumps(spec["fields"]).encode(),
                "partition-spec-id": str(spec["spec-id"]).encode(),
                "format-version": str(FORMAT_VERSION).encode(),
                "content": b"data",
            },
        )
        n_rows = sum(
            int(e["data_file"]["record_count"]) for e in rewritten
        )
        added_files += len(rewritten)
        added_rows += n_rows
        new_manifests.append(
            {
                **{k: v for k, v in mf.items()},
                "manifest_path": mpath,
                "manifest_length": mlen,
                "sequence_number": seq,
                "min_sequence_number": seq,
                "added_snapshot_id": new_id,
                "added_data_files_count": len(rewritten),
                "existing_data_files_count": 0,
                "deleted_data_files_count": 0,
                "added_rows_count": n_rows,
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
            }
        )

    head_mfs: list[dict] = []
    if head_id != -1:
        _, head_mfs, _ = read_avro_ocf(by_id[head_id]["manifest-list"])
    summary = {
        "operation": "append",
        "added-data-files": str(added_files),
        "added-records": str(added_rows),
        "cherry-pick-snapshot-id": str(snapshot_id),
        "total-records": str(
            added_rows + _prev_summary_counter(meta, "total-records", head_id)
        ),
        "total-position-deletes": str(
            _prev_summary_counter(meta, "total-position-deletes", head_id)
        ),
        "total-equality-deletes": str(
            _prev_summary_counter(meta, "total-equality-deletes", head_id)
        ),
    }
    # no statistics file: the picked files' FILE_LIST lives with the
    # staged snapshot
    updates = _snapshot_updates(
        table_dir, meta, seq, head_id, commit_uuid,
        new_manifests + head_mfs, summary, now_ms,
    )
    return publish(
        table_dir, version, meta, _commit_requirements(meta), updates,
        now_ms, catalog, table_name,
    )
