"""Table-metadata state: version files, refs, prior-state loading.

Split from the original sources/iceberg.py (r7); provenance and
parity citations live in the package __init__ and the function
docstrings.
"""

from __future__ import annotations

import json
import os
import re

from tiered_storage_for_apache_kafka_spark.sources.iceberg.ocf import (
    read_avro_ocf,
)


def _default_spec(meta: dict) -> dict:
    """The table's DEFAULT partition spec (``default-spec-id`` — new
    writes use it; older data files stay scoped to the spec their
    manifest records, per the Iceberg spec's evolution rules)."""
    sid = meta.get("default-spec-id", 0)
    return next(s for s in meta["partition-specs"] if s["spec-id"] == sid)


def _specs_by_id(meta: dict) -> dict[int, dict]:
    """spec-id -> spec dict, for interpreting each manifest's partition
    struct/summary under the spec it was written with."""
    return {s["spec-id"]: s for s in meta["partition-specs"]}


def _current_schema_struct(meta: dict) -> dict:
    """The metadata's current schema struct (single place to fail on a
    missing/corrupt current-schema-id)."""
    return next(
        sc for sc in meta["schemas"] if sc["schema-id"] == meta["current-schema-id"]
    )


def _write_metadata_version(meta_dir: str, version: int, meta: dict) -> None:
    """Write v{N}.metadata.json + version-hint atomically-enough for the
    single-writer file layout. Two callers: :func:`publish` (every
    file-layout commit) and the fake REST catalog service persisting
    the metadata it computed with the same :func:`apply_updates`.

    ``metadata-log`` is capped to the table property
    ``write.metadata.previous-versions-max`` (Iceberg's default 100) —
    without the cap every commit re-serializes an ever-growing history
    list and long-lived streaming tables pay O(table-age) per commit
    for a log nobody walks past its head."""
    cap = int(
        (meta.get("properties") or {}).get(
            "write.metadata.previous-versions-max", 100
        )
    )
    log = meta.get("metadata-log") or []
    if len(log) > cap:
        meta = {**meta, "metadata-log": log[-cap:]}
    with open(os.path.join(meta_dir, f"v{version}.metadata.json"), "w") as f:
        json.dump(meta, f, indent=2)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as f:
        f.write(str(version))


def _prev_total_records(meta: dict) -> int:
    """Running table total from the current snapshot's summary (correct
    across expiration and compaction, unlike summing surviving
    snapshots' added-records)."""
    cur_id = meta.get("current-snapshot-id", -1)
    if cur_id == -1:
        return 0
    cur = next((s for s in meta["snapshots"] if s["snapshot-id"] == cur_id), None)
    if cur is None:
        return 0
    return int(cur["summary"].get("total-records", 0))



def _default_table_name(table_dir: str) -> str:
    """The one naming rule for catalog tables defaulted from a path —
    every catalog call site must use this (a writer and reader deriving
    names differently would split one table across two catalog
    entries)."""
    return os.path.basename(os.path.normpath(table_dir))


def _current_state_meta(
    table_dir: str, catalog=None, table_name: str | None = None
) -> tuple[int, dict, str | None]:
    """(version, metadata, resolved_table_name) WITHOUT parsing
    manifests — for consumers that only need metadata.json content
    (replay-skip checks, time travel, maintenance state): parsing every
    manifest Avro just to read snapshot summaries would make those
    paths O(table) instead of O(metadata)."""
    if catalog is None:
        version, meta = _load_current_metadata(table_dir)
        return version, meta, table_name
    if table_name is None:
        table_name = _default_table_name(table_dir)
    resp = catalog.load_table(table_name)
    if resp is None:
        raise FileNotFoundError(f"table {table_name!r} not in catalog")
    m = re.search(r"v(\d+)\.metadata\.json$", resp["metadata-location"])
    return (int(m.group(1)) if m else 1), resp["metadata"], table_name


def _load_prior_state(table_dir: str, catalog=None, table_name: str | None = None):
    """Current table state for a commit: from the version-hint file
    layout, or — when a REST catalog is configured — from the catalog
    service (`GET /v1/namespaces/{ns}/tables/{t}`), which is then the
    source of truth for the metadata pointer. Manifest files themselves
    live in storage either way, so entry parsing is shared."""
    if catalog is None:
        return read_table_metadata(table_dir)
    if table_name is None:
        table_name = _default_table_name(table_dir)
    resp = catalog.load_table(table_name)
    if resp is None:
        return None
    meta = resp["metadata"]
    m = re.search(r"v(\d+)\.metadata\.json$", resp["metadata-location"])
    version = int(m.group(1)) if m else 1
    manifest_files, manifests = _parse_current_manifests(meta)
    return {
        "version": version,
        "metadata": meta,
        "manifest_list": manifest_files,
        "manifests": manifests,
    }



def _prev_summary_counter(
    meta: dict, key: str, at_snapshot_id: int | None = None
) -> int:
    """Running counter from a snapshot's summary — the CURRENT one by
    default, or an explicit lineage head (branch commits chain their
    totals off the branch parent, not off main)."""
    cur_id = (
        meta.get("current-snapshot-id", -1)
        if at_snapshot_id is None
        else at_snapshot_id
    )
    if cur_id == -1:
        return 0
    cur = next((s for s in meta["snapshots"] if s["snapshot-id"] == cur_id), None)
    if cur is None:
        return 0
    return int(cur["summary"].get(key, 0))


def _prev_total_pos_deletes(meta: dict) -> int:
    return _prev_summary_counter(meta, "total-position-deletes")



def _parse_current_manifests(meta: dict) -> tuple[list[dict], list[dict]]:
    """Current snapshot's manifest list (Avro) -> each manifest (Avro) ->
    data-file entries; shared by the file-layout and REST-catalog loaders
    (the manifests live in storage in both protocols)."""
    manifests: list[dict] = []
    manifest_files: list[dict] = []
    if meta.get("current-snapshot-id", -1) != -1:
        cur = next(
            s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]
        )
        _, manifest_files, _ = read_avro_ocf(cur["manifest-list"])
        for mf in manifest_files:
            _, entries, mmeta = read_avro_ocf(mf["manifest_path"])
            manifests.append({"file": mf, "entries": entries, "meta": mmeta})
    return manifest_files, manifests


def read_table_metadata(table_dir: str) -> dict | None:
    """Open the table the way an external HadoopCatalog reader does:
    version-hint → v{N}.metadata.json → current snapshot's manifest
    list (Avro) → each manifest (Avro) → data-file entries. Returns
    ``{"version", "metadata", "manifest_list", "manifests"}`` or None
    when no metadata exists yet."""
    hint = os.path.join(table_dir, "metadata", "version-hint.text")
    if not os.path.exists(hint):
        return None
    with open(hint) as f:
        version = int(f.read().strip())
    with open(os.path.join(table_dir, "metadata", f"v{version}.metadata.json")) as f:
        meta = json.load(f)
    manifest_files, manifests = _parse_current_manifests(meta)
    return {
        "version": version,
        "metadata": meta,
        "manifest_list": manifest_files,
        "manifests": manifests,
    }


# -- the read side: scan planning FROM the Iceberg metadata -------------------



def _load_current_metadata(table_dir: str) -> tuple[int, dict]:
    hint = os.path.join(table_dir, "metadata", "version-hint.text")
    if not os.path.exists(hint):
        raise FileNotFoundError(f"no Iceberg metadata under {table_dir}")
    with open(hint) as f:
        version = int(f.read().strip())
    with open(os.path.join(table_dir, "metadata", f"v{version}.metadata.json")) as f:
        return version, json.load(f)


# -- the commit path: one update list, one apply, one retry loop --------------


class CommitConflictError(Exception):
    """A commit requirement failed (HTTP 409 CommitFailedException) —
    reload the table and rebase."""


def commit_retry_backoff(
    attempt: int, base_s: float = 0.05, cap_s: float = 1.0
) -> None:
    """Exponential backoff with jitter between optimistic-commit
    retries — the shape real Iceberg's commit retry uses
    (``commit.retry.min-wait-ms`` growing exponentially with
    randomization). Without it, N writers in tight commit loops
    livelock: every loser reloads, re-stages and re-races inside the
    same window it just lost, burning the whole retry budget (measured
    by ``bench_scaling.py --rest-contention``: 4 writers exhausted 8
    retries before this existed)."""
    import random
    import time

    time.sleep(min(base_s * (2 ** attempt), cap_s) * (0.5 + random.random()))


def check_requirements(meta: dict | None, requirements: list[dict]) -> str | None:
    """Validate a CommitTableRequest's requirement list against the
    catalog's current metadata. Returns an error message, or None when
    every requirement holds."""
    for req in requirements:
        t = req.get("type")
        if t == "assert-create":
            if meta is not None:
                return "assert-create failed: table already exists"
        elif t == "assert-table-uuid":
            if meta is None or meta.get("table-uuid") != req.get("uuid"):
                return "assert-table-uuid failed"
        elif t == "assert-ref-snapshot-id":
            ref = req.get("ref", "main")
            want = req.get("snapshot-id")  # None = ref must not exist
            have = None
            if meta is not None:
                have = (meta.get("refs") or {}).get(ref, {}).get("snapshot-id")
            if have != want:
                return (
                    f"assert-ref-snapshot-id failed for ref {ref!r}: "
                    f"expected {want}, found {have}"
                )
        else:
            return f"unsupported requirement type {t!r}"
    return None


def apply_updates(meta: dict, updates: list[dict], now_ms: int) -> dict:
    """Apply a CommitTableRequest's update list to the current metadata,
    per the spec's MetadataUpdate semantics — the ONLY code that turns
    a commit into new table metadata: :func:`publish` calls it for the
    file layout and the REST catalog service calls it for its pointer,
    so the two modes cannot drift apart."""
    meta = dict(meta)
    for upd in updates:
        action = upd.get("action")
        if action == "add-schema":
            schema = upd["schema"]
            meta["schemas"] = list(meta.get("schemas", [])) + [schema]
            if "last-column-id" in upd:
                meta["last-column-id"] = max(
                    meta.get("last-column-id", 0), upd["last-column-id"]
                )
        elif action == "set-current-schema":
            sid = upd["schema-id"]
            if sid == -1:  # spec: -1 = last added schema
                sid = meta["schemas"][-1]["schema-id"]
            meta["current-schema-id"] = sid
        elif action == "add-snapshot":
            snap = upd["snapshot"]
            if any(
                s["snapshot-id"] == snap["snapshot-id"]
                for s in meta.get("snapshots", [])
            ):
                # two lineages committed the same computed id (branch
                # and main racing): a 409, so the loser rebases onto a
                # fresh sequence number — never two snapshots under
                # one id
                raise CommitConflictError(
                    f"snapshot id {snap['snapshot-id']} already exists"
                )
            meta["snapshots"] = list(meta.get("snapshots", [])) + [snap]
            meta["last-sequence-number"] = max(
                meta.get("last-sequence-number", 0),
                snap.get("sequence-number", 0),
            )
        elif action == "set-snapshot-ref":
            ref_name = upd.get("ref-name", "main")
            refs = dict(meta.get("refs") or {})
            ref = {
                "snapshot-id": upd["snapshot-id"],
                "type": upd.get("type", "branch"),
            }
            # per-ref retention fields ride the same update (spec
            # "Snapshot References" — REST TableUpdate carries them)
            for k in (
                "max-ref-age-ms",
                "min-snapshots-to-keep",
                "max-snapshot-age-ms",
            ):
                if upd.get(k) is not None:
                    ref[k] = int(upd[k])
            refs[ref_name] = ref
            meta["refs"] = refs
            if ref_name == "main":
                meta["current-snapshot-id"] = upd["snapshot-id"]
                # the snapshot-log tracks current-snapshot-id changes
                # (spec), so it rides THIS update, not add-snapshot —
                # staged branch commits stay out of TIMESTAMP AS OF
                # until a fast-forward publishes them. The entry never
                # predates the log's newest one: a ref move with an
                # older clock (a rollback, a tag moved onto main) must
                # not make TIMESTAMP AS OF resolve past it
                log = list(meta.get("snapshot-log", []))
                if not log or log[-1]["snapshot-id"] != upd["snapshot-id"]:
                    ts = max([now_ms] + [e["timestamp-ms"] for e in log])
                    meta["snapshot-log"] = log + [
                        {"timestamp-ms": ts, "snapshot-id": upd["snapshot-id"]}
                    ]
        elif action == "set-statistics":
            stats = [
                s
                for s in meta.get("statistics", [])
                if s["snapshot-id"] != upd["statistics"]["snapshot-id"]
            ]
            meta["statistics"] = stats + [upd["statistics"]]
        elif action == "set-properties":
            props = dict(meta.get("properties") or {})
            props.update(upd.get("updates") or {})
            meta["properties"] = props
        elif action == "remove-snapshots":
            gone = set(upd["snapshot-ids"])
            meta["snapshots"] = [
                s for s in meta.get("snapshots", [])
                if s["snapshot-id"] not in gone
            ]
            meta["snapshot-log"] = [
                e for e in meta.get("snapshot-log", [])
                if e["snapshot-id"] not in gone
            ]
            keep_ids = {s["snapshot-id"] for s in meta["snapshots"]}
            # strip dangling parent pointers (spec: only transient refs
            # to missing snapshots are allowed)
            meta["snapshots"] = [
                (
                    {k: v for k, v in s.items() if k != "parent-snapshot-id"}
                    if s.get("parent-snapshot-id") not in keep_ids
                    else s
                )
                for s in meta["snapshots"]
            ]
        elif action == "remove-statistics":
            meta["statistics"] = [
                st for st in meta.get("statistics", [])
                if st["snapshot-id"] != upd["snapshot-id"]
            ]
        elif action == "remove-snapshot-ref":
            refs = dict(meta.get("refs") or {})
            refs.pop(upd["ref-name"], None)
            meta["refs"] = refs
        elif action == "add-sort-order":
            order = upd["sort-order"]
            orders = list(meta.get("sort-orders", []))
            clash = next(
                (o for o in orders if o["order-id"] == order["order-id"]), None
            )
            if clash is None:
                meta["sort-orders"] = orders + [order]
            elif clash.get("fields") != order.get("fields"):
                # replaying the SAME order is idempotent; a different
                # definition under an existing id would let committed
                # sort_order_id stamps point at a sort that does not
                # exist — a commit error, never a silent drop
                raise ValueError(
                    f"sort order id {order['order-id']} already exists "
                    "with different fields"
                )
        elif action == "add-spec":
            spec = upd["spec"]
            specs = list(meta.get("partition-specs", []))
            clash = next(
                (s for s in specs if s["spec-id"] == spec["spec-id"]), None
            )
            if clash is None:
                meta["partition-specs"] = specs + [spec]
                # an UNPARTITIONED spec (fields: []) adds no field ids
                meta["last-partition-id"] = max(
                    [int(meta.get("last-partition-id", 999))]
                    + [int(f["field-id"]) for f in spec["fields"]]
                )
            elif clash.get("fields") != spec.get("fields"):
                # same idempotency rule as add-sort-order: replaying an
                # identical spec is fine, redefining an id is a commit
                # error (committed manifests pin spec-ids)
                raise ValueError(
                    f"partition spec id {spec['spec-id']} already "
                    "exists with different fields"
                )
        elif action == "set-default-spec":
            sid = upd["spec-id"]
            if sid == -1:  # spec: -1 = last added spec
                sid = meta["partition-specs"][-1]["spec-id"]
            if not any(
                s["spec-id"] == sid for s in meta.get("partition-specs", [])
            ):
                raise ValueError(f"no partition spec with id {sid}")
            meta["default-spec-id"] = sid
        elif action == "set-default-sort-order":
            oid = upd["sort-order-id"]
            if oid == -1:  # spec: -1 = last added sort order
                oid = meta["sort-orders"][-1]["order-id"]
            if not any(
                o["order-id"] == oid for o in meta.get("sort-orders", [])
            ):
                raise ValueError(f"no sort order with id {oid}")
            meta["default-sort-order-id"] = oid
        elif action == "assign-uuid":
            meta["table-uuid"] = upd["uuid"]
        else:
            raise ValueError(f"unsupported update action {action!r}")
    meta["last-updated-ms"] = now_ms
    return meta


def next_metadata(
    location: str, version: int, base: dict, updates: list[dict], now_ms: int
) -> dict:
    """The metadata of version ``version + 1`` of the table at
    ``location``: ``updates`` applied to ``base`` (version ``version``),
    and the superseded version chained onto ``metadata-log`` — external
    history walkers rely on the chain. Shared by :func:`publish` and the
    REST catalog service, so both write the same next version."""
    meta = apply_updates(base, updates, now_ms)
    meta["metadata-log"] = list(base.get("metadata-log", [])) + [
        {
            "timestamp-ms": base.get("last-updated-ms", 0),
            "metadata-file": os.path.join(
                location, "metadata", f"v{version}.metadata.json"
            ),
        }
    ]
    return meta


def _commit_requirements(
    prior_meta: dict | None,
    created_base: dict | None = None,
    branch: str | None = None,
) -> list[dict]:
    """CommitTableRequest requirements: pin the table uuid and require
    the ref being MOVED to still point at the parent snapshot we built
    against (None = ref must not exist yet) — the optimistic-
    concurrency contract, matching real Iceberg's UpdateRequirements:
    a branch (WAP) commit asserts only its own branch head, so an
    unrelated writer advancing main never spuriously conflicts a
    staged commit; two concurrent writers to the SAME ref still
    conflict rather than silently orphaning one snapshot."""
    if prior_meta is None:
        # table was just created in this commit; main must be unset
        return [
            {"type": "assert-table-uuid", "uuid": created_base["table-uuid"]},
            {"type": "assert-ref-snapshot-id", "ref": "main", "snapshot-id": None},
        ]
    moved_ref = branch if branch is not None else "main"
    head = (
        (prior_meta.get("refs") or {}).get(moved_ref, {}).get("snapshot-id")
    )
    return [
        {"type": "assert-table-uuid", "uuid": prior_meta["table-uuid"]},
        {
            "type": "assert-ref-snapshot-id",
            "ref": moved_ref,
            "snapshot-id": head,
        },
    ]


def publish(
    table_dir: str,
    version: int,
    base: dict,
    requirements: list[dict],
    updates: list[dict],
    now_ms: int,
    catalog=None,
    table_name: str | None = None,
) -> dict:
    """Move the table pointer by one commit and return the new metadata
    — the one publish step of every write verb. ``base`` is the
    metadata the commit was built against, at ``version`` (0 = a table
    this commit creates; ``base`` is then its initial metadata);
    ``updates`` is the commit's REST MetadataUpdate list.

    With ``catalog`` the request goes to the catalog service
    (``POST .../tables/{t}``), which checks ``requirements`` and applies
    the list itself; a lost race raises :class:`CommitConflictError`.
    Without one, the file layout applies the same list with the same
    :func:`apply_updates` and writes ``v{version+1}.metadata.json``."""
    if catalog is not None:
        if version == 0:
            catalog.ensure_namespace()
            resp = catalog.create_table(table_name, base)
            if not updates:
                return resp["metadata"]
        resp = catalog.commit_table(table_name, requirements, updates, now_ms)
        return resp["metadata"]
    meta = (
        next_metadata(table_dir, version, base, updates, now_ms)
        if version
        else apply_updates(base, updates, now_ms)
    )
    _write_metadata_version(
        os.path.join(table_dir, "metadata"), version + 1, meta
    )
    return meta


def commit_with_retries(attempt, catalog, max_commit_retries: int):
    """Run ``attempt()`` — reload the table, plan, stage and
    :func:`publish` — until it wins the optimistic-concurrency race.
    A :class:`CommitConflictError` (a rival moved the head) backs off
    and re-runs the whole attempt against the fresh head, up to
    ``max_commit_retries`` attempts, then re-raises the last conflict;
    any other error propagates at once. The file layout has one writer
    and no requirements to lose, so it makes exactly one attempt."""
    n_attempts = max_commit_retries if catalog is not None else 1
    for _attempt in range(n_attempts):
        try:
            return attempt()
        except CommitConflictError:
            if _attempt + 1 >= n_attempts:
                raise
            commit_retry_backoff(_attempt)
    raise ValueError(f"max_commit_retries must be >= 1, got {max_commit_retries}")
