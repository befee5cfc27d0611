"""Iceberg v3-style deletion vectors: position deletes as roaring
bitmaps in Puffin blobs.

Iceberg v3 replaces v2's position-delete *parquet files* with deletion
vectors — per-data-file roaring bitmaps of deleted row ordinals stored
as ``deletion-vector-v1`` blobs in a shared Puffin file, located from
the delete manifest by ``referenced_data_file`` + ``content_offset`` /
``content_size_in_bytes``. This module adds that representation to the
engine's metadata plane (`sources/iceberg/`), alongside the existing
v2 row-delta files:

- bitmaps are the spec's portable 64-bit roaring layout (`roaring.py`,
  the public RoaringFormatSpec) wrapped in the v3 blob framing —
  4-byte BE length, magic D1 D3 39 64, vector, 4-byte BE CRC-32
  (:func:`frame_dv_payload`) — the same bytes every Iceberg v3
  implementation reads; reads verify and strip the framing and accept
  legacy unframed payloads (:func:`unframe_dv_payload`);
- the Puffin container and blob metadata (type, per-blob properties
  ``referenced-data-file`` / ``cardinality``) follow the public Puffin
  spec (`sources/puffin.py`);
- the three DV locator fields are written on the delete-manifest
  entries under the v3 spec's names (``referenced_data_file``,
  ``content_offset``, ``content_size_in_bytes``) as optional Avro
  fields, so non-DV manifests are byte-identical to before.

The v3 single-live-DV rule is enforced on write: a new DV for a data
file carries the UNION of the old DV's positions and the new matches
(the old bitmaps explode into the match set executor-side — deleted
positions never materialize on the driver), and the commit rewrites
the prior delete manifests to tombstone (status=2) the superseded
entries — external v3 readers that take "the" DV per file see exactly
one. The reader still unions every applicable DV it finds, so tables
written by the pre-supersede appender (or by a foreign multi-DV
writer) read correctly too.

Scale shape: the match scan is the same declarative parquet read the
v2 path uses; each referenced file's bitmap is built by one Arrow task
(`applyInPandas`); only O(#touched-files) (path, blob) pairs pass the
driver to be packed into one Puffin, and a pre-collect estimate
(``max_collect_bytes``, default 256 MiB) fails a pathological delete
loudly before any payload is gathered. On read the blobs ship to
executors as binary rows, are exploded to (file, pos) there, and the
main scan stays a JVM anti-join — deleted positions never materialize
on the driver.
"""

from __future__ import annotations

import json
import os
import struct
import time
import uuid
import zlib

from tiered_storage_for_apache_kafka_spark.sources.local_df import (
    local_rows_df,
)

from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
    FORMAT_VERSION,
    _current_schema_struct,
    _current_state_meta,
    _default_table_name,
    _plan_snapshot,
    _read_plan_with_identity,
    manifest_entry_schema,
    write_avro_ocf,
)
from tiered_storage_for_apache_kafka_spark.sources.puffin import (
    DELETION_VECTOR_V1,
    read_puffin_blobs,
    write_puffin_file,
)

#: Iceberg v3 deletion-vector blob framing (spec "Position delete
#: vectors"): 4-byte BE length of (magic + vector), the 4 magic bytes
#: D1 D3 39 64, the serialized portable roaring64 vector, then a
#: 4-byte BE CRC-32 of (magic + vector). External v3 readers reject
#: unframed bitmaps, so every blob this engine writes carries it.
DV_MAGIC = bytes((0xD1, 0xD3, 0x39, 0x64))

#: Engine-internal sibling blob (r13): the FRESH-only positions of one
#: DV commit, written beside each superseding ``deletion-vector-v1``
#: blob in the same Puffin file. The spec blob carries the UNION with
#: the superseded priors (v3 single-live-DV rule); a keyed changelog
#: consumer needs exactly the rows newly retracted by THIS commit —
#: re-emitting the union at the commit's sequence number would retract
#: keys re-inserted since the priors. First DVs for a file (no
#: supersede) write no delta blob: their spec blob IS the delta.
ENGINE_DV_DELTA_V1 = "engine-dv-delta-v1"

#: Default cap on deletion-vector bytes gathered to the driver by one
#: commit (the per-touched-file roaring payloads that get packed into
#: a single Puffin file). Estimated BEFORE any payload is collected —
#: a breach raises instead of pressuring driver memory.
MAX_DV_COLLECT_BYTES = 256 * 1024 * 1024


def frame_dv_payload(bitmap: bytes) -> bytes:
    """Wrap portable-roaring64 bytes in the v3 blob framing."""
    body = DV_MAGIC + bitmap
    return (
        struct.pack(">I", len(body))
        + body
        + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF)
    )


def unframe_dv_payload(blob: bytes) -> bytes:
    """Strip and VERIFY the v3 framing, returning the roaring bytes.
    Blobs written by this engine before the framing fix (and by any
    writer that stored bare bitmaps) lack the magic — passed through
    unchanged, since the roaring cookie makes the formats disjoint."""
    blob = bytes(blob)
    if len(blob) < 12 or blob[4:8] != DV_MAGIC:
        return blob  # legacy bare roaring64 payload
    (length,) = struct.unpack(">I", blob[:4])
    if length + 8 != len(blob):
        raise ValueError(
            f"deletion-vector blob length mismatch: header says "
            f"{length} + 8 framing bytes, blob is {len(blob)}"
        )
    body = blob[4 : 4 + length]
    (crc,) = struct.unpack(">I", blob[4 + length :])
    actual = zlib.crc32(body) & 0xFFFFFFFF
    if crc != actual:
        raise ValueError(
            f"deletion-vector blob CRC mismatch: stored {crc:#x}, "
            f"computed {actual:#x}"
        )
    return body[4:]

def manifest_entry_schema_dv(partition_cols) -> dict:
    """The manifest-entry Avro schema plus the v3 deletion-vector
    locator fields (optional, default null — absent from every non-DV
    manifest this engine writes). ``partition_cols`` as in
    :func:`manifest_entry_schema` — a name, names, or (name, id)
    pairs for multi-field specs."""
    schema = manifest_entry_schema(partition_cols)
    data_file = next(f for f in schema["fields"] if f["name"] == "data_file")
    data_file["type"]["fields"] += [
        {
            "name": "referenced_data_file",
            "type": ["null", "string"],
            "default": None,
            "field-id": 143,
        },
        {
            "name": "content_offset",
            "type": ["null", "long"],
            "default": None,
            "field-id": 144,
        },
        {
            "name": "content_size_in_bytes",
            "type": ["null", "long"],
            "default": None,
            "field-id": 145,
        },
    ]
    return schema


def write_deletion_vectors(
    spark,
    table_dir: str,
    predicate,
    partition_col: str | None = None,
    meta: dict | None = None,
    max_collect_bytes: int = MAX_DV_COLLECT_BYTES,
) -> list[dict]:
    """Match current-snapshot rows against ``predicate`` and write ONE
    Puffin file holding a spec-framed roaring-bitmap DV blob per
    touched data file. Returns one stats dict per DV (the locator
    fields :func:`commit_deletion_vectors` records). Raises before any
    bitmap bytes reach the driver when the estimated collected payload
    exceeds ``max_collect_bytes``."""
    import pandas as pd
    from pyspark.sql import functions as F

    from tiered_storage_for_apache_kafka_spark.roaring import (
        serialize_roaring64,
    )

    if meta is None:
        _v, meta, _t = _current_state_meta(table_dir)
    if meta.get("current-snapshot-id", -1) == -1:
        return []
    # derive the partition fields from the table's default spec (the
    # default for every caller; an explicit name stays an override)
    from tiered_storage_for_apache_kafka_spark.sources.iceberg.deletes import (
        _resolve_partition_names,
    )

    part_names = _resolve_partition_names(meta, partition_col)
    cur = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    data, deletes = _plan_snapshot(cur, None)
    if not data:
        return []
    cond = F.expr(predicate) if isinstance(predicate, str) else predicate
    # already-deleted rows (any representation) must not re-match
    df = _read_plan_with_identity(spark, table_dir, meta, data, deletes)

    matched = df.where(cond).select("__iceberg_file", "__iceberg_pos")

    # Driver guard + touched-file discovery: ONE metadata-sized
    # aggregation (per-file match count + position spread, map-side
    # combined) runs before any bitmap bytes are gathered, so an
    # over-cap delete fails loudly instead of pressuring driver
    # memory. The estimate is a true roaring UPPER bound: 2 bytes per
    # position plus per-container overhead, where the container count
    # is bounded by the 64 Ki-position spread of the file's matches —
    # sparse adversarial spreads (one hit per container) are costed,
    # not just the dense-typical case.
    stats_rows = (
        matched.groupBy("__iceberg_file")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("__iceberg_pos").alias("lo"),
            F.max("__iceberg_pos").alias("hi"),
        )
        .collect()
    )
    counts = {r["__iceberg_file"]: int(r["n"]) for r in stats_rows}
    if not counts:
        return []
    est_new = 0
    for r in stats_rows:
        n_cont = min(
            int(r["n"]), (int(r["hi"]) - int(r["lo"])) // 65536 + 1
        )
        est_new += 2 * int(r["n"]) + 40 * n_cont + 64
    data_seq = {d["file_path"]: d["_seq"] for d in data}
    live_dv: dict[str, list[dict]] = {}
    for e in split_position_deletes(deletes)[1]:
        ref = e.get("referenced_data_file")
        dseq = data_seq.get(ref)
        if dseq is not None and e["_seq"] >= dseq and ref in counts:
            live_dv.setdefault(ref, []).append(e)
    # superseded DVs union in too: their serialized sizes are KNOWN
    # exactly from the committed locators
    est_old = sum(
        int(e.get("content_size_in_bytes") or e["file_size_in_bytes"])
        for es in live_dv.values()
        for e in es
    )
    est = est_new + est_old
    if est > max_collect_bytes:
        raise ValueError(
            f"deletion-vector commit would gather ~{est:,} payload "
            f"bytes across {len(counts):,} touched data files on the "
            f"driver (cap {max_collect_bytes:,}): split your delete "
            f"predicate into smaller commits (e.g. add a partition "
            f"bound) or raise max_collect_bytes"
        )

    # v3 single-live-DV rule: the new DV for a file SUPERSEDES the old
    # one, so it must carry the union of both position sets (the new
    # matches are disjoint from the old — the re-match above already
    # excluded DV-deleted rows). Old bitmaps ship to executors as
    # binary rows and explode into the matched set BEFORE the per-file
    # bitmap build — deleted positions never materialize on the driver
    # (the serialized-bytes cap under-bounds DECODED size by orders of
    # magnitude for run-heavy bitmaps, so a driver-side union would be
    # a scale hole). The FRESH-only bitmap is built IN THE SAME
    # executor pass via a freshness flag: it becomes the
    # ``engine-dv-delta-v1`` sibling blob the keyed changelog consumes
    # (r13) — the union blob re-stamps the priors' retractions at the
    # NEW sequence number, so emitting it as keyed retractions would
    # wrongly retract keys re-inserted since; the delta blob is
    # exactly the rows newly retracted by THIS commit.
    superseded_by_file: dict[str, list[dict]] = {}
    matched = matched.withColumn("__fresh", F.lit(True))
    if live_dv:
        blob_cache: dict[str, list[dict]] = {}
        old_rows: list[tuple[str, bytes]] = []
        for ref in sorted(live_dv):
            for oe in live_dv[ref]:
                old_rows.append((ref, _dv_entry_payload(oe, blob_cache)))
                superseded_by_file.setdefault(ref, []).append(
                    {
                        "puffin_path": oe["file_path"],
                        "referenced_data_file": ref,
                        "cardinality": int(oe["record_count"]),
                    }
                )
        old_pos = (
            local_rows_df(
                spark,
                old_rows,
                "__iceberg_file string, __dv binary",
                slices=min(
                    spark.sparkContext.defaultParallelism, len(old_rows)
                ),
            )
            .mapInPandas(
                _explode_dv_rows,
                "__iceberg_file string, __iceberg_pos bigint",
            )
            .withColumn("__fresh", F.lit(False))
        )
        matched = matched.unionByName(old_pos)

    def _bitmap_group(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        vals = np.unique(pdf["__iceberg_pos"].to_numpy(dtype=np.int64))
        payload = frame_dv_payload(serialize_roaring64(vals))
        fresh_mask = pdf["__fresh"].to_numpy(dtype=bool)
        if fresh_mask.all():
            # no superseded priors contributed: the union IS the delta
            delta_payload, delta_card = None, len(vals)
        else:
            fresh_vals = np.unique(
                pdf["__iceberg_pos"].to_numpy(dtype=np.int64)[fresh_mask]
            )
            delta_payload = frame_dv_payload(
                serialize_roaring64(fresh_vals)
            )
            delta_card = len(fresh_vals)
        return pd.DataFrame(
            [[
                pdf["__iceberg_file"].iloc[0], payload, len(vals),
                delta_payload, delta_card,
            ]],
            columns=[
                "file", "payload", "cardinality",
                "delta_payload", "delta_cardinality",
            ],
        )

    blobs = (
        matched.groupBy("__iceberg_file")
        .applyInPandas(
            _bitmap_group,
            "file string, payload binary, cardinality bigint, "
            "delta_payload binary, delta_cardinality bigint",
        )
        .collect()
    )
    out_blobs = [
        {
            "file": r["file"],
            "payload": bytes(r["payload"]),
            "cardinality": int(r["cardinality"]),
            "delta_payload": (
                None
                if r["delta_payload"] is None
                else bytes(r["delta_payload"])
            ),
            "delta_cardinality": int(r["delta_cardinality"]),
            "superseded": superseded_by_file.get(r["file"], []),
        }
        for r in sorted(blobs, key=lambda r: r["file"])
    ]
    out_dir = os.path.join(table_dir, "deletes")
    os.makedirs(out_dir, exist_ok=True)
    puffin_path = os.path.join(out_dir, f"dv-{uuid.uuid4().hex[:16]}.puffin")
    part_of = {
        d["file_path"]: {n: d["partition"].get(n) for n in part_names}
        for d in data
    }
    blob_specs = []
    for r in out_blobs:
        props = {
            "referenced-data-file": r["file"],
            "cardinality": str(r["cardinality"]),
        }
        if r["delta_payload"] is None:
            # a FIRST DV (no supersede): the blob is entirely fresh,
            # and this stamp certifies it durably — the keyed consumer
            # must not have to prove no-priors from manifest history,
            # which snapshot expiration can truncate (GC horizon)
            props["delta"] = "self"
        blob_specs.append(
            {
                "type": DELETION_VECTOR_V1,
                "payload": r["payload"],
                "properties": props,
            }
        )
        if r["delta_payload"] is not None:
            blob_specs.append(
                {
                    "type": ENGINE_DV_DELTA_V1,
                    "payload": r["delta_payload"],
                    "properties": {
                        "referenced-data-file": r["file"],
                        "cardinality": str(r["delta_cardinality"]),
                    },
                }
            )
    result = write_puffin_file(
        puffin_path,
        blob_specs,
        # the snapshot that adds these DVs is the NEXT one: the commit
        # path assigns snapshot_id = seq = last-sequence-number + 1
        snapshot_id=meta["last-sequence-number"] + 1,
        sequence_number=meta["last-sequence-number"] + 1,
    )
    # manifest locators point at the spec's DV blobs only; delta blobs
    # are engine-internal siblings found by footer parse
    dv_bms = [
        bm
        for spec, bm in zip(blob_specs, result["blob_metadata"])
        if spec["type"] == DELETION_VECTOR_V1
    ]
    stats = []
    for r, bm in zip(out_blobs, dv_bms):
        stats.append(
            {
                "delete_path": puffin_path,
                "file_size": result["file_size"],
                "referenced_data_file": r["file"],
                "content_offset": bm["offset"],
                "content_size_in_bytes": bm["length"],
                "n_rows": int(r["cardinality"]),
                "partition": part_of.get(
                    r["file"], {n: None for n in part_names}
                ),
                "superseded": r["superseded"],
            }
        )
    return stats


def commit_deletion_vectors(
    spark,
    table_dir: str,
    predicate,
    partition_col: str | None = None,
    now_ms: int | None = None,
    catalog=None,
    table_name: str | None = None,
    max_commit_retries: int = 3,
    max_collect_bytes: int = MAX_DV_COLLECT_BYTES,
) -> dict:
    """Row-level DELETE as a v3-style DV commit: write deletion-vector
    blobs for the matching rows and commit a snapshot whose DELETE
    manifest entries carry the DV locator fields. Matching zero rows
    returns the current metadata unchanged. Catalog-routed commits
    re-plan and retry on lost races, like the v2 path."""
    from tiered_storage_for_apache_kafka_spark.sources.rest_catalog import (
        CommitConflictError,
        commit_retry_backoff,
    )

    now_ms = int(time.time() * 1000) if now_ms is None else now_ms
    if catalog is not None and table_name is None:
        table_name = _default_table_name(table_dir)
    last_err: Exception | None = None
    n_attempts = max_commit_retries if catalog is not None else 1
    for _attempt in range(n_attempts):
        version, base, table_name = _current_state_meta(
            table_dir, catalog, table_name
        )
        stats = write_deletion_vectors(
            spark, table_dir, predicate, partition_col, meta=base,
            max_collect_bytes=max_collect_bytes,
        )
        if not stats:
            return base
        try:
            return _commit_dv_once(
                table_dir, version, base, stats, partition_col, now_ms,
                catalog, table_name,
            )
        except CommitConflictError as e:
            last_err = e
            if _attempt + 1 < n_attempts:
                commit_retry_backoff(_attempt)
    assert last_err is not None
    raise last_err


def _commit_dv_once(
    table_dir: str,
    version: int,
    base: dict,
    stats: list[dict],
    partition_col,
    now_ms: int,
    catalog,
    table_name: str | None,
) -> dict:
    """One DV snapshot commit — the DV twin of iceberg._commit_deletes_
    once, sharing its downstream machinery via _finish_delete_commit."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        _finish_delete_commit,
    )
    from tiered_storage_for_apache_kafka_spark.sources.iceberg.deletes import (
        _resolve_partition_names,
    )
    from tiered_storage_for_apache_kafka_spark.sources.iceberg.manifests import (
        spec_names,
        spec_typed_cols,
    )
    from tiered_storage_for_apache_kafka_spark.sources.iceberg.state import (
        _default_spec,
    )

    part_names = _resolve_partition_names(base, partition_col)
    meta_dir = os.path.join(table_dir, "metadata")
    os.makedirs(meta_dir, exist_ok=True)
    newest_ts = max((s["timestamp-ms"] for s in base["snapshots"]), default=0)
    now_ms = max(now_ms, newest_ts)
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
                "content": 1,  # POSITION_DELETES (DV representation)
                "file_path": s["delete_path"],
                "file_format": "PUFFIN",
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
                "referenced_data_file": s["referenced_data_file"],
                "content_offset": s["content_offset"],
                "content_size_in_bytes": s["content_size_in_bytes"],
            },
        }
        for s in sorted(stats, key=lambda s: s["referenced_data_file"])
    ]
    schema_struct = _current_schema_struct(base)
    spec = _default_spec(base)
    entry_cols = (
        spec_typed_cols(spec, schema_struct)
        if spec_names(spec) == list(part_names)
        else list(part_names)
    )
    manifest_path = os.path.join(
        meta_dir, f"{base['table-uuid']}-dv{seq}-{commit_uuid}.avro"
    )
    manifest_len = write_avro_ocf(
        manifest_path,
        manifest_entry_schema_dv(entry_cols),
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
    prior_manifests, removed_pos, n_superseded = _tombstone_superseded(
        base, stats, meta_dir, seq, snapshot_id, commit_uuid
    )
    summary_extra = (
        {"removed-delete-files": n_superseded} if n_superseded else None
    )
    return _finish_delete_commit(
        table_dir, version, base, stats, now_ms, catalog, table_name,
        seq, snapshot_id, commit_uuid, manifest_path, manifest_len,
        len(entries), prior_manifests=prior_manifests,
        removed_pos_deletes=removed_pos, summary_extra=summary_extra,
    )


def _tombstone_superseded(
    base: dict,
    stats: list[dict],
    meta_dir: str,
    seq: int,
    snapshot_id: int,
    commit_uuid: str,
) -> tuple[list[dict] | None, int, int]:
    """Enforce the v3 single-live-DV rule at commit time: rewrite every
    prior delete manifest that holds a DV entry this commit supersedes,
    flipping those entries to status=2 (DELETED, attributed to the new
    snapshot) and carrying the rest as status=0 EXISTING with explicit
    sequence numbers. Returns (carried manifest list or None when
    nothing is superseded, superseded cardinality sum, count)."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        read_avro_ocf,
    )

    sup = [x for s in stats for x in (s.get("superseded") or [])]
    if not sup:
        return None, 0, 0
    sup_keys = {
        (x["puffin_path"], x["referenced_data_file"]) for x in sup
    }
    removed_pos = sum(int(x["cardinality"]) for x in sup)
    cur = next(
        s
        for s in base["snapshots"]
        if s["snapshot-id"] == base["current-snapshot-id"]
    )
    from tiered_storage_for_apache_kafka_spark.sources.iceberg.manifests import (
        spec_typed_cols,
    )
    from tiered_storage_for_apache_kafka_spark.sources.iceberg.state import (
        _default_spec,
        _specs_by_id,
    )

    _, prior_mfs, _ = read_avro_ocf(cur["manifest-list"])
    carried: list[dict] = []
    schema_struct = _current_schema_struct(base)
    specs = _specs_by_id(base)
    n_rewritten = 0
    for mf in prior_mfs:
        if mf.get("content") != 1:
            carried.append(mf)
            continue
        _, es, _ = read_avro_ocf(mf["manifest_path"])
        hits = [
            e
            for e in es
            if e["status"] != 2
            and (
                e["data_file"]["file_path"],
                e["data_file"].get("referenced_data_file"),
            )
            in sup_keys
        ]
        if not hits:
            carried.append(mf)
            continue
        new_entries = []
        n_kept = n_del = kept_rows = del_rows = 0
        seqs = []
        for e in es:
            seq_e = e.get("sequence_number")
            if seq_e is None:
                seq_e = mf.get("sequence_number", 0)
            seqs.append(int(seq_e))
            d2 = dict(e["data_file"])
            key = (d2["file_path"], d2.get("referenced_data_file"))
            if e["status"] != 2 and key in sup_keys:
                e2 = {
                    **e,
                    "status": 2,
                    "snapshot_id": snapshot_id,
                    "sequence_number": int(seq_e),
                    "data_file": d2,
                }
                n_del += 1
                del_rows += d2["record_count"]
            elif e["status"] == 2:
                # an already-tombstoned entry keeps its original
                # deleting snapshot attribution
                e2 = {**e, "sequence_number": int(seq_e), "data_file": d2}
                n_del += 1
                del_rows += d2["record_count"]
            else:
                e2 = {
                    **e,
                    "status": 0,  # EXISTING on rewrite, spec rule
                    "sequence_number": int(seq_e),
                    "data_file": d2,
                }
                n_kept += 1
                kept_rows += d2["record_count"]
            new_entries.append(e2)
        n_rewritten += 1
        # the rewrite keeps each prior manifest under ITS OWN spec —
        # after spec evolution, an older delete manifest's partition
        # struct must not be re-keyed to the new default
        mf_spec_id = int(mf.get("partition_spec_id", 0))
        mf_spec = specs.get(mf_spec_id) or _default_spec(base)
        new_path = os.path.join(
            meta_dir,
            f"{base['table-uuid']}-dvr{seq}-{commit_uuid}-{n_rewritten}.avro",
        )
        new_len = write_avro_ocf(
            new_path,
            normalize_delete_entries(
                new_entries, spec_typed_cols(mf_spec, schema_struct)
            ),
            new_entries,
            {
                "schema": json.dumps(schema_struct).encode(),
                "schema-id": str(base["current-schema-id"]).encode(),
                "partition-spec": json.dumps(mf_spec["fields"]).encode(),
                "partition-spec-id": str(mf_spec_id).encode(),
                "format-version": str(FORMAT_VERSION).encode(),
                "content": b"deletes",
            },
        )
        carried.append(
            {
                "manifest_path": new_path,
                "manifest_length": new_len,
                "partition_spec_id": mf_spec_id,
                "content": 1,
                "sequence_number": seq,
                "min_sequence_number": min(seqs),
                "added_snapshot_id": snapshot_id,
                "added_data_files_count": 0,
                "existing_data_files_count": n_kept,
                "deleted_data_files_count": n_del,
                "added_rows_count": 0,
                "existing_rows_count": kept_rows,
                "deleted_rows_count": del_rows,
                # the old partition summary stays valid: tombstoning
                # only narrows the live set, a superset bound is safe
                "partitions": mf.get("partitions"),
            }
        )
    return carried, removed_pos, len(sup)


def normalize_delete_entries(entries: list[dict], partition_cols) -> dict:
    """The one schema-selection rule for writing delete-manifest
    entries: when ANY entry carries a v3 DV locator, use the
    DV-extended Avro schema and normalize locator-less entries to
    nulls (the Avro writer emits only schema-declared fields, so the
    base schema would silently strip locators — and a stripped locator
    means the DV stops applying). Mutates ``entries`` in place and
    returns the schema to write with. Every delete-manifest writer
    (supersede rewrite, manifest compaction, data-file rewrite
    tombstones) must route through this."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        manifest_entry_schema,
    )

    if any(
        e["data_file"].get("referenced_data_file") is not None
        for e in entries
    ):
        for e in entries:
            e["data_file"].setdefault("referenced_data_file", None)
            e["data_file"].setdefault("content_offset", None)
            e["data_file"].setdefault("content_size_in_bytes", None)
        return manifest_entry_schema_dv(partition_cols)
    return manifest_entry_schema(partition_cols)


def _dv_entry_payload(
    e: dict,
    blob_cache: dict[str, list[dict]],
) -> bytes:
    """The roaring payload a DV manifest entry points at. Fast path:
    seek+read exactly the committed locator triple — O(blob bytes) per
    DV, no footer parse, never the whole file. Locator-less entries
    (written by a pre-v3 tool) fall back to the footer and match on
    the blob property."""
    path = e["file_path"]
    ref = e.get("referenced_data_file")
    off = e.get("content_offset")
    size = e.get("content_size_in_bytes")
    if off is not None and size is not None:
        with open(path, "rb") as f:
            f.seek(off)
            payload = f.read(size)
        if len(payload) != size:
            raise ValueError(
                f"DV locator out of bounds: {path} offset={off} size={size}"
            )
        return payload
    if path not in blob_cache:
        blob_cache[path] = read_puffin_blobs(path)
    for blob in blob_cache[path]:
        if (
            blob["type"] == DELETION_VECTOR_V1
            and blob["properties"].get("referenced-data-file") == ref
        ):
            return blob["payload"]
    raise ValueError(f"no deletion-vector-v1 blob for {ref} in {path}")


def _explode_dv_rows(batches):
    """Arrow map: (file, DV blob) rows → (file, position) rows.
    Executor-side — unframes (verifying length/CRC) and decodes each
    roaring bitmap where the rows already live."""
    import numpy as np
    import pandas as pd

    from tiered_storage_for_apache_kafka_spark.roaring import (
        deserialize_roaring64,
    )

    for pdf in batches:
        # plain tuples: itertuples mangles the __-prefixed names
        for fname, blob in pdf.itertuples(index=False, name=None):
            positions = deserialize_roaring64(
                unframe_dv_payload(bytes(blob))
            ).astype(np.int64)
            yield pd.DataFrame(
                {
                    "__iceberg_file": fname,
                    "__iceberg_pos": positions,
                }
            )


def split_position_deletes(
    deletes: list[dict],
) -> tuple[list[dict], list[dict]]:
    """Split content==1 delete entries into (parquet position-delete
    files, Puffin deletion vectors) by file_format."""
    pos = [
        d
        for d in deletes
        if d.get("content") == 1 and d.get("file_format") != "PUFFIN"
    ]
    dv = [
        d
        for d in deletes
        if d.get("content") == 1 and d.get("file_format") == "PUFFIN"
    ]
    return pos, dv


def _dv_delete_rows(spark, data_entries, dv_entries):
    """The applicable DV positions as a ``(__iceberg_file,
    __iceberg_pos)`` DataFrame (or ``(None, [])`` when no DV applies):
    each applicable bitmap decodes executor-side and explodes to rows.
    The sequence rule matches the v2 path — a DV applies only to data
    files whose data sequence number is <= the DV's — and is decided
    entirely at plan time from the entry metadata. Returns the frame
    plus the applicable entries (whose ``record_count`` totals bound
    the exploded row count for the broadcast rule)."""
    data_seq = {d["file_path"]: d["_seq"] for d in data_entries}
    blob_cache: dict[str, list[dict]] = {}
    rows: list[tuple[str, bytes]] = []
    applicable: list[dict] = []
    for e in dv_entries:
        ref = e.get("referenced_data_file")
        dseq = data_seq.get(ref)
        if dseq is None or e["_seq"] < dseq:
            continue
        rows.append((ref, _dv_entry_payload(e, blob_cache)))
        applicable.append(e)
    if not rows:
        return None, []

    dv_df = local_rows_df(
        spark,
        rows,
        "__iceberg_file string, __dv binary",
        slices=min(spark.sparkContext.defaultParallelism, len(rows)),
    )
    dels = dv_df.mapInPandas(
        _explode_dv_rows, "__iceberg_file string, __iceberg_pos bigint"
    )
    return dels, applicable
