"""Snapshot planning, merge-on-read application, table reads.

Split from the original sources/iceberg.py (r7); provenance and
parity citations live in the package __init__ and the function
docstrings.
"""

from __future__ import annotations

import json
import os
import struct

from tiered_storage_for_apache_kafka_spark.sources.local_df import (
    local_rows_df,
)

from tiered_storage_for_apache_kafka_spark.sources.iceberg.manifests import (
    _leaf_field_ids,
    _read_planned_files,
)
from tiered_storage_for_apache_kafka_spark.sources.iceberg.ocf import (
    read_avro_ocf,
)
from tiered_storage_for_apache_kafka_spark.sources.iceberg.schema import (
    iceberg_schema_to_spark,
)
from tiered_storage_for_apache_kafka_spark.sources.iceberg.state import (
    _current_schema_struct,
    _current_state_meta,
)


#: Budget of :func:`_attach_file_meta`'s map-literal form, in key
#: comparisons: a map lookup scans the keys in turn, so one attach
#: costs (files in the map) x (rows looked up). Past the budget a
#: broadcast hash join is cheaper despite its extra job. Measured with
#: ``scripts/attach_crossover.py`` on four cores (median of three reads
#: per form): the map form led below 2e4 comparisons (8-file tables,
#: 0.50-0.78 s against 0.61-0.91 s a read), the two tied from 1e5 to
#: 3e7, and the join led from 2e8 (3.6 s against 2.6 s, 512 files) to
#: 1.8x at 8e8 (1,024 files, 9.6 s against 5.4 s). The budget sits
#: inside the tie.
_ATTACH_PROBES = 1_000_000

#: Delete rows (summed manifest ``record_count``) up to which
#: :func:`_maybe_broadcast_deletes` broadcasts a delete set; a
#: (file, pos) pair hashes to ~100 B, so this is a <=~100 MB relation.
_BROADCAST_DELETE_ROWS = 1_000_000


def _maybe_broadcast_deletes(dels, entries):
    """Broadcast hint for a merge-on-read delete-set side when the scan
    plan's own manifest statistics prove it small: every planned delete
    entry carries ``record_count``, so the total number of delete rows
    is known at plan time without touching the data. Without the hint
    the delete subtree's statistics are unknown, the optimizer
    estimates it huge, and the initial plan sort-merge-joins —
    shuffling and sorting the FULL data scan on the join key before AQE
    can demote the join. Delete sets past
    :data:`_BROADCAST_DELETE_ROWS` (or with an entry lacking its count)
    are left to the planner's choice, the correct shape at scale."""
    from pyspark.sql import functions as F

    counts = [e.get("record_count") for e in entries]
    if any(c is None for c in counts):
        return dels
    if sum(int(c) for c in counts) <= _BROADCAST_DELETE_ROWS:
        return F.broadcast(dels)
    return dels


def _attach_file_meta(
    spark, df, key_col: str, by_path: dict, fields, row_entries
):
    """Attach per-file planning metadata to ``df`` as new columns,
    keyed by its file-path column ``key_col``: ``by_path`` maps a raw
    file path to a tuple of values, ``fields`` names and types them as
    ``(column, spark type)`` pairs, and ``row_entries`` are the
    manifest entries of the files ``df`` reads, whose ``record_count``
    sum is the number of rows looked up.

    This is the one attach every merge-on-read delete plane uses (the
    equality-delete file's sequence number and partition tuple, the
    position-delete file's sequence number, the data file's sequence
    number). While files x rows stays within :data:`_ATTACH_PROBES` it
    is a map literal looked up per row — no extra job, no join; past
    it, or with a row count unknown, it broadcast-joins the same
    metadata as a frame of rows, whose lookup is a hash probe. Both
    forms give a path missing from ``by_path`` null values (a left
    join), so they select the same rows by construction."""
    from pyspark.sql import functions as F

    names = [n for n, _t in fields]
    types = ", ".join(f"{n}: {t}" for n, t in fields)
    counts = [e.get("record_count") for e in row_entries]
    if None not in counts and (
        len(by_path) * sum(int(c) for c in counts) <= _ATTACH_PROBES
    ):
        # one JSON string literal parsed under the map type: Catalyst
        # folds it to a map literal at plan time, and it costs one
        # py4j call where a create_map of F.lit columns costs several
        # per value (2.5 s for 300 files, measured on four cores)
        lookup = F.element_at(
            F.from_json(
                F.lit(
                    json.dumps(
                        {p: dict(zip(names, v)) for p, v in by_path.items()}
                    )
                ),
                f"map<string, struct<{types}>>",
            ),
            F.col(key_col),
        )
        return df.select("*", *[lookup[n].alias(n) for n in names])
    # the same JSON as an array exploded into rows: the frame is built
    # in the JVM, so its broadcast needs no Python worker
    frame = spark.range(1, numPartitions=1).select(
        F.inline(
            F.from_json(
                F.lit(
                    json.dumps(
                        [
                            {key_col: p, **dict(zip(names, v))}
                            for p, v in by_path.items()
                        ]
                    )
                ),
                f"array<struct<{key_col}: string, {types}>>",
            )
        )
    )
    return df.join(F.broadcast(frame), key_col, "left")


def _scope_by_path(entries: list[dict], scope) -> dict:
    """``{delete file path: scope(entry)}`` over a plane's entries. A
    path listed under two different scopes is refused: the spec gives
    one delete file one sequence number and one partition tuple, and a
    path-keyed attach could honour only one of them."""
    out: dict = {}
    for e in entries:
        s = scope(e)
        if out.setdefault(e["file_path"], s) != s:
            raise ValueError(
                f"delete file {e['file_path']} is live under two scopes: "
                f"{out[e['file_path']]} and {s}"
            )
    return out


def _eq_delete_groups(meta, schema_struct, eq_entries):
    """Split live equality-delete entries into the groups one anti-join
    (or semi-join) can apply: one per (``equality_ids``, partition spec)
    pair, yielded as ``(eq_cols, spec, entries)``. Key sets may differ
    between delete files (a delete on ``id`` next to one on ``v``), and
    after spec evolution older delete files keep matching by the spec
    they were committed with (their manifest's spec-id). The merge-on-read
    scan chains the groups as anti-joins; ``convert_equality_deletes``
    unions them as semi-joins."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg.state import (
        _default_spec,
        _specs_by_id,
    )

    id_to_name = {f["id"]: f["name"] for f in schema_struct["fields"]}
    specs = _specs_by_id(meta)
    default = _default_spec(meta)
    groups: dict[tuple, list[dict]] = {}
    for d in eq_entries:
        key = (
            tuple(d["equality_ids"]),
            int(d.get("_spec_id", default["spec-id"])),
        )
        groups.setdefault(key, []).append(d)
    for ids, sid in sorted(groups):
        yield (
            [id_to_name[i] for i in ids],
            specs.get(sid) or default,
            groups[(ids, sid)],
        )


def _apply_equality_deletes(
    spark, df_pos, data_entries, eq_entries, meta, schema_id=None
):
    """Merge-on-read for **equality-delete files** (content=2): a data
    row is dropped when some equality-delete row in the SAME partition
    matches it on every equality column (null-safe, the spec's
    IS NOT DISTINCT FROM semantics) and the delete's sequence number is
    STRICTLY greater than the data file's (vs <= for position deletes —
    an equality delete never touches rows committed with it or after
    it, which is what makes CDC upserts [delete key + re-append] safe
    in one or adjacent commits). One anti-join per
    :func:`_eq_delete_groups` group, chained."""
    # resolve under the schema version of the snapshot being read
    # (schema_id; default current): a column DROPPED by a later DDL
    # commit still resolves for time-travel reads whose snapshot's eq
    # deletes reference it — and the data scan used the same version,
    # so the anti-join columns line up
    schema_struct = _current_schema_struct(meta)
    if schema_id is not None:
        schema_struct = next(
            (s for s in meta.get("schemas", []) if s["schema-id"] == schema_id),
            schema_struct,
        )
    for eq_cols, spec, group in _eq_delete_groups(
        meta, schema_struct, eq_entries
    ):
        df_pos = _apply_eq_delete_group(
            spark, df_pos, data_entries, group, eq_cols, spec, schema_struct
        )
    return df_pos


def _apply_eq_delete_group(
    spark, df_pos, data_entries, eq_entries, eq_cols, spec, schema_struct,
    join_type: str = "left_anti",
):
    """One :func:`_eq_delete_groups` group's equality-delete join: the
    data side recomputes every transformed spec field from its source
    column executor-side (same kernel the writer and rewrite_data_files
    use), identity fields match on the schema column directly, and the
    group's delete files are ONE multi-path read carrying each file's
    partition tuple and sequence number through
    :func:`_attach_file_meta` (columns typed per spec field — string
    partition values included). The data side attaches its per-file
    sequence number the same way, but only for the data files NOT
    older than every delete: an older file is retracted by any delete
    it matches, so it attaches nothing and compares as older, and
    when no planned file is that new the sequence clause is dropped
    (the strictly-greater rule is then constant-true).

    The delete files are read under an EXPLICIT schema typed from
    ``schema_struct``: after an int->long promotion the live delete set
    mixes int32 and int64 key pages, which plain inference would misread
    (first-footer wins) — the explicit wider type up-casts old files in
    place, exactly like the data path.

    ``join_type="left_semi"`` inverts the selection: the rows the
    deletes WOULD retract, with their ``(__iceberg_file,
    __iceberg_pos)`` identity — what :func:`deletes.
    convert_equality_deletes` materializes into position-delete
    files."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    from tiered_storage_for_apache_kafka_spark.sources.iceberg.manifests import (
        spec_field_type,
    )

    spec_fields = spec["fields"]
    part_names = [f["name"] for f in spec_fields]
    id_to_name = {f["id"]: f["name"] for f in schema_struct["fields"]}
    table_spark = iceberg_schema_to_spark(schema_struct)
    scope = _scope_by_path(
        eq_entries,
        lambda d: (
            int(d["_seq"]),
            tuple(d["partition"].get(n) for n in part_names),
        ),
    )
    min_del_seq = min(seq for seq, _p in scope.values())
    # a data file older than every delete is deleted by each one it
    # matches: only the others need their sequence number attached
    data_seq = {
        d["file_path"]: int(d["_seq"])
        for d in data_entries
        if int(d["_seq"]) >= min_del_seq
    }
    seq_clause = bool(data_seq)
    fields = [
        (f"__iceberg_del_part_{i}", spec_field_type(f, schema_struct))
        for i, f in enumerate(spec_fields)
    ]
    if seq_clause:
        fields.append(("__iceberg_del_seq", "bigint"))
    dels = (
        spark.read.schema(StructType([table_spark[c] for c in eq_cols]))
        .parquet(*sorted(scope))
        .select(
            *[F.col(c).alias(f"__eq_{c}") for c in eq_cols],
            _norm_file_expr(F.col("_metadata.file_path")).alias(
                "__iceberg_dfile"
            ),
        )
    )
    if fields:
        dels = _attach_file_meta(
            spark, dels, "__iceberg_dfile",
            {
                p: pvals + ((seq,) if seq_clause else ())
                for p, (seq, pvals) in scope.items()
            },
            fields, eq_entries,
        )
    dels = _maybe_broadcast_deletes(dels.drop("__iceberg_dfile"), eq_entries)
    df2 = df_pos
    if seq_clause:
        df2 = _attach_file_meta(
            spark, df2, "__iceberg_file",
            {p: (s,) for p, s in data_seq.items()},
            [("__iceberg_data_seq", "bigint")], data_entries,
        )
    part_cols = []
    computed: list[str] = []
    for i, f in enumerate(spec_fields):
        if f["transform"] != "identity":
            from tiered_storage_for_apache_kafka_spark.sources.iceberg.transforms import (  # noqa: E501
                transform_column,
            )

            cname = f"__iceberg_eq_part_{i}"
            df2 = transform_column(
                df2, id_to_name[f["source-id"]], f["transform"], cname
            )
            computed.append(cname)
            part_cols.append(df2[cname])
        else:
            part_cols.append(df2[f["name"]])
    cond = None
    if seq_clause:
        cond = F.coalesce(
            df2["__iceberg_data_seq"], F.lit(min_del_seq - 1)
        ) < dels["__iceberg_del_seq"]
    for i, pc in enumerate(part_cols):
        clause = pc.eqNullSafe(dels[f"__iceberg_del_part_{i}"])
        cond = clause if cond is None else cond & clause
    for c in eq_cols:
        clause = df2[c].eqNullSafe(dels[f"__eq_{c}"])
        cond = clause if cond is None else cond & clause
    # callers drop __iceberg_file/__iceberg_pos once all delete layers
    # have been applied
    return df2.join(dels, cond, join_type).drop(
        "__iceberg_data_seq", *computed
    )


# -- row-level deletes: v2 position-delete files (merge-on-read) --------------



def plan_scan(
    table_dir: str,
    partition_value: int | None = None,
    catalog=None,
    table_name: str | None = None,
    column_bounds: tuple | list | None = None,
    source_value=None,
    source_range: tuple | None = None,
    source_predicates: dict | None = None,
) -> list[dict]:
    """Plan a table scan from the Iceberg metadata alone (never listing
    the filesystem): current snapshot -> manifest list -> manifests ->
    data-file entries, with THREE levels of spec pruning (pass
    ``column_bounds=("kafka.offset", lo, hi)`` — or a LIST of such
    triples, ANDed — for the third: files whose manifest-recorded
    lower/upper bounds provably miss any given range are skipped — the
    spec's column-stats pruning, what keeps an offset-window read
    O(overlapping files) on a sorted-write table regardless of table
    size, and what makes a 2D z-ordered box lookup open only the files
    tight on BOTH axes):

    1. manifest-level: a manifest whose ``partitions`` field summary
       bounds exclude the predicate is skipped WITHOUT being opened
       (the manifest-list is the index over manifests), and
    2. file-level: surviving manifests' entries are filtered on the
       partition value.

    This is exactly how Iceberg readers avoid both file listing and
    full-metadata reads at 100k-file scale; returns the matching
    data-file dicts. Unlike :func:`read_table_metadata` (the diagnostic
    full parse), this walks lazily: only metadata.json + the manifest
    list are always read; a pruned manifest is genuinely never opened,
    and a surviving one is opened exactly once.

    With ``catalog``, the current-snapshot pointer comes from the
    catalog service (``GET .../tables/{t}``) instead of the
    version-hint file — the read-side symmetry of the REST commit path
    (a real external catalog's pointer is authoritative; a stale local
    hint must not win).

    ``source_predicates`` is the N-field form: ``{source_col: value}``
    (equality) or ``{source_col: (lo, hi)}`` (range) entries, each
    mapped through every default-spec field derived from that column
    and ANDed — the multi-field prune a ``(day(ts), bucket(id))``
    table's point lookup needs. The legacy ``source_value`` /
    ``source_range`` kwargs keep addressing single-field specs."""
    if catalog is not None:
        _v, meta, table_name = _current_state_meta(table_dir, catalog, table_name)
    else:
        hint = os.path.join(table_dir, "metadata", "version-hint.text")
        if not os.path.exists(hint):
            raise FileNotFoundError(f"no Iceberg metadata under {table_dir}")
        with open(hint) as f:
            version = int(f.read().strip())
        with open(
            os.path.join(table_dir, "metadata", f"v{version}.metadata.json")
        ) as f:
            meta = json.load(f)
    constraints = _resolve_constraints(
        meta, partition_value, source_value, source_range, source_predicates
    )
    return _plan_from_meta(meta, constraints, column_bounds)


def _resolve_constraints(
    meta: dict,
    partition_value,
    source_value,
    source_range: tuple | None,
    source_predicates: dict | None = None,
) -> dict:
    """Transform-aware pruning (spec "Partition Transforms"): map
    source-column predicates through the DEFAULT spec's transforms into
    per-partition-field constraints, ``{field_name: ("eq", v)}`` or
    ``{field_name: ("range", lo, hi)}``, ANDed by the planner.

    Equality works for every transform — including ``bucket``, where it
    picks the one bucket the value can live in; a range maps only
    through order-preserving transforms (identity/truncate/temporal)
    and is a correct no-op (no constraint) under ``bucket``. A source
    column feeding several spec fields (``day(ts)`` and ``hour(ts)``)
    constrains each of them. The legacy single-field kwargs
    (``partition_value`` on the first field, ``source_value`` /
    ``source_range``) require a single-field spec — on a multi-field
    table they would silently under-specify, so they error."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg.state import (
        _default_spec,
    )
    from tiered_storage_for_apache_kafka_spark.sources.iceberg.transforms import (
        is_order_preserving,
        transform_value,
    )

    constraints: dict[str, tuple] = {}
    fields = _default_spec(meta)["fields"]
    schema_struct = _current_schema_struct(meta)
    name_by_id = {f["id"]: f["name"] for f in schema_struct["fields"]}
    if partition_value is not None:
        if source_value is not None:
            raise ValueError("pass partition_value OR source_value, not both")
        constraints[fields[0]["name"]] = ("eq", partition_value)
    legacy = source_value is not None or source_range is not None
    if legacy and len(fields) != 1:
        raise ValueError(
            "source_value/source_range address a single-field spec; "
            "this table's default spec has "
            f"{len(fields)} fields — pass source_predicates="
            "{source_col: value | (lo, hi)} instead"
        )
    preds = dict(source_predicates or {})
    if source_value is not None:
        preds[name_by_id[fields[0]["source-id"]]] = source_value
    if source_range is not None:
        lo, hi = source_range
        preds[name_by_id[fields[0]["source-id"]]] = (lo, hi)
    for src_col, pred in preds.items():
        matched = [
            f for f in fields if name_by_id[f["source-id"]] == src_col
        ]
        if not matched:
            raise KeyError(
                f"no default-spec partition field derives from column "
                f"{src_col!r}"
            )
        for f in matched:
            t = f["transform"]
            if isinstance(pred, tuple):
                lo, hi = pred
                if not is_order_preserving(t):
                    continue  # bucket: ranges do not map — no constraint
                constraints[f["name"]] = (
                    "range", transform_value(t, lo), transform_value(t, hi)
                )
            else:
                constraints[f["name"]] = ("eq", transform_value(t, pred))
    return constraints


def _apply_residuals(df, source_predicates: dict | None):
    """Row-level residuals for source-column predicates (the same map
    :func:`_resolve_constraints` prunes with): equality for scalars,
    BETWEEN for (lo, hi) tuples. Pruning is partition-grain only — a
    bucket point-lookup or an unaligned range must not return the rest
    of the partition, so every pruned read applies this too."""
    if not source_predicates:
        return df
    from pyspark.sql import functions as F

    for src_name, pred in source_predicates.items():
        if isinstance(pred, tuple):
            df = df.where(F.col(src_name).between(pred[0], pred[1]))
        else:
            df = df.where(F.col(src_name) == F.lit(pred))
    return df


def _bounds_overlap(d: dict, field_id: int, lo, hi) -> bool:
    """File-level bounds pruning (spec lower_bounds/upper_bounds): skip
    a data file only when its recorded range PROVABLY misses [lo, hi];
    a file without bounds for the column is conservatively kept. The
    stored bound decodes under the PROBE's type (int32/int64 LE vs
    UTF-8 string, Appendix D) — length-based decoding would misread a
    4- or 8-byte string bound as an integer."""
    lbs, ubs = d.get("lower_bounds"), d.get("upper_bounds")
    if not lbs or not ubs:
        return True
    f_lo = next((kv["value"] for kv in lbs if kv["key"] == field_id), None)
    f_hi = next((kv["value"] for kv in ubs if kv["key"] == field_id), None)
    if f_lo is None or f_hi is None:
        return True
    if isinstance(lo, str):
        try:
            b_lo = bytes(f_lo).decode("utf-8")
            b_hi = bytes(f_hi).decode("utf-8")
        except UnicodeDecodeError:
            return True  # foreign binary bound: keep conservatively
        return b_lo <= hi and lo <= b_hi
    if len(f_lo) not in (4, 8):
        return True  # string-typed bound, int probe: cannot prune
    fmt = "<i" if len(f_lo) == 4 else "<q"
    return struct.unpack(fmt, f_lo)[0] <= hi and lo <= struct.unpack(fmt, f_hi)[0]


def _manifest_pruned(
    mf: dict, constraints: dict, specs_by_id: dict | None
) -> bool:
    """Manifest-level partition-summary pruning, constraint by
    constraint: a manifest whose per-field summary bounds provably miss
    ANY constraint is skipped unopened. Each manifest's summary array
    is interpreted under the spec the manifest was written with
    (``partition_spec_id``), so spec evolution cannot misalign fields:
    a constraint naming a field the manifest's spec lacks simply
    cannot prune it (conservative keep). A DELETE manifest whose
    summary records nulls for a constrained field is kept too — its
    null-valued entries may scope deletes over older-spec data files
    (see :func:`_file_matches`)."""
    if not constraints or not mf.get("partitions"):
        return False
    is_delete_manifest = int(mf.get("content") or 0) != 0
    spec = (specs_by_id or {}).get(mf.get("partition_spec_id", 0))
    if spec is None:
        # unknown spec (foreign writer): only a single-field summary is
        # safely interpretable against a single constraint
        names = (
            [next(iter(constraints))]
            if len(mf["partitions"]) == 1 and len(constraints) == 1
            else []
        )
    else:
        names = [f["name"] for f in spec["fields"]]
    summaries = mf["partitions"]
    for idx, name in enumerate(names):
        c = constraints.get(name)
        if c is None or idx >= len(summaries):
            continue
        summary = summaries[idx]
        if is_delete_manifest and summary.get("contains_null"):
            continue  # null-scoped deletes: this field cannot prune
        lo_b, hi_b = summary.get("lower_bound"), summary.get("upper_bound")
        if lo_b is None or hi_b is None:
            continue
        if c[0] == "eq" and c[1] is None:
            continue  # a null probe can never prune on bounds
        # bound decoding follows the CONSTRAINT's value type (Appendix
        # D single-value serialization: int32 LE vs UTF-8 bytes) — the
        # constraint was typed by the spec field it maps, the same
        # field whose summary this is
        probe = c[1]
        if isinstance(probe, str):
            lo, hi = bytes(lo_b).decode("utf-8"), bytes(hi_b).decode("utf-8")
        else:
            # int bounds are int32 OR int64 LE by length (Appendix D;
            # the writer widens past int32); a foreign writer's bound of
            # any other shape cannot prune — conservative keep, never a
            # planning crash
            try:
                lo = struct.unpack("<i" if len(lo_b) == 4 else "<q", lo_b)[0]
                hi = struct.unpack("<i" if len(hi_b) == 4 else "<q", hi_b)[0]
            except struct.error:
                continue
        if c[0] == "eq":
            if c[1] is not None and not (lo <= c[1] <= hi):
                return True
        else:  # ("range", lo, hi)
            if hi < c[1] or lo > c[2]:
                return True
    return False


def _file_matches(d: dict, constraints: dict) -> bool:
    """File-level partition filtering: the entry's partition struct
    must satisfy EVERY constraint naming a field it carries; fields an
    older spec's file lacks are conservatively kept (the row-level
    residual still applies).

    DELETE entries (content 1/2) additionally keep on a NULL value for
    a constrained field: a delete file written under the current spec
    but covering rows of OLDER-SPEC data files records the new field
    as null (the data file's tuple lacks it) — pruning it while the
    old data file is conservatively kept would resurface deleted rows.
    For DATA entries a null partition value means the source value is
    null, which a non-null equality probe correctly prunes."""
    is_delete = d.get("content") in (1, 2)
    for name, c in constraints.items():
        if name not in d["partition"]:
            continue  # older-spec file: field absent, keep
        pv = d["partition"][name]
        if pv is None and is_delete:
            continue  # delete scope spans old-spec files: keep
        if c[0] == "eq":
            if pv != c[1]:
                return False
        else:
            # a null partition value can never satisfy a range
            if pv is None or not (c[1] <= pv <= c[2]):
                return False
    return True


def _plan_snapshot(
    snap: dict,
    constraints: dict | None = None,
    bounds: list | None = None,
    tombstones_out: list[dict] | None = None,
    specs_by_id: dict | None = None,
) -> tuple[list[dict], list[dict]]:
    """Walk ONE snapshot's manifest list lazily and split its live
    entries by manifest content: ``(data_files, delete_files)``. Each
    returned dict is the entry's ``data_file`` record plus ``_seq``,
    the entry's data sequence number (inherited from the manifest when
    the entry's own field is null, as the spec's inheritance rule
    says) — the read side needs it to decide which position deletes
    apply to which data files (a delete applies only to data files
    whose sequence number is <= the delete's) — and ``_spec_id``, the
    manifest's partition-spec id (maintenance re-writes each entry
    under the spec that scoped it). ``constraints`` is the per-field
    map :func:`_resolve_constraints` builds; manifest-level
    partition-summary pruning applies to BOTH kinds, and a pruned
    manifest is never opened.

    ``tombstones_out`` (unpruned calls only): status=2 entries are
    appended to it as FULL manifest entries with explicit sequence
    numbers, letting a maintenance op collect carried tombstones in
    the same metadata walk instead of paying the Avro reads twice."""
    constraints = constraints or {}
    _, manifest_files, _ = read_avro_ocf(snap["manifest-list"])
    data: list[dict] = []
    deletes: list[dict] = []
    for mf in manifest_files:
        if _manifest_pruned(mf, constraints, specs_by_id):
            continue  # manifest pruned unopened
        _, entries, _ = read_avro_ocf(mf["manifest_path"])
        spec_id = int(mf.get("partition_spec_id", 0))
        for e in entries:
            if e["status"] == 2:  # DELETED
                if tombstones_out is not None:
                    seq = e.get("sequence_number")
                    if seq is None:
                        seq = mf.get("sequence_number", 0)
                    tombstones_out.append(
                        {
                            **e,
                            "sequence_number": int(seq),
                            "_spec_id": spec_id,
                            "data_file": dict(e["data_file"]),
                        }
                    )
                continue
            d = e["data_file"]
            if constraints and not _file_matches(d, constraints):
                continue
            is_delete = d.get("content") in (1, 2)
            if (
                bounds is not None
                and not is_delete
                and not all(_bounds_overlap(d, *b) for b in bounds)
            ):
                continue  # data file pruned by column bounds (ANDed)
            seq = e.get("sequence_number")
            if seq is None:
                seq = mf.get("sequence_number", 0)
            rec = {**d, "_seq": int(seq), "_spec_id": spec_id}
            (deletes if is_delete else data).append(rec)
    return data, deletes


def _resolve_bounds(
    meta: dict, column_bounds: tuple | list | None
) -> list | None:
    """``("col", lo, hi)`` — or a list of such triples, ANDed — ->
    ``[(field id, lo, hi), ...]`` against the current schema; unknown
    columns are an explicit error (silently skipping the prune would
    be correct but hide the typo), and so is a probe whose type
    disagrees with the column's — an int probe against a string column
    would otherwise misdecode stored UTF-8 bounds as integers."""
    if column_bounds is None:
        return None
    triples = (
        [column_bounds]
        if isinstance(column_bounds, tuple)
        and len(column_bounds) == 3
        and isinstance(column_bounds[0], str)
        else list(column_bounds)
    )
    schema_struct = _current_schema_struct(meta)
    out = []
    for path, lo, hi in triples:
        fid = _leaf_field_ids(schema_struct).get(path)
        if fid is None:
            raise KeyError(
                f"no scalar leaf column {path!r} in the table schema"
            )
        col_type = next(
            (f["type"] for f in schema_struct["fields"] if f["id"] == fid),
            None,
        )
        probe_is_str = isinstance(lo, str)
        if col_type == "string" and not probe_is_str:
            raise TypeError(
                f"column {path!r} is a string column; pass string bounds"
            )
        if col_type in ("int", "long") and probe_is_str:
            raise TypeError(
                f"column {path!r} is an integer column; pass integer bounds"
            )
        out.append((fid, lo, hi))
    return out


def _plan_from_meta(
    meta: dict,
    constraints: dict | None,
    column_bounds: tuple | list | None = None,
) -> list[dict]:
    """The lazy manifest walk of :func:`plan_scan` over an
    already-loaded metadata dict — shared so readers that hold the
    metadata (e.g. a single catalog load) plan and type the scan from
    the SAME snapshot (no second load, no TOCTOU between plan and
    schema). Returns the DATA file entries only; position-delete files
    (manifest content=1) are planned by the snapshot readers via
    :func:`_plan_snapshot`."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg.state import (
        _specs_by_id,
    )

    if meta.get("current-snapshot-id", -1) == -1:
        return []
    cur = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    data, _deletes = _plan_snapshot(
        cur,
        constraints,
        _resolve_bounds(meta, column_bounds),
        specs_by_id=_specs_by_id(meta),
    )
    return [
        {k: v for k, v in d.items() if k not in ("_seq", "_spec_id")}
        for d in data
    ]



def read_iceberg_table(
    spark,
    table_dir: str,
    partition_value: int | None = None,
    catalog=None,
    table_name: str | None = None,
    source_value=None,
    source_range: tuple | None = None,
    source_predicates: dict | None = None,
):
    """Open the table THROUGH its Iceberg metadata the way Trino/Flink
    would: plan the file set from the snapshot's manifests (plan_scan),
    then hand exactly those parquet files to Spark. Partition pruning
    happens at the metadata level — pruned files never reach the scan,
    which is the Iceberg contract (vs. Hive-style directory listing).
    An empty plan (empty partition, all files deleted, or a table with
    no snapshot yet) is a valid ZERO-ROW scan typed from the table
    schema, not an error. With ``catalog``, the snapshot pointer comes
    from the catalog service (see :func:`plan_scan`). Metadata is
    loaded exactly ONCE; the plan and the schema both derive from that
    load, so a rival commit landing mid-read cannot split them.

    Tables that carry position-delete files (a row-delta commit via
    :func:`commit_position_deletes`) are read merge-on-read: the scan
    anti-joins the delete set on (file, row position) — see
    :func:`_read_plan_with_identity`."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg.state import (
        _default_spec,
    )

    _v, meta, _t = _current_state_meta(table_dir, catalog, table_name)
    if meta.get("current-snapshot-id", -1) == -1:
        return _empty_table_df(spark, meta)
    cur = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    constraints = _resolve_constraints(
        meta, partition_value, source_value, source_range, source_predicates
    )
    df = _read_snapshot(spark, table_dir, meta, cur, constraints)
    # source predicates are row predicates, not just pruning hints:
    # after the partition-grain prune, apply the residual on each
    # source column (Iceberg's scan does the same — a bucket
    # point-lookup or an unaligned range must not return the rest
    # of the partition)
    residuals: dict = dict(source_predicates or {})
    if source_value is not None or source_range is not None:
        schema_struct = _current_schema_struct(meta)
        spec_field = _default_spec(meta)["fields"][0]
        src_name = next(
            f["name"]
            for f in schema_struct["fields"]
            if f["id"] == spec_field["source-id"]
        )
        residuals[src_name] = (
            source_value if source_value is not None else source_range
        )
    return _apply_residuals(df, residuals)



def _empty_table_df(spark, meta: dict):
    """A valid ZERO-ROW scan typed from the table's current schema."""
    return local_rows_df(
        spark, [], iceberg_schema_to_spark(_current_schema_struct(meta))
    )


def _read_snapshot(
    spark,
    table_dir: str,
    meta: dict,
    snap: dict,
    constraints: dict | None = None,
    keep_identity: bool = False,
    use_snapshot_schema: bool = False,
):
    """Plan one snapshot and hand it to Spark, applying the snapshot's
    position deletes when it has any (shared by the current-state and
    time-travel readers, so ``VERSION AS OF`` sees exactly the row set
    that snapshot defined — deletes included). ``keep_identity=True``
    retains the ``(__iceberg_file, __iceberg_pos)`` row-identity columns
    (and returns None for an empty plan) — the changelog reader diffs
    two snapshots on exactly that identity."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg.state import (
        _specs_by_id,
    )

    data, deletes = _plan_snapshot(
        snap, constraints, specs_by_id=_specs_by_id(meta)
    )
    # current-state reads use the CURRENT schema (an add/drop DDL is
    # visible immediately, Iceberg semantics); only TIME TRAVEL reads
    # under the snapshot's own schema version
    schema_id = snap.get("schema-id") if use_snapshot_schema else None
    if not data:
        return None if keep_identity else _empty_table_df(spark, meta)
    if not deletes and not keep_identity:
        return _read_planned_files(
            spark, table_dir, meta, [d["file_path"] for d in data],
            schema_id=schema_id,
        )
    df = _read_plan_with_identity(
        spark, table_dir, meta, data, deletes, schema_id=schema_id
    )
    if keep_identity:
        return df
    return df.drop("__iceberg_file", "__iceberg_pos")


def _read_plan_with_identity(
    spark, table_dir: str, meta: dict, data: list[dict],
    deletes: list[dict], schema_id: int | None = None,
):
    """The merged view of an explicit data-file plan: the planned files
    scanned with the ``(__iceberg_file, __iceberg_pos)`` identity
    columns retained and the given delete files applied — equality
    deletes, then the parquet position-delete and DV planes. Every
    reader of a merged view goes through here: snapshot and time-travel
    reads, the changelog's plan-split scans, compaction, the
    position-delete and DV match of a new delete commit, and
    ``convert_equality_deletes`` (deletes match per (file, pos) / per
    key, so applying them against a SUBSET of the snapshot's data files
    is sound).

    Two plan-shape rules: a delete plane whose manifest
    ``record_count`` totals ZERO is skipped outright (its anti-join
    subtree could never remove a row — entries with empty delete files
    occur after converts/compactions); and the parquet position-delete
    and DV planes FUSE into one anti-join — both produce (file, pos)
    row sets, and set subtraction by the same key is one
    union-then-anti-join, halving the broadcast builds when a table
    carries both representations."""
    from tiered_storage_for_apache_kafka_spark.sources.deletion_vectors import (
        _dv_delete_rows,
        split_position_deletes,
    )

    def _zero_rows(entries: list[dict]) -> bool:
        counts = [e.get("record_count") for e in entries]
        return all(c is not None for c in counts) and (
            sum(int(c) for c in counts) == 0
        )

    df = _read_with_positions(
        spark, table_dir, meta, [d["file_path"] for d in data],
        schema_id=schema_id,
    )
    pos, dv = split_position_deletes(deletes)
    eq = [d for d in deletes if d.get("content") == 2]
    if eq and not _zero_rows(eq):
        df = _apply_equality_deletes(
            spark, df, data, eq, meta, schema_id=schema_id
        )
    if pos and _zero_rows(pos):
        pos = []
    dels = _pos_delete_rows(spark, data, pos) if pos else None
    applicable = list(pos)
    if dv and not _zero_rows(dv):
        dv_rows, dv_applicable = _dv_delete_rows(spark, data, dv)
        if dv_rows is not None:
            dels = (
                dv_rows if dels is None else dels.unionByName(dv_rows)
            )
            applicable += dv_applicable
    if dels is not None:
        df = df.join(
            _maybe_broadcast_deletes(dels, applicable),
            ["__iceberg_file", "__iceberg_pos"],
            "left_anti",
        )
    return df


_NORM_FILE_RE = "^file:/+"  # file:///p and file:/p both -> /p


def _norm_file_expr(col):
    """Normalize a Spark-reported file identity (``_metadata.file_path``
    / ``input_file_name()``) to the RAW path the table metadata stores:
    strip the file: scheme and percent-DECODE — Spark reports a URI, so
    a hive dir holding a string partition value with a space (or any
    URI-special char) comes back encoded ("lang=en%20us") and would
    match no metadata path, silently dropping those rows from every
    delete/identity join. A literal '+' is a real '+' in a URI path
    (the encoder writes %2B for nothing), so it is protected before
    url_decode's form-decoding would turn it into a space."""
    from pyspark.sql import functions as F

    return F.url_decode(
        F.regexp_replace(
            F.regexp_replace(col, _NORM_FILE_RE, "/"), r"\+", "%2B"
        )
    )


def _read_with_positions(
    spark, table_dir: str, meta: dict, paths: list[str],
    schema_id: int | None = None,
):
    """The planned-file scan plus Spark's hidden parquet ``_metadata``
    columns projected as ``(__iceberg_file, __iceberg_pos)`` — the same
    mechanism the Iceberg Spark reader uses to apply position deletes
    (``_metadata.row_index`` is the row's ordinal within its data file,
    exactly the spec's ``pos``). Stays a native columnar scan: the
    metadata columns are generated JVM-side, no Python crossing."""
    from pyspark.sql import functions as F

    def with_identity(df):
        return df.select(
            "*",
            _norm_file_expr(
                F.col("_metadata.file_path")
            ).alias("__iceberg_file"),
            F.col("_metadata.row_index").alias("__iceberg_pos"),
        )

    return _read_planned_files(
        spark, table_dir, meta, paths, project=with_identity,
        schema_id=schema_id,
    )


def _pos_delete_rows(spark, data_entries, delete_entries):
    """The applicable position-delete rows as a ``(__iceberg_file,
    __iceberg_pos)`` DataFrame: ONE multi-path read of every delete
    file, with the spec's sequence-number rule — a position delete
    applies only to data files whose data sequence number is <= the
    delete file's. Only the data files newer than the oldest delete
    can break the rule, so only they attach a sequence number — keyed
    by the path the delete row names, through
    :func:`_attach_file_meta` — and every other file compares as old
    enough. The delete side's sequence number is a literal when the
    plane's delete files share one, and otherwise attaches keyed by
    each delete file's own path. When no planned data file is newer
    than the oldest delete, nothing is attached. Delete rows
    referencing unplanned files survive the filter and match nothing
    in the anti-join."""
    from pyspark.sql import functions as F

    del_seq = _scope_by_path(delete_entries, lambda d: int(d["_seq"]))
    min_del_seq = min(del_seq.values())
    # only a data file newer than some delete can escape one
    newer = {
        d["file_path"]: (int(d["_seq"]),)
        for d in data_entries
        if int(d["_seq"]) > min_del_seq
    }
    dels = spark.read.parquet(*sorted(del_seq)).select(
        F.col("file_path").alias("__iceberg_file"),
        F.col("pos").alias("__iceberg_pos"),
    )
    if not newer:
        return dels
    del_seq_col = F.lit(min_del_seq)
    if len(set(del_seq.values())) > 1:
        # the row's own delete file decides; one shared sequence
        # number spares every delete row the path normalization
        dels = _attach_file_meta(
            spark,
            dels.select(
                "*",
                _norm_file_expr(F.col("_metadata.file_path")).alias(
                    "__iceberg_dfile"
                ),
            ),
            "__iceberg_dfile",
            {p: (s,) for p, s in del_seq.items()},
            [("__iceberg_del_seq", "bigint")], delete_entries,
        )
        del_seq_col = F.col("__iceberg_del_seq")
    return _attach_file_meta(
        spark, dels, "__iceberg_file", newer,
        [("__iceberg_data_seq", "bigint")], delete_entries,
    ).where(
        del_seq_col
        >= F.coalesce(F.col("__iceberg_data_seq"), F.lit(min_del_seq))
    ).select("__iceberg_file", "__iceberg_pos")


# -- maintenance: time travel + snapshot expiration ---------------------------



def read_iceberg_table_ref(
    spark, table_dir: str, ref_name: str, catalog=None,
    table_name: str | None = None,
):
    """Open the table at a named ref (``VERSION AS OF 'tag'``): resolve
    the ref to its snapshot and time-travel there. Reading a branch
    reads that branch's head."""
    _version, meta, _t = _current_state_meta(table_dir, catalog, table_name)
    ref = (meta.get("refs") or {}).get(ref_name)
    if ref is None:
        raise ValueError(f"ref {ref_name!r} not found")
    return read_iceberg_table_at(
        spark, table_dir, ref["snapshot-id"], catalog, table_name
    )


def snapshot_as_of_timestamp(
    table_dir: str, timestamp_ms: int, catalog=None, table_name: str | None = None
) -> int:
    """``TIMESTAMP AS OF``: the latest snapshot whose commit time is
    <= the given timestamp (walks the snapshot-log, the same structure
    external readers use). Raises if the table has no snapshot that
    old. With ``catalog``, the snapshot-log comes from the catalog
    service — same stale-local-hint rule as :func:`plan_scan`."""
    _version, meta, _t = _current_state_meta(table_dir, catalog, table_name)
    best = None
    for entry in meta.get("snapshot-log", []):
        if entry["timestamp-ms"] <= timestamp_ms:
            best = entry["snapshot-id"]
    if best is None:
        raise ValueError(
            f"no snapshot at or before timestamp {timestamp_ms} "
            "(table created later, or history expired)"
        )
    return best


def read_iceberg_table_at(
    spark, table_dir: str, snapshot_id: int, catalog=None,
    table_name: str | None = None,
):
    """Time travel: open the table AS OF a historical snapshot — the
    file set is whatever that snapshot's manifest list said, regardless
    of later appends (Iceberg's ``VERSION AS OF`` semantics; any
    snapshot still present in the metadata is readable). For
    ``TIMESTAMP AS OF``, resolve the id via
    :func:`snapshot_as_of_timestamp` first. With ``catalog``, the
    snapshot list comes from the catalog service. A historical
    snapshot's position deletes are applied exactly as they were live
    at that snapshot — deletes committed later do not leak backwards."""
    _version, meta, _t = _current_state_meta(table_dir, catalog, table_name)
    snap = next(
        (s for s in meta["snapshots"] if s["snapshot-id"] == snapshot_id), None
    )
    if snap is None:
        raise ValueError(f"snapshot {snapshot_id} not found (expired or never existed)")
    return _read_snapshot(
        spark, table_dir, meta, snap, None, use_snapshot_schema=True
    )
