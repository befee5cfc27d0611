"""The one Iceberg commit path (``sources/iceberg/state.py``): every
write verb builds one REST update list, ``publish`` applies it with
``apply_updates`` in the file layout or sends it to the catalog
service (which applies it with the same function), and
``commit_with_retries`` is the one optimistic-retry loop.

- ``commit_with_retries`` unit tests (no JVM);
- the snapshot-log clamp on ``set-snapshot-ref main``, in both modes;
- a mode-parity differential test: every write verb, once in the file
  layout and once through ``FakeRestCatalogServer``, with the
  normalized metadata compared after each step."""

from __future__ import annotations

import json
import re

import pytest

from tiered_storage_for_apache_kafka_spark.sources.iceberg import state
from tiered_storage_for_apache_kafka_spark.sources.iceberg.state import (
    CommitConflictError,
    commit_with_retries,
)


# -- commit_with_retries ------------------------------------------------------


@pytest.fixture
def backoffs(monkeypatch):
    calls = []
    monkeypatch.setattr(state, "commit_retry_backoff", calls.append)
    return calls


def _attempts(*outcomes):
    """An attempt function that raises/returns ``outcomes`` in order,
    recording how many times it ran."""
    runs = []

    def attempt():
        out = outcomes[len(runs)]
        runs.append(out)
        if isinstance(out, Exception):
            raise out
        return out

    return attempt, runs


def test_conflict_then_success_returns_second_result(backoffs):
    attempt, runs = _attempts(CommitConflictError("lost"), "won")
    assert commit_with_retries(attempt, object(), 3) == "won"
    assert len(runs) == 2
    assert backoffs == [0]


def test_exhausted_retries_raise_the_last_conflict(backoffs):
    errs = [CommitConflictError(f"lost {i}") for i in range(3)]
    attempt, runs = _attempts(*errs)
    with pytest.raises(CommitConflictError) as exc:
        commit_with_retries(attempt, object(), 3)
    assert exc.value is errs[-1]
    assert len(runs) == 3
    assert backoffs == [0, 1]  # no backoff after the last attempt


def test_file_layout_makes_one_attempt(backoffs):
    attempt, runs = _attempts(CommitConflictError("lost"), "never")
    with pytest.raises(CommitConflictError):
        commit_with_retries(attempt, None, 3)
    assert len(runs) == 1
    assert backoffs == []


def test_non_conflict_error_propagates_at_once(backoffs):
    attempt, runs = _attempts(ValueError("bad plan"), "never")
    with pytest.raises(ValueError, match="bad plan"):
        commit_with_retries(attempt, object(), 3)
    assert len(runs) == 1
    assert backoffs == []


# -- both modes ---------------------------------------------------------------


@pytest.fixture(params=["file", "rest"])
def mode(request, tmp_path):
    """``(table_dir, catalog)`` for a table committed in the file layout
    or through the fake REST catalog service."""
    from tiered_storage_for_apache_kafka_spark.sources.rest_catalog import (
        FakeRestCatalogServer,
        RestCatalogClient,
    )

    tdir = str(tmp_path / request.param / "t")
    if request.param == "file":
        yield tdir, None
        return
    with FakeRestCatalogServer() as server:
        yield tdir, RestCatalogClient(server.base_url)


def _df(spark, rows):
    return spark.createDataFrame(rows, "id bigint, grp int, v bigint")


def test_ref_move_keeps_snapshot_log_monotonic(spark, mode):
    """Moving ``main`` with a clock older than the log's newest entry
    (a tag or branch made on an old snapshot) must not let TIMESTAMP AS
    OF resolve to it for a time before the move: the log entry is
    clamped to the newest timestamp already logged."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        create_ref,
        snapshot_as_of_timestamp,
        write_iceberg_table,
    )

    tdir, cat = mode
    for i, ts in enumerate((1_000, 2_000, 3_000)):
        write_iceberg_table(
            spark, _df(spark, [(i, 0, i)]), tdir, now_ms=ts, catalog=cat
        )
    meta = create_ref(
        tdir, "main", kind="branch", snapshot_id=1, now_ms=1_500, catalog=cat
    )
    assert meta["current-snapshot-id"] == 1
    assert meta["snapshot-log"][-1] == {
        "timestamp-ms": 3_000, "snapshot-id": 1,
    }
    assert snapshot_as_of_timestamp(tdir, 2_500, catalog=cat) == 2


# -- mode parity --------------------------------------------------------------


_UUID_RE = re.compile(
    r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
)
_TOKEN_RE = re.compile(r"[0-9a-f]{16}")
_VERSION_RE = re.compile(r"v\d+\.metadata\.json")


def _normalized(meta: dict, tdir: str, rest: bool) -> dict:
    """``meta`` with the table path, uuids and per-commit random name
    tokens masked; ``metadata-log`` reduced to its timestamps, without
    the extra version a REST table gets at create time."""
    text = json.dumps(meta, sort_keys=True).replace(tdir, "<table>")
    text = _TOKEN_RE.sub("<token>", _UUID_RE.sub("<uuid>", text))
    out = json.loads(_VERSION_RE.sub("v<n>.metadata.json", text))
    log = out.pop("metadata-log")
    out["metadata-log"] = [e["timestamp-ms"] for e in log[1 if rest else 0:]]
    return out


def _verb_steps(spark, tdir, cat):
    """Run every write verb once against the table at ``tdir``; yields
    ``(verb, current metadata)`` after each commit."""
    from pyspark.sql import functions as F

    from tiered_storage_for_apache_kafka_spark.sources.deletion_vectors import (
        commit_deletion_vectors,
    )
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        _current_state_meta,
        cherry_pick_snapshot,
        commit_equality_deletes,
        commit_position_deletes,
        compute_ndv_stats,
        create_ref,
        drop_ref,
        expire_snapshots,
        fast_forward,
        merge_upsert,
        replace_partitions,
        rewrite_data_files,
        rewrite_manifests,
        rollback_to_snapshot,
        update_partition_spec,
        update_table_schema,
        update_where,
        write_iceberg_table,
    )

    spec = [("grp", "identity", None)]
    kw = {"catalog": cat}

    def head():
        return _current_state_meta(tdir, cat, None)[1]

    write_iceberg_table(
        spark, _df(spark, [(i, i % 3, 10 * i) for i in range(12)]), tdir,
        partition_spec=spec, now_ms=1_000, **kw,
    )
    yield "append", head()
    meta = write_iceberg_table(
        spark, _df(spark, [(100, 0, 1_000)]), tdir, partition_spec=spec,
        branch="audit", now_ms=2_000, **kw,
    )
    staged = meta["refs"]["audit"]["snapshot-id"]
    yield "branch append", head()
    commit_position_deletes(spark, tdir, "id = 1", now_ms=3_000, **kw)
    yield "position deletes", head()
    commit_equality_deletes(
        spark, tdir, _df(spark, [(2, 2, 0)]).select("id", "grp"), ["id"],
        now_ms=4_000, **kw,
    )
    yield "equality deletes", head()
    merge_upsert(
        spark, _df(spark, [(3, 0, 333), (50, 2, 500)]), tdir, on=["id"],
        partition_spec=spec, now_ms=5_000, **kw,
    )
    yield "merge", head()
    update_where(spark, tdir, "id = 4", {"v": "v + 1"}, now_ms=6_000, **kw)
    yield "update", head()
    replace_partitions(
        spark, _df(spark, [(60, 2, 600)]), tdir, now_ms=7_000, **kw
    )
    yield "replace", head()
    commit_deletion_vectors(spark, tdir, "id = 7", now_ms=8_000, **kw)
    yield "deletion vectors", head()
    compute_ndv_stats(spark, tdir, ["id"], now_ms=9_000, **kw)
    yield "ndv", head()
    update_partition_spec(
        tdir, [("grp", "identity", None), ("id_b", "bucket[2]", "id")],
        now_ms=10_000, **kw,
    )
    yield "spec", head()
    update_table_schema(tdir, add=[("note", "string")], now_ms=11_000, **kw)
    yield "schema", head()
    rewrite_data_files(spark, tdir, now_ms=12_000, **kw)
    yield "compaction", head()
    create_ref(tdir, "rel", "tag", now_ms=13_000, **kw)
    yield "tag", head()
    create_ref(tdir, "wap", "branch", now_ms=14_000, **kw)
    yield "branch", head()
    write_iceberg_table(
        spark,
        _df(spark, [(70, 1, 700)]).withColumn("note", F.lit("n")),
        tdir, partition_spec=spec + [("id_b", "bucket[2]", "id")],
        branch="wap", now_ms=15_000, **kw,
    )
    yield "wap append", head()
    fast_forward(tdir, "wap", now_ms=16_000, **kw)
    yield "fast-forward", head()
    before_pick = head()["current-snapshot-id"]
    cherry_pick_snapshot(tdir, staged, now_ms=17_000, **kw)
    yield "cherry-pick", head()
    rollback_to_snapshot(tdir, before_pick, now_ms=18_000, **kw)
    yield "rollback", head()
    drop_ref(tdir, "rel", now_ms=19_000, **kw)
    yield "drop ref", head()
    rewrite_manifests(tdir, now_ms=20_000, **kw)
    yield "rewrite manifests", head()
    expire_snapshots(tdir, keep_last=2, now_ms=21_000, **kw)
    yield "expire", head()


def test_every_verb_commits_the_same_metadata_in_both_modes(spark, tmp_path):
    from tiered_storage_for_apache_kafka_spark.sources.rest_catalog import (
        FakeRestCatalogServer,
        RestCatalogClient,
    )

    # equal-length table paths: Puffin statistics embed the file paths,
    # so their byte sizes match only when the paths do
    file_dir = str(tmp_path / "file" / "t")
    rest_dir = str(tmp_path / "rest" / "t")
    file_steps = [
        (verb, _normalized(meta, file_dir, rest=False))
        for verb, meta in _verb_steps(spark, file_dir, None)
    ]
    with FakeRestCatalogServer() as server:
        cat = RestCatalogClient(server.base_url)
        rest_steps = [
            (verb, _normalized(meta, rest_dir, rest=True))
            for verb, meta in _verb_steps(spark, rest_dir, cat)
        ]
    assert [v for v, _m in rest_steps] == [v for v, _m in file_steps]
    for (verb, file_meta), (_verb, rest_meta) in zip(file_steps, rest_steps):
        assert rest_meta == file_meta, verb
