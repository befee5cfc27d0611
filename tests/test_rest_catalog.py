"""Iceberg REST-catalog protocol (client + in-repo fake service):
commit via REST → plan_scan reads the same snapshot; optimistic
concurrency (409 CommitFailedException → reload + rebase retry).
Parity: the reference's pluggable catalog-service commit path
(`RemoteStorageManagerConfig.java:261-284`,
`IcebergTableManager.java:46-95`) over the public REST catalog spec."""

from __future__ import annotations

import glob
import os
import shutil

import pytest

from tiered_storage_for_apache_kafka_spark.sources.iceberg.state import (
    apply_updates,
    check_requirements,
)
from tiered_storage_for_apache_kafka_spark.sources.rest_catalog import (
    CommitConflictError,
    FakeRestCatalogServer,
    RestCatalogClient,
)


@pytest.fixture()
def table(spark, tmp_path):
    from pyspark.sql import functions as F

    from tiered_storage_for_apache_kafka_spark.sources.table_mode import write_table

    df = (
        spark.range(120)
        .select(
            (F.col("id") % 3).cast("int").alias("partition"),
            F.col("id").alias("offset"),
            F.encode(F.col("id").cast("string"), "UTF-8").alias("value"),
        )
        .repartition(3, "partition")
    )
    tdir = str(tmp_path / "rest_table")
    write_table(df, tdir)
    return tdir, df


@pytest.fixture()
def server():
    with FakeRestCatalogServer() as srv:
        yield srv


def _clone_data_file(tdir: str, suffix: str) -> str:
    """Stage one more data file (same bytes, new path = new file to
    Iceberg) in partition=0."""
    src = sorted(glob.glob(os.path.join(tdir, "partition=0", "*.parquet")))[0]
    dst = os.path.join(tdir, "partition=0", f"extra-{suffix}.parquet")
    shutil.copyfile(src, dst)
    return dst


def test_config_and_missing_table(server):
    client = RestCatalogClient(server.base_url)
    assert client.config() == {"defaults": {}, "overrides": {}}
    assert client.load_table("nope") is None


def test_commit_via_rest_then_plan_scan(server, table):
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        commit_append,
        plan_scan,
        read_table_metadata,
    )

    tdir, df = table
    client = RestCatalogClient(server.base_url)
    meta = commit_append(tdir, df.schema, now_ms=1_000, catalog=client)
    assert meta["current-snapshot-id"] == 1
    assert server.commit_count == 1

    # the catalog's metadata and the on-disk file layout agree, so an
    # external file-layout reader opens the same snapshot
    loaded = client.load_table("rest_table")
    assert loaded["metadata"]["current-snapshot-id"] == 1
    back = read_table_metadata(tdir)
    assert back["metadata"]["current-snapshot-id"] == 1
    assert back["metadata"]["table-uuid"] == meta["table-uuid"]

    files = plan_scan(tdir)
    assert len(files) == 3
    assert sum(f["record_count"] for f in files) == 120
    # pruned scan still works through the REST-committed metadata
    p0 = plan_scan(tdir, partition_value=0)
    assert len(p0) == 1


def test_second_append_advances_head(server, table):
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        commit_append,
        plan_scan,
    )

    tdir, df = table
    client = RestCatalogClient(server.base_url)
    commit_append(tdir, df.schema, now_ms=1_000, catalog=client)
    extra = _clone_data_file(tdir, "b")
    meta = commit_append(
        tdir, df.schema, now_ms=2_000, catalog=client, files=[extra]
    )
    assert len(meta["snapshots"]) == 2
    head = meta["snapshots"][-1]
    assert head["parent-snapshot-id"] == meta["snapshots"][0]["snapshot-id"]
    assert meta["refs"]["main"]["snapshot-id"] == head["snapshot-id"]
    assert len(plan_scan(tdir)) == 4


def test_zero_new_files_is_noop_commit(server, table):
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import commit_append

    tdir, df = table
    client = RestCatalogClient(server.base_url)
    commit_append(tdir, df.schema, now_ms=1_000, catalog=client)
    commits_before = server.commit_count
    meta = commit_append(tdir, df.schema, now_ms=2_000, catalog=client)
    assert server.commit_count == commits_before  # nothing to commit
    assert len(meta["snapshots"]) == 1


class RacingClient(RestCatalogClient):
    """Injects one competing commit (through a plain client) right
    before this writer's first commit attempt — a deterministic lost
    race."""

    def __init__(self, base_url, tdir, schema, races: int = 1):
        super().__init__(base_url)
        self.tdir = tdir
        self.schema = schema
        self.races_left = races
        self.raced_files: list[str] = []

    def commit_table(self, table, requirements, updates, now_ms):
        if self.races_left > 0:
            self.races_left -= 1
            from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
                commit_append,
            )

            rival_file = _clone_data_file(
                self.tdir, f"rival{self.races_left}"
            )
            self.raced_files.append(rival_file)
            commit_append(
                self.tdir,
                self.schema,
                now_ms=now_ms + 1,
                catalog=RestCatalogClient(self.base_url),
                files=[rival_file],
            )
        return super().commit_table(table, requirements, updates, now_ms)


def test_conflict_reloads_and_rebases(server, table):
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        commit_append,
        plan_scan,
    )

    tdir, df = table
    plain = RestCatalogClient(server.base_url)
    commit_append(tdir, df.schema, now_ms=1_000, catalog=plain)

    mine = _clone_data_file(tdir, "mine")
    racing = RacingClient(server.base_url, tdir, df.schema, races=1)
    meta = commit_append(
        tdir, df.schema, now_ms=5_000, catalog=racing, files=[mine]
    )
    # one 409, then the rebase landed on top of the rival's snapshot
    assert server.conflict_count == 1
    assert len(meta["snapshots"]) == 3
    rival_snap, my_snap = meta["snapshots"][1], meta["snapshots"][2]
    assert my_snap["parent-snapshot-id"] == rival_snap["snapshot-id"]
    assert meta["refs"]["main"]["snapshot-id"] == my_snap["snapshot-id"]
    # both writers' files are live
    paths = {os.path.basename(f["file_path"]) for f in plan_scan(tdir)}
    assert os.path.basename(mine) in paths
    assert os.path.basename(racing.raced_files[0]) in paths


def test_conflict_exhausts_retries(server, table):
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import commit_append

    tdir, df = table
    plain = RestCatalogClient(server.base_url)
    commit_append(tdir, df.schema, now_ms=1_000, catalog=plain)
    mine = _clone_data_file(tdir, "mine2")
    always_losing = RacingClient(server.base_url, tdir, df.schema, races=99)
    with pytest.raises(CommitConflictError):
        commit_append(
            tdir, df.schema, now_ms=5_000, catalog=always_losing,
            files=[mine], max_commit_retries=2,
        )
    assert server.conflict_count == 2


def test_schema_evolution_via_rest(server, table, spark):
    from pyspark.sql import functions as F

    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        commit_append,
        read_table_metadata,
    )
    from tiered_storage_for_apache_kafka_spark.sources.table_mode import write_table

    tdir, df = table
    client = RestCatalogClient(server.base_url)
    commit_append(tdir, df.schema, now_ms=1_000, catalog=client)

    evolved_df = df.withColumn("lang", F.lit("en"))
    write_table(evolved_df.limit(30).repartition(1, "partition"), tdir)
    meta = commit_append(tdir, evolved_df.schema, now_ms=2_000, catalog=client)
    assert len(meta["schemas"]) == 2
    new_schema = meta["schemas"][-1]
    assert meta["current-schema-id"] == new_schema["schema-id"]
    assert any(f["name"] == "lang" for f in new_schema["fields"])
    # file layout agrees
    back = read_table_metadata(tdir)
    assert back["metadata"]["current-schema-id"] == new_schema["schema-id"]


def test_requirements_unit():
    meta = {
        "table-uuid": "u1",
        "refs": {"main": {"snapshot-id": 7, "type": "branch"}},
    }
    assert check_requirements(None, [{"type": "assert-create"}]) is None
    assert "exists" in check_requirements(meta, [{"type": "assert-create"}])
    assert check_requirements(
        meta, [{"type": "assert-table-uuid", "uuid": "u1"}]
    ) is None
    assert check_requirements(
        meta, [{"type": "assert-table-uuid", "uuid": "u2"}]
    )
    assert check_requirements(
        meta,
        [{"type": "assert-ref-snapshot-id", "ref": "main", "snapshot-id": 7}],
    ) is None
    assert check_requirements(
        meta,
        [{"type": "assert-ref-snapshot-id", "ref": "main", "snapshot-id": 6}],
    )
    assert check_requirements(
        None,
        [{"type": "assert-ref-snapshot-id", "ref": "main", "snapshot-id": None}],
    ) is None


def test_apply_updates_unit():
    meta = {
        "schemas": [{"schema-id": 0, "fields": []}],
        "current-schema-id": 0,
        "snapshots": [],
        "snapshot-log": [],
        "last-sequence-number": 0,
        "refs": {},
        "properties": {},
    }
    snap = {
        "snapshot-id": 11,
        "sequence-number": 1,
        "timestamp-ms": 123,
        "manifest-list": "x",
    }
    out = apply_updates(
        meta,
        [
            {"action": "add-snapshot", "snapshot": snap},
            {
                "action": "set-snapshot-ref",
                "ref-name": "main",
                "type": "branch",
                "snapshot-id": 11,
            },
            {"action": "set-properties", "updates": {"k": "v"}},
        ],
        now_ms=456,
    )
    assert out["current-snapshot-id"] == 11
    assert out["last-sequence-number"] == 1
    assert out["snapshot-log"][-1]["snapshot-id"] == 11
    assert out["properties"]["k"] == "v"
    assert out["last-updated-ms"] == 456
    # unknown action rejected
    with pytest.raises(ValueError):
        apply_updates(meta, [{"action": "mystery"}], 1)


def _batch_df(spark, src, where):
    return spark.read.parquet(src).where(where).selectExpr(
        "CAST(id % 2 AS INT) AS partition",
        "named_struct('partition', CAST(id % 2 AS INT), 'offset', id, "
        "'timestamp_us', id * 1000) AS kafka",
        "CAST(CAST(id AS STRING) AS BINARY) AS value",
    )


def test_streaming_commit_through_catalog(server, spark, tmp_path):
    """Micro-batch Iceberg commits route through the REST catalog when
    configured — the reference's production path (catalog service owns
    the pointer) — and the (app_id, batch_id) replay-skip check reads
    catalog state, so exactly-once semantics survive the protocol
    switch."""
    import os

    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        read_iceberg_table,
        read_table_metadata,
    )
    from tiered_storage_for_apache_kafka_spark.streaming.ingest import (
        commit_envelope_batch,
    )

    src = str(tmp_path / "src")
    tdir = str(tmp_path / "stream_rest")
    os.makedirs(tdir, exist_ok=True)
    spark.range(0, 40).write.mode("append").parquet(src)
    client = RestCatalogClient(server.base_url)
    batch = _batch_df(spark, src, "id < 40")

    assert commit_envelope_batch(
        batch, 0, tdir, app_id="ck-A", catalog=client, table_name="stream_rest"
    ) is True
    assert server.commit_count >= 1
    # replay of the same (app, batch): skipped — decided from CATALOG state
    commits = server.commit_count
    assert commit_envelope_batch(
        batch, 0, tdir, app_id="ck-A", catalog=client, table_name="stream_rest"
    ) is False
    assert server.commit_count == commits
    # second batch: one more snapshot, chained
    spark.range(40, 60).write.mode("append").parquet(src)
    batch2 = _batch_df(spark, src, "id >= 40 AND id < 60")
    assert commit_envelope_batch(
        batch2, 1, tdir, app_id="ck-A", catalog=client, table_name="stream_rest"
    ) is True
    loaded = client.load_table("stream_rest")["metadata"]
    assert len(loaded["snapshots"]) == 2
    assert loaded["snapshots"][1]["summary"]["batch-id"] == "1"
    # file layout agrees with the catalog; reads see both batches
    assert read_table_metadata(tdir)["metadata"]["current-snapshot-id"] == \
        loaded["current-snapshot-id"]
    assert read_iceberg_table(spark, tdir).count() == 60


class LateRacingClient(RestCatalogClient):
    """The DANGEROUS interleaving: the rival commits right after this
    writer LOADS state (so this writer stages from a stale base and its
    staged metadata files coexist with the rival's already-committed
    ones — they must never share paths)."""

    def __init__(self, base_url, tdir, schema):
        super().__init__(base_url)
        self.tdir = tdir
        self.schema = schema
        self.raced = False
        self.rival_file: str | None = None

    def load_table(self, table):
        resp = super().load_table(table)
        if resp is not None and not self.raced:
            self.raced = True
            self.rival_file = _clone_data_file(self.tdir, "late-rival")
            from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
                commit_append,
            )

            commit_append(
                self.tdir, self.schema, now_ms=9_000,
                catalog=RestCatalogClient(self.base_url),
                files=[self.rival_file],
            )
        return resp


def test_stale_base_staging_cannot_clobber_committed_metadata(server, table):
    """Review finding (r6): staged manifest/list paths used to be
    deterministic functions of shared base state, so a loser staging
    AFTER the winner committed overwrote the winner's committed manifest
    — silent data loss. Staged paths now embed a per-attempt token."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        commit_append,
        plan_scan,
    )

    tdir, df = table
    plain = RestCatalogClient(server.base_url)
    commit_append(tdir, df.schema, now_ms=1_000, catalog=plain)

    mine = _clone_data_file(tdir, "late-mine")
    racing = LateRacingClient(server.base_url, tdir, df.schema)
    meta = commit_append(
        tdir, df.schema, now_ms=5_000, catalog=racing, files=[mine]
    )
    # the winner's committed file AND the loser's rebased file are live
    paths = {os.path.basename(f["file_path"]) for f in plan_scan(tdir)}
    assert os.path.basename(racing.rival_file) in paths  # winner survived
    assert os.path.basename(mine) in paths               # loser rebased in
    assert len(meta["snapshots"]) == 3
    # review finding: snapshot-log stays monotonic even though the
    # rebased writer's clock (5000) predates the rival's commit (9000)
    log_ts = [e["timestamp-ms"] for e in meta["snapshot-log"]]
    assert log_ts == sorted(log_ts)
    assert meta["snapshots"][-1]["timestamp-ms"] >= 9_000


class CreateRacingClient(RestCatalogClient):
    """Rival creates the table between this writer's load (None) and its
    create_table call — the concurrent-bootstrap race."""

    def __init__(self, base_url, tdir, schema):
        super().__init__(base_url)
        self.tdir = tdir
        self.schema = schema
        self.raced = False

    def create_table(self, table, metadata):
        if not self.raced:
            self.raced = True
            from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
                commit_append,
            )

            base_files = sorted(
                p for p in glob.glob(
                    os.path.join(self.tdir, "partition=*", "*.parquet")
                )
                if "boot-mine" not in p
            )
            commit_append(
                self.tdir, self.schema, now_ms=500,
                catalog=RestCatalogClient(self.base_url),
                files=base_files,
            )
        return super().create_table(table, metadata)


def test_concurrent_create_is_retryable(server, table):
    """Review finding (r6): a 409 AlreadyExistsException from
    create_table must surface as CommitConflictError so the retry loop
    reloads the now-existing table and appends on top of it."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        commit_append,
        plan_scan,
    )

    tdir, df = table
    racing = CreateRacingClient(server.base_url, tdir, df.schema)
    mine = _clone_data_file(tdir, "boot-mine")
    meta = commit_append(
        tdir, df.schema, now_ms=1_000, catalog=racing, files=[mine]
    )
    # rival's bootstrap committed the 3 base files; ours appended on top
    assert len(meta["snapshots"]) == 2
    assert len(plan_scan(tdir)) == 4


def test_streaming_default_table_name_replay_skip(server, spark, tmp_path):
    """Review finding (r6): with a catalog and table_name omitted, the
    replay-skip check used to query table 'None' (404 → no state) and
    re-commit every replayed batch."""
    import os

    from tiered_storage_for_apache_kafka_spark.streaming.ingest import (
        commit_envelope_batch,
    )

    src = str(tmp_path / "src")
    tdir = str(tmp_path / "default_name")
    os.makedirs(tdir, exist_ok=True)
    spark.range(0, 20).write.mode("append").parquet(src)
    client = RestCatalogClient(server.base_url)
    batch = _batch_df(spark, src, "id < 20")
    assert commit_envelope_batch(
        batch, 0, tdir, app_id="ck", catalog=client  # no table_name
    ) is True
    # replay MUST be skipped (the old bug re-committed it)
    assert commit_envelope_batch(
        batch, 0, tdir, app_id="ck", catalog=client
    ) is False
    assert len(client.load_table("default_name")["metadata"]["snapshots"]) == 1


def test_maintenance_routes_through_catalog(server, table):
    """Review finding (r6): rewrite_manifests / expire_snapshots on a
    catalog-managed table must commit through the catalog pointer —
    file-layout-only maintenance would fork the metadata and be undone
    by the next REST commit."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        commit_append,
        plan_scan,
        expire_snapshots,
        read_table_metadata,
        rewrite_manifests,
    )

    tdir, df = table
    client = RestCatalogClient(server.base_url)
    commit_append(tdir, df.schema, now_ms=1_000, catalog=client)
    f2 = _clone_data_file(tdir, "m2")
    commit_append(tdir, df.schema, now_ms=2_000, catalog=client, files=[f2])

    meta = rewrite_manifests(tdir, now_ms=3_000, catalog=client)
    assert meta["snapshots"][-1]["summary"]["operation"] == "replace"
    # catalog head moved; file layout agrees
    loaded = client.load_table("rest_table")["metadata"]
    assert loaded["current-snapshot-id"] == meta["current-snapshot-id"]
    assert read_table_metadata(tdir)["metadata"]["current-snapshot-id"] == \
        meta["current-snapshot-id"]
    assert len(read_table_metadata(tdir)["manifest_list"]) == 1

    # a follow-up REST commit builds on the COMPACTED state (no fork)
    f3 = _clone_data_file(tdir, "m3")
    meta = commit_append(tdir, df.schema, now_ms=4_000, catalog=client, files=[f3])
    assert meta["snapshots"][-1]["parent-snapshot-id"] == \
        meta["snapshots"][-2]["snapshot-id"]
    assert len(plan_scan(tdir)) == 5

    # expiry through the catalog drops old snapshots from the SERVICE
    meta = expire_snapshots(tdir, keep_last=1, now_ms=5_000, catalog=client)
    assert len(meta["snapshots"]) == 1
    loaded = client.load_table("rest_table")["metadata"]
    assert len(loaded["snapshots"]) == 1
    assert len(plan_scan(tdir)) == 5  # data untouched


def test_rest_commits_maintain_metadata_log(server, table):
    """Review finding (r6): the catalog service owns metadata-log — each
    commit chains the superseded version, matching the file layout."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import commit_append

    tdir, df = table
    client = RestCatalogClient(server.base_url)
    commit_append(tdir, df.schema, now_ms=1_000, catalog=client)
    f2 = _clone_data_file(tdir, "log2")
    meta = commit_append(tdir, df.schema, now_ms=2_000, catalog=client, files=[f2])
    log = meta["metadata-log"]
    assert len(log) >= 2  # create + first commit superseded
    assert all("metadata-file" in e and "timestamp-ms" in e for e in log)
    assert log[-1]["metadata-file"].endswith(".metadata.json")


def test_read_side_uses_catalog_pointer(server, table, spark, tmp_path):
    """Read-side symmetry: with a catalog, plan_scan/read_iceberg_table
    take the snapshot pointer from the service — a stale local
    version-hint must not win."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        commit_append,
        plan_scan,
        read_iceberg_table,
        read_table_metadata,
    )

    tdir, df = table
    client = RestCatalogClient(server.base_url)
    commit_append(tdir, df.schema, now_ms=1_000, catalog=client)
    f2 = _clone_data_file(tdir, "read2")
    commit_append(tdir, df.schema, now_ms=2_000, catalog=client, files=[f2])

    # sabotage the local hint back to an older version (a reader whose
    # local mirror lags the catalog)
    meta_dir = os.path.join(tdir, "metadata")
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as f:
        f.write("2")

    # file-layout read now sees the stale snapshot...
    assert len(plan_scan(tdir)) == len(
        [e for m in read_table_metadata(tdir)["manifests"] for e in m["entries"]]
    )
    # ...but the catalog-backed read sees the CURRENT one (4 files)
    assert len(plan_scan(tdir, catalog=client)) == 4
    assert read_iceberg_table(spark, tdir, catalog=client).count() == 160


def test_duplicate_namespace_is_tolerated(server, table):
    """Review finding (r6 pass 2): a spec-compliant service 409s a
    duplicate create-namespace; ensure_namespace must treat that as
    success, or the FIRST commit of every new table after the first
    would fail."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import commit_append

    tdir, df = table
    client = RestCatalogClient(server.base_url)
    client.ensure_namespace()  # namespace now exists
    client.ensure_namespace()  # second create: 409 from the service, tolerated
    meta = commit_append(tdir, df.schema, now_ms=1_000, catalog=client)
    assert meta["current-snapshot-id"] == 1


class MaintenanceRacingClient(RestCatalogClient):
    """A concurrent append lands between the maintenance op's load and
    its commit."""

    def __init__(self, base_url, tdir, schema):
        super().__init__(base_url)
        self.tdir = tdir
        self.schema = schema
        self.raced = False

    def commit_table(self, table, requirements, updates, now_ms):
        is_maintenance = any(
            u.get("action") in ("remove-snapshots",)
            or (u.get("action") == "add-snapshot"
                and u["snapshot"]["summary"].get("operation") == "replace")
            for u in updates
        )
        if is_maintenance and not self.raced:
            self.raced = True
            from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
                commit_append,
            )

            rival = _clone_data_file(self.tdir, "maint-rival")
            commit_append(
                self.tdir, self.schema, now_ms=now_ms + 1,
                catalog=RestCatalogClient(self.base_url), files=[rival],
            )
        return super().commit_table(table, requirements, updates, now_ms)


def test_rewrite_manifests_retries_on_concurrent_append(server, table):
    """Review finding (r6 pass 2): maintenance must reload-and-rebase on
    a lost race — a busy streaming table is exactly where compaction
    matters."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        commit_append,
        plan_scan,
        rewrite_manifests,
    )

    tdir, df = table
    plain = RestCatalogClient(server.base_url)
    commit_append(tdir, df.schema, now_ms=1_000, catalog=plain)
    f2 = _clone_data_file(tdir, "maint2")
    commit_append(tdir, df.schema, now_ms=2_000, catalog=plain, files=[f2])

    racing = MaintenanceRacingClient(server.base_url, tdir, df.schema)
    meta = rewrite_manifests(tdir, now_ms=3_000, catalog=racing)
    assert server.conflict_count >= 1  # the first attempt lost
    assert meta["snapshots"][-1]["summary"]["operation"] == "replace"
    # the rival's file made it into the compacted manifest (re-compacted
    # from the post-race state) and everything is live
    assert len(plan_scan(tdir)) == 5
    # monotonic log despite the maintenance clock (3000) trailing the
    # rival's commit (3001)
    log_ts = [e["timestamp-ms"] for e in meta["snapshot-log"]]
    assert log_ts == sorted(log_ts)


def test_time_travel_respects_catalog_pointer(server, table, spark):
    """Review finding (r6 pass 2): TIMESTAMP/VERSION AS OF must read the
    catalog's snapshot list, not a lagging local hint."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        commit_append,
        read_iceberg_table_at,
        snapshot_as_of_timestamp,
    )

    tdir, df = table
    client = RestCatalogClient(server.base_url)
    commit_append(tdir, df.schema, now_ms=1_000, catalog=client)
    f2 = _clone_data_file(tdir, "tt2")
    commit_append(tdir, df.schema, now_ms=2_000, catalog=client, files=[f2])

    # lag the local hint back to the create version
    with open(os.path.join(tdir, "metadata", "version-hint.text"), "w") as f:
        f.write("2")

    # catalog-backed resolution sees BOTH snapshots
    assert snapshot_as_of_timestamp(tdir, 1_500, catalog=client) == 1
    sid2 = snapshot_as_of_timestamp(tdir, 9_999, catalog=client)
    assert sid2 == 2
    assert read_iceberg_table_at(spark, tdir, sid2, catalog=client).count() == 160
    assert read_iceberg_table_at(spark, tdir, 1, catalog=client).count() == 120


def test_concurrent_writers_stress(server, table):
    """Real concurrency (not an injected race): 6 threads each commit
    their own file through the HTTP service simultaneously. Every file
    must end up live in exactly one snapshot each, chained linearly —
    the optimistic-concurrency loop under genuine contention."""
    import threading

    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        commit_append,
        plan_scan,
    )

    tdir, df = table
    plain = RestCatalogClient(server.base_url)
    commit_append(tdir, df.schema, now_ms=1_000, catalog=plain)

    n = 6
    files = [_clone_data_file(tdir, f"stress{i}") for i in range(n)]
    errors: list[Exception] = []

    def writer(i: int):
        try:
            commit_append(
                tdir, df.schema, now_ms=2_000 + i,
                catalog=RestCatalogClient(server.base_url),
                files=[files[i]],
                max_commit_retries=n + 2,  # worst case: lose to everyone
            )
        except Exception as e:  # pragma: no cover - failure detail
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(60)
        assert not t.is_alive(), "writer hung in the commit retry loop"
    assert errors == []

    meta = plain.load_table("rest_table")["metadata"]
    assert len(meta["snapshots"]) == 1 + n  # initial + one per writer
    # linear chain: every snapshot's parent is the previous one
    snaps = meta["snapshots"]
    for prev, cur in zip(snaps, snaps[1:]):
        assert cur["parent-snapshot-id"] == prev["snapshot-id"]
    # every writer's file is live exactly once (FULL paths: Spark task
    # files in different partition dirs legitimately share basenames)
    paths = [f["file_path"] for f in plan_scan(tdir)]
    assert len(paths) == len(set(paths))
    for f in files:
        assert f in paths
    # monotonic history
    log_ts = [e["timestamp-ms"] for e in meta["snapshot-log"]]
    assert log_ts == sorted(log_ts)


class TestCachingCatalog:
    """NamespaceAwareCachingCatalog parity: load-table caching with
    expire-after-write TTL; commits refresh the cache; conflicts
    invalidate it so the rebase loop reads live state."""

    def _cached(self, server, expiration=600.0, clock=None):
        from tiered_storage_for_apache_kafka_spark.sources.rest_catalog import (
            CachingCatalog,
        )

        return CachingCatalog(
            RestCatalogClient(server.base_url),
            expiration_seconds=expiration,
            clock=clock,
        )

    def test_load_hits_cache_until_ttl(self, server, table):
        from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
            commit_append,
        )

        tdir, df = table
        now = [0.0]
        cat = self._cached(server, expiration=10.0, clock=lambda: now[0])
        commit_append(tdir, df.schema, now_ms=1_000, catalog=cat)
        cat.load_table("rest_table")
        hits0 = cat.hits
        cat.load_table("rest_table")
        cat.load_table("rest_table")
        assert cat.hits == hits0 + 2
        now[0] = 11.0  # past TTL → refetch
        misses0 = cat.misses
        cat.load_table("rest_table")
        assert cat.misses == misses0 + 1

    def test_commit_refreshes_cache(self, server, table):
        from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
            commit_append,
        )

        tdir, df = table
        cat = self._cached(server)
        commit_append(tdir, df.schema, now_ms=1_000, catalog=cat)
        f2 = _clone_data_file(tdir, "cache2")
        commit_append(tdir, df.schema, now_ms=2_000, catalog=cat, files=[f2])
        # the post-commit load is served from cache AND is current
        misses0 = cat.misses
        loaded = cat.load_table("rest_table")
        assert cat.misses == misses0
        assert len(loaded["metadata"]["snapshots"]) == 2

    def test_conflict_invalidates_so_rebase_sees_live_state(self, server, table):
        from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
            commit_append,
            plan_scan,
        )
        from tiered_storage_for_apache_kafka_spark.sources.rest_catalog import (
            CachingCatalog,
        )

        tdir, df = table
        plain = RestCatalogClient(server.base_url)
        commit_append(tdir, df.schema, now_ms=1_000, catalog=plain)

        # a CACHED client that loses a race: without the conflict
        # invalidation, its retry would reload the same stale cached
        # state and spin until retries exhaust
        racing = CachingCatalog(
            RacingClient(server.base_url, tdir, df.schema, races=1)
        )
        racing.namespace = "default"
        mine = _clone_data_file(tdir, "cached-mine")
        meta = commit_append(
            tdir, df.schema, now_ms=5_000, catalog=racing, files=[mine]
        )
        assert len(meta["snapshots"]) == 3  # rival + mine both landed
        assert mine in [f["file_path"] for f in plan_scan(tdir)]

    def test_disabled_cache_bypasses(self, server, table):
        from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
            commit_append,
        )

        tdir, df = table
        cat = self._cached(server, expiration=0)
        commit_append(tdir, df.schema, now_ms=1_000, catalog=cat)
        cat.load_table("rest_table")
        cat.load_table("rest_table")
        assert cat.hits == 0


def test_configure_builds_iceberg_catalog(server, tmp_path):
    from tiered_storage_for_apache_kafka_spark.config import (
        ConfigException,
        configure,
    )
    from tiered_storage_for_apache_kafka_spark.sources.rest_catalog import (
        CachingCatalog,
    )

    cfg = {
        "storage.backend.class": "filesystem",
        "storage.root": str(tmp_path / "store"),
        "chunk.size": "1024",
        "iceberg.catalog.class": "rest",
        "iceberg.catalog.uri": server.base_url,
        "iceberg.namespace": "prod",
    }
    mgr = configure(cfg)
    assert isinstance(mgr.iceberg_catalog, CachingCatalog)
    assert mgr.iceberg_catalog.namespace == "prod"
    assert mgr.iceberg_catalog.config() == {"defaults": {}, "overrides": {}}

    uncached = configure({**cfg, "iceberg.catalog.cache.enabled": "false"})
    assert not isinstance(uncached.iceberg_catalog, CachingCatalog)

    import pytest as _pytest

    with _pytest.raises(ConfigException, match="iceberg.catalog.uri"):
        configure({k: v for k, v in cfg.items() if k != "iceberg.catalog.uri"})
    with _pytest.raises(ConfigException, match="iceberg.catalog.class"):
        configure({**cfg, "iceberg.catalog.class": "hive"})
    # no iceberg keys -> no catalog
    assert configure({
        "storage.backend.class": "filesystem",
        "storage.root": str(tmp_path / "s2"),
        "chunk.size": "1024",
    }).iceberg_catalog is None
