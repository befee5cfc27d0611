"""Deletion vectors: roaring codec + v3-style DV commits/reads.

The portable-roaring bytes are the public RoaringFormatSpec layout;
the DV plane stores them as `deletion-vector-v1` Puffin blobs located
from delete-manifest entries (referenced_data_file/content_offset/
content_size_in_bytes), and merge-on-read applies them without the
deleted positions ever materializing on the driver.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from tiered_storage_for_apache_kafka_spark.roaring import (
    _deserialize_32,
    deserialize_roaring64,
    serialize_roaring64,
)
from tiered_storage_for_apache_kafka_spark.sources.deletion_vectors import (
    DV_MAGIC,
    frame_dv_payload,
    unframe_dv_payload,
)


class TestDvFraming:
    """Iceberg v3 deletion-vector blob framing: 4B BE length of
    (magic+vector), magic D1 D3 39 64, vector, 4B BE CRC-32 of
    (magic+vector)."""

    def test_round_trip(self):
        bitmap = serialize_roaring64(np.array([1, 5, 2**40], dtype=np.uint64))
        blob = frame_dv_payload(bitmap)
        assert blob[:4] == struct.pack(">I", len(bitmap) + 4)
        assert blob[4:8] == DV_MAGIC
        assert len(blob) == len(bitmap) + 12
        assert unframe_dv_payload(blob) == bitmap

    def test_legacy_bare_payload_passes_through(self):
        bitmap = serialize_roaring64(np.array([3, 9], dtype=np.uint64))
        assert unframe_dv_payload(bitmap) == bitmap

    def test_crc_mismatch_rejected(self):
        blob = bytearray(
            frame_dv_payload(serialize_roaring64(np.array([7], dtype=np.uint64)))
        )
        blob[10] ^= 0xFF  # flip a vector byte; stored CRC now stale
        with pytest.raises(ValueError, match="CRC"):
            unframe_dv_payload(bytes(blob))

    def test_length_mismatch_rejected(self):
        blob = frame_dv_payload(serialize_roaring64(np.array([7], dtype=np.uint64)))
        with pytest.raises(ValueError, match="length"):
            unframe_dv_payload(blob + b"\x00")


class TestRoaring:
    @pytest.mark.parametrize(
        "vals",
        [
            [],
            [0],
            [0, 1, 5, 65535, 65536, 2**20],
            list(range(10_000)),  # dense key -> bitmap container
            [7, 2**40, 2**40 + 1, 2**63 - 1],  # multi-bucket 64-bit
        ],
    )
    def test_round_trip(self, vals):
        arr = np.array(vals, dtype=np.uint64)
        back = deserialize_roaring64(serialize_roaring64(arr))
        assert np.array_equal(back, np.unique(arr))

    def test_dedups_and_sorts(self):
        arr = np.array([5, 3, 5, 3, 100], dtype=np.uint64)
        assert list(deserialize_roaring64(serialize_roaring64(arr))) == [3, 5, 100]

    def test_golden_vector_single_array_container(self):
        # one 64-bit bucket (high=0), one array container (key=0) with
        # values {1, 3}: hand-built per RoaringFormatSpec
        buf = serialize_roaring64(np.array([1, 3], dtype=np.uint64))
        expect = (
            struct.pack("<Q", 1)             # 1 bucket
            + struct.pack("<I", 0)           # high 32 bits
            + struct.pack("<II", 12346, 1)   # cookie, 1 container
            + struct.pack("<HH", 0, 1)       # key 0, cardinality-1
            + struct.pack("<I", 16)          # offset of container data
            + struct.pack("<HH", 1, 3)       # array values
        )
        assert buf == expect

    def test_run_container_decode(self):
        # cookie 12347 stream with one run container [10..14] + {100}
        s = bytearray()
        s += struct.pack("<I", 12347 | (0 << 16))
        s += bytes([0b1])
        s += struct.pack("<HH", 0, 5)
        s += struct.pack("<H", 2)
        s += struct.pack("<HH", 10, 4)
        s += struct.pack("<HH", 100, 0)
        vals, used = _deserialize_32(bytes(s), 0)
        assert used == len(s)
        assert list(vals) == [10, 11, 12, 13, 14, 100]

    def test_run_container_ending_at_65535(self):
        # regression: u16 arithmetic on the run bounds wrapped the
        # arange stop to 0 under NEP-50 promotion, dropping the run —
        # external writers (Java/Rust roaring) emit runs that can end
        # at the container max
        s = bytearray()
        s += struct.pack("<I", 12347 | (0 << 16))
        s += bytes([0b1])
        s += struct.pack("<HH", 0, 7)
        s += struct.pack("<H", 2)
        s += struct.pack("<HH", 7, 1)      # run 7..8 (runs are sorted)
        s += struct.pack("<HH", 65530, 5)  # run 65530..65535
        vals, used = _deserialize_32(bytes(s), 0)
        assert used == len(s)
        assert list(vals) == [7, 8, 65530, 65531, 65532, 65533, 65534, 65535]

    def test_full_container_run(self):
        # one run covering the whole 0..65535 container
        s = bytearray()
        s += struct.pack("<I", 12347 | (0 << 16))
        s += bytes([0b1])
        s += struct.pack("<HH", 0, 0xFFFF)
        s += struct.pack("<H", 1)
        s += struct.pack("<HH", 0, 65535)
        vals, used = _deserialize_32(bytes(s), 0)
        assert used == len(s)
        assert len(vals) == 65536
        assert vals[0] == 0 and vals[-1] == 65535

    def test_trailing_bytes_rejected(self):
        buf = serialize_roaring64(np.array([1], dtype=np.uint64)) + b"x"
        with pytest.raises(ValueError, match="trailing"):
            deserialize_roaring64(buf)

    def test_bad_cookie_rejected(self):
        with pytest.raises(ValueError, match="cookie"):
            _deserialize_32(struct.pack("<II", 999, 0), 0)


@pytest.fixture()
def table(spark, tmp_path):
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        commit_append,
    )

    tdir = str(tmp_path / "dv-tbl")
    df = spark.range(0, 200).select(
        (F.col("id") % 2).cast("int").alias("partition"), F.col("id").alias("v")
    )
    df.repartition(2, "partition").write.partitionBy("partition").parquet(
        tdir, mode="append"
    )
    commit_append(tdir, df.schema, now_ms=1_000)
    return tdir


def _append_batch(spark, tdir, lo, hi, now_ms, branch=None):
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        commit_append,
    )

    df = spark.range(lo, hi).select(
        (F.col("id") % 2).cast("int").alias("partition"),
        F.col("id").alias("v"),
    )
    df.repartition(2, "partition").write.partitionBy("partition").parquet(
        tdir, mode="append"
    )
    return commit_append(tdir, df.schema, now_ms=now_ms, branch=branch)


def _values(spark, tdir, **kw):
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        read_iceberg_table,
    )

    return sorted(
        r["v"] for r in read_iceberg_table(spark, tdir, **kw).collect()
    )


class TestDeletionVectors:
    def test_commit_and_read(self, spark, table):
        from tiered_storage_for_apache_kafka_spark.sources.deletion_vectors import (
            commit_deletion_vectors,
        )

        meta = commit_deletion_vectors(spark, table, "v % 10 = 3", now_ms=2_000)
        assert _values(spark, table) == [v for v in range(200) if v % 10 != 3]
        cur = next(
            s for s in meta["snapshots"]
            if s["snapshot-id"] == meta["current-snapshot-id"]
        )
        assert cur["summary"]["operation"] == "delete"
        assert cur["summary"]["added-position-deletes"] == "20"
        assert cur["summary"]["total-position-deletes"] == "20"

    def test_manifest_entries_carry_dv_locators(self, spark, table):
        from tiered_storage_for_apache_kafka_spark.sources.deletion_vectors import (
            commit_deletion_vectors,
        )
        from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
            _load_current_metadata,
            _plan_snapshot,
        )
        from tiered_storage_for_apache_kafka_spark.sources.puffin import (
            read_puffin_blobs,
        )

        commit_deletion_vectors(spark, table, "v < 6")
        _v, meta = _load_current_metadata(table)
        cur = next(
            s for s in meta["snapshots"]
            if s["snapshot-id"] == meta["current-snapshot-id"]
        )
        _data, deletes = _plan_snapshot(cur, None)
        assert deletes and all(d["file_format"] == "PUFFIN" for d in deletes)
        for d in deletes:
            assert d["referenced_data_file"]
            blobs = read_puffin_blobs(d["file_path"])
            mine = [
                b for b in blobs
                if b["properties"]["referenced-data-file"]
                == d["referenced_data_file"]
            ]
            assert len(mine) == 1
            # blob carries the v3 framing: 4B BE length, magic, vector,
            # 4B BE CRC-32 — verified and stripped by unframe
            blob = mine[0]["payload"]
            assert blob[4:8] == DV_MAGIC
            assert int.from_bytes(blob[:4], "big") == len(blob) - 8
            positions = deserialize_roaring64(unframe_dv_payload(blob))
            assert len(positions) == d["record_count"]
            # the locator slices the blob exactly
            with open(d["file_path"], "rb") as f:
                f.seek(d["content_offset"])
                assert f.read(d["content_size_in_bytes"]) == blob

    def test_collect_guard_fails_loudly_before_gathering(self, spark, table):
        # the pre-collect estimate trips BEFORE any bitmap bytes are
        # gathered; the table is left untouched (no new snapshot)
        from tiered_storage_for_apache_kafka_spark.sources.deletion_vectors import (
            commit_deletion_vectors,
        )
        from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
            _load_current_metadata,
        )

        _v, before = _load_current_metadata(table)
        with pytest.raises(ValueError, match="split your delete predicate"):
            commit_deletion_vectors(
                spark, table, "v < 100", max_collect_bytes=64
            )
        _v, after = _load_current_metadata(table)
        assert after["current-snapshot-id"] == before["current-snapshot-id"]
        assert _values(spark, table) == list(range(200))

    def test_sequence_rule_new_appends_not_retro_deleted(self, spark, table):
        from tiered_storage_for_apache_kafka_spark.sources.deletion_vectors import (
            commit_deletion_vectors,
        )
        from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
            commit_append,
        )

        commit_deletion_vectors(spark, table, "v < 50", now_ms=2_000)
        df = spark.range(1000, 1100).select(
            (F.col("id") % 2).cast("int").alias("partition"),
            (F.col("id") - 1000).alias("v"),  # SAME v values as deleted rows
        )
        df.repartition(2, "partition").write.partitionBy("partition").parquet(
            table, mode="append"
        )
        commit_append(table, df.schema, now_ms=3_000)
        vals = _values(spark, table)
        # old rows v<50 gone; the new appends' v 0..99 all present
        assert vals == sorted(list(range(50, 200)) + list(range(100)))

    def test_second_dv_commit_unions(self, spark, table):
        from tiered_storage_for_apache_kafka_spark.sources.deletion_vectors import (
            commit_deletion_vectors,
        )

        commit_deletion_vectors(spark, table, "v < 10")
        commit_deletion_vectors(spark, table, "v >= 190")
        assert _values(spark, table) == list(range(10, 190))

    def test_rematch_skips_dv_deleted_rows(self, spark, table):
        from tiered_storage_for_apache_kafka_spark.sources.deletion_vectors import (
            commit_deletion_vectors,
            write_deletion_vectors,
        )
        from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
            commit_position_deletes,
        )

        commit_deletion_vectors(spark, table, "v < 10")
        # same predicate again: every match is already DV-deleted
        assert write_deletion_vectors(spark, table, "v < 10") == []
        # and the v2 parquet path also sees the DV-deleted view
        meta = commit_position_deletes(spark, table, "v < 12")
        assert _values(spark, table) == list(range(12, 200))
        cur = next(
            s for s in meta["snapshots"]
            if s["snapshot-id"] == meta["current-snapshot-id"]
        )
        assert cur["summary"]["added-position-deletes"] == "2"  # rows 10, 11

    def test_time_travel_sees_pre_dv_rows(self, spark, table):
        from tiered_storage_for_apache_kafka_spark.sources.deletion_vectors import (
            commit_deletion_vectors,
        )
        from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
            _load_current_metadata,
            read_iceberg_table_at,
        )

        _v, before = _load_current_metadata(table)
        pre_snap = before["current-snapshot-id"]
        commit_deletion_vectors(spark, table, "v % 2 = 0")
        old = sorted(
            r["v"]
            for r in read_iceberg_table_at(spark, table, pre_snap).collect()
        )
        assert old == list(range(200))
        assert _values(spark, table) == list(range(1, 200, 2))

    def test_supersede_single_live_dv_per_file(self, spark, table):
        # v3 rule: the second commit's DV carries the union and the
        # old entry is tombstoned — exactly one live DV per data file
        from tiered_storage_for_apache_kafka_spark.sources.deletion_vectors import (
            commit_deletion_vectors,
        )
        from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
            _plan_snapshot,
        )

        commit_deletion_vectors(spark, table, "v < 10", now_ms=2_000)
        meta = commit_deletion_vectors(spark, table, "v < 20", now_ms=3_000)
        cur = next(
            s for s in meta["snapshots"]
            if s["snapshot-id"] == meta["current-snapshot-id"]
        )
        _data, deletes = _plan_snapshot(cur, None)
        refs = [d["referenced_data_file"] for d in deletes]
        assert len(refs) == len(set(refs)), "more than one live DV per file"
        # union cardinality: 20 distinct deleted rows, not 10+20
        assert sum(d["record_count"] for d in deletes) == 20
        assert cur["summary"]["total-position-deletes"] == "20"
        assert int(cur["summary"]["removed-delete-files"]) >= 1
        assert _values(spark, table) == list(range(20, 200))

    def test_supersede_union_is_exact(self, spark, table):
        # disjoint predicates: union = old ∪ new with nothing dropped
        from tiered_storage_for_apache_kafka_spark.sources.deletion_vectors import (
            commit_deletion_vectors,
        )

        commit_deletion_vectors(spark, table, "v % 10 = 0", now_ms=2_000)
        meta = commit_deletion_vectors(spark, table, "v % 10 = 5", now_ms=3_000)
        cur = next(
            s for s in meta["snapshots"]
            if s["snapshot-id"] == meta["current-snapshot-id"]
        )
        assert cur["summary"]["total-position-deletes"] == "40"
        assert _values(spark, table) == [v for v in range(200) if v % 10 not in (0, 5)]

    def test_incremental_guard_survives_supersede(self, spark, table):
        # the superseded (tombstoned) DV entry must still trip the
        # append-only window's retraction guard at its original seq
        from tiered_storage_for_apache_kafka_spark.sources.deletion_vectors import (
            commit_deletion_vectors,
        )
        from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
            _load_current_metadata,
            plan_incremental_scan,
        )

        _v, m0 = _load_current_metadata(table)
        s1 = m0["current-snapshot-id"]
        m1 = commit_deletion_vectors(spark, table, "v < 10", now_ms=2_000)
        s2 = m1["current-snapshot-id"]
        commit_deletion_vectors(spark, table, "v < 20", now_ms=3_000)
        with pytest.raises(ValueError, match="row retraction"):
            plan_incremental_scan(table, s1, s2)

    def test_blob_snapshot_id_matches_committing_snapshot(self, spark, table):
        from tiered_storage_for_apache_kafka_spark.sources.deletion_vectors import (
            commit_deletion_vectors,
        )
        from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
            _plan_snapshot,
        )
        from tiered_storage_for_apache_kafka_spark.sources.puffin import (
            _read_puffin_entries,
        )

        meta = commit_deletion_vectors(spark, table, "v < 4")
        cur = next(
            s for s in meta["snapshots"]
            if s["snapshot-id"] == meta["current-snapshot-id"]
        )
        _data, deletes = _plan_snapshot(cur, None)
        for path in {d["file_path"] for d in deletes}:
            _entries, footer = _read_puffin_entries(path)
            for bm in footer["blobs"]:
                assert bm["snapshot-id"] == meta["current-snapshot-id"]
                assert bm["sequence-number"] == cur["sequence-number"]

    def test_rewrite_manifests_preserves_deletion_vectors(self, spark, table):
        # regression: compacting delete manifests with the base entry
        # schema stripped the DV locator fields, so every DV silently
        # stopped applying after rewrite_manifests
        from tiered_storage_for_apache_kafka_spark.sources.deletion_vectors import (
            commit_deletion_vectors,
        )
        from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
            _load_current_metadata,
            _plan_snapshot,
            rewrite_manifests,
        )

        commit_deletion_vectors(spark, table, "v < 10", now_ms=2_000)
        commit_deletion_vectors(spark, table, "v >= 190", now_ms=3_000)
        meta = rewrite_manifests(table, now_ms=4_000)
        cur = next(
            s for s in meta["snapshots"]
            if s["snapshot-id"] == meta["current-snapshot-id"]
        )
        from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
            read_avro_ocf,
        )

        _s, mfs, _m = read_avro_ocf(cur["manifest-list"])
        assert len(mfs) == 2  # one data + one delete manifest
        _data, deletes = _plan_snapshot(cur, None)
        assert deletes and all(
            d["referenced_data_file"]
            and d["content_offset"] is not None
            and d["content_size_in_bytes"] is not None
            for d in deletes
        )
        assert _values(spark, table) == list(range(10, 190))
        _v, now = _load_current_metadata(table)
        assert now["current-snapshot-id"] == meta["current-snapshot-id"]

    def test_rewrite_manifests_mixed_v2_and_dv_deletes(self, spark, table):
        # parquet position deletes and DVs compact into ONE delete
        # manifest: DV entries keep locators, v2 entries get nulls
        from tiered_storage_for_apache_kafka_spark.sources.deletion_vectors import (
            commit_deletion_vectors,
        )
        from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
            commit_position_deletes,
            rewrite_manifests,
        )

        commit_position_deletes(spark, table, "v < 5", now_ms=2_000)
        commit_deletion_vectors(spark, table, "v >= 195", now_ms=3_000)
        rewrite_manifests(table, now_ms=4_000)
        assert _values(spark, table) == list(range(5, 195))

    def test_no_match_returns_base(self, spark, table):
        from tiered_storage_for_apache_kafka_spark.sources.deletion_vectors import (
            commit_deletion_vectors,
        )
        from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
            _load_current_metadata,
        )

        _v, before = _load_current_metadata(table)
        meta = commit_deletion_vectors(spark, table, "v > 10000")
        assert meta["current-snapshot-id"] == before["current-snapshot-id"]


class TestRewriteDataFiles:
    def test_applies_deletes_and_compacts(self, spark, table):
        from tiered_storage_for_apache_kafka_spark.sources.deletion_vectors import (
            commit_deletion_vectors,
        )
        from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
            _plan_snapshot,
            commit_position_deletes,
            read_iceberg_table_at,
            rewrite_data_files,
        )

        commit_deletion_vectors(spark, table, "v < 10", now_ms=2_000)
        commit_position_deletes(spark, table, "v >= 195", now_ms=3_000)
        meta = rewrite_data_files(spark, table, now_ms=4_000)
        cur = next(
            s for s in meta["snapshots"]
            if s["snapshot-id"] == meta["current-snapshot-id"]
        )
        assert cur["summary"]["operation"] == "replace"
        assert cur["summary"]["total-position-deletes"] == "0"
        assert cur["summary"]["total-records"] == "185"
        data, deletes = _plan_snapshot(cur, None)
        assert deletes == []
        # bin-packed: one file per partition
        assert len(data) == 2
        assert all("_compacted-" in d["file_path"] for d in data)
        assert _values(spark, table) == list(range(10, 195))
        # pre-rewrite snapshots still read (old files untouched on disk)
        pre = cur["parent-snapshot-id"]
        old = sorted(
            r["v"] for r in read_iceberg_table_at(spark, table, pre).collect()
        )
        assert old == list(range(10, 195))

    def test_noop_when_already_compact(self, spark, table):
        from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
            _load_current_metadata,
            rewrite_data_files,
        )

        _v, before = _load_current_metadata(table)
        # fixture wrote with repartition(2, partition): one file per
        # partition value and no deletes -> nothing to do
        meta = rewrite_data_files(spark, table, now_ms=2_000)
        assert meta["current-snapshot-id"] == before["current-snapshot-id"]

    def test_discovery_append_ignores_compacted_dir(self, spark, table):
        from tiered_storage_for_apache_kafka_spark.sources.deletion_vectors import (
            commit_deletion_vectors,
        )
        from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
            _load_current_metadata,
            commit_append,
            rewrite_data_files,
        )

        commit_deletion_vectors(spark, table, "v < 10", now_ms=2_000)
        rewrite_data_files(spark, table, now_ms=3_000)
        _v, before = _load_current_metadata(table)
        # discovery-mode append: _compacted-* files are hidden, the
        # original partition dirs are already known -> no-op
        schema = spark.createDataFrame(
            [(0, 1)], "partition int, v long"
        ).schema
        meta = commit_append(table, schema, now_ms=4_000)
        assert meta["current-snapshot-id"] == before["current-snapshot-id"]
        assert _values(spark, table) == list(range(10, 200))

    def test_changelog_refuses_window_spanning_rewrite(self, spark, table):
        from tiered_storage_for_apache_kafka_spark.sources.deletion_vectors import (
            commit_deletion_vectors,
        )
        from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
            _load_current_metadata,
            read_iceberg_changelog,
            rewrite_data_files,
        )

        _v, m0 = _load_current_metadata(table)
        s1 = m0["current-snapshot-id"]
        commit_deletion_vectors(spark, table, "v < 10", now_ms=2_000)
        rewrite_data_files(spark, table, now_ms=3_000)
        with pytest.raises(ValueError, match="data-file rewrite"):
            read_iceberg_changelog(spark, table, s1)

    def test_incremental_window_semantics_across_rewrite(self, spark, table):
        from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
            _load_current_metadata,
            commit_append,
            read_iceberg_incremental,
            rewrite_data_files,
        )

        _v, m0 = _load_current_metadata(table)
        s1 = m0["current-snapshot-id"]
        df = spark.range(1000, 1050).select(
            (F.col("id") % 2).cast("int").alias("partition"),
            F.col("id").alias("v"),
        )
        df.repartition(2, "partition").write.partitionBy("partition").parquet(
            table, mode="append"
        )
        m1 = commit_append(table, df.schema, now_ms=2_000)
        s2 = m1["current-snapshot-id"]
        # pure compaction (no deletes): split one partition's files
        # so the rewrite is not a no-op
        m2 = rewrite_data_files(spark, table, now_ms=3_000)
        s3 = m2["current-snapshot-id"]
        assert s3 != s2
        # window before the rewrite: batch-2 rows served from the
        # tombstoned (compacted-away) originals
        got = sorted(
            r["v"] for r in read_iceberg_incremental(spark, table, s1, s2).collect()
        )
        assert got == list(range(1000, 1050))
        # window spanning the rewrite: same logical appends, the
        # rewrite itself adds nothing
        spanning = sorted(
            r["v"] for r in read_iceberg_incremental(spark, table, s1, s3).collect()
        )
        assert spanning == list(range(1000, 1050))
        # window after the rewrite: empty
        after = read_iceberg_incremental(spark, table, s2, s3).collect()
        assert after == []


class TestMaintenanceComposition:
    """Regression: maintenance ops must not destroy the tombstone
    history the incremental planner relies on (second rewrite,
    manifest compaction after a rewrite or supersede)."""

    def test_windows_survive_two_rewrites(self, spark, table):
        from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
            _load_current_metadata,
            read_iceberg_incremental,
            rewrite_data_files,
        )

        _v, m0 = _load_current_metadata(table)
        s1 = m0["current-snapshot-id"]
        m_a2 = _append_batch(spark, table, 1000, 1050, 2_000)
        s2 = m_a2["current-snapshot-id"]
        rewrite_data_files(spark, table, now_ms=3_000)  # R1
        m_b = _append_batch(spark, table, 2000, 2050, 4_000)
        s4 = m_b["current-snapshot-id"]
        m_r2 = rewrite_data_files(spark, table, now_ms=5_000)  # R2
        s5 = m_r2["current-snapshot-id"]
        assert s5 != s4
        # window before R1, queried after R2: A2 served from carried
        # tombstones (was silently lost when R2 dropped R1's tombstones)
        got = sorted(
            r["v"]
            for r in read_iceberg_incremental(spark, table, s1, s2).collect()
        )
        assert got == list(range(1000, 1050))
        # window spanning R1 (but not R2): only B is a logical append —
        # R1's compaction output must not be double-delivered
        got = sorted(
            r["v"]
            for r in read_iceberg_incremental(spark, table, s2, s4).collect()
        )
        assert got == list(range(2000, 2050))
        # window spanning both rewrites: still exactly B
        got = sorted(
            r["v"]
            for r in read_iceberg_incremental(spark, table, s2, s5).collect()
        )
        assert got == list(range(2000, 2050))
        # table contents intact throughout
        assert _values(spark, table) == (
            list(range(200)) + list(range(1000, 1050)) + list(range(2000, 2050))
        )

    def test_retraction_guard_survives_manifest_compaction(self, spark, table):
        from tiered_storage_for_apache_kafka_spark.sources.deletion_vectors import (
            commit_deletion_vectors,
        )
        from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
            _load_current_metadata,
            plan_incremental_scan,
            rewrite_manifests,
        )

        _v, m0 = _load_current_metadata(table)
        s1 = m0["current-snapshot-id"]
        m1 = commit_deletion_vectors(spark, table, "v < 10", now_ms=2_000)
        s2 = m1["current-snapshot-id"]
        commit_deletion_vectors(spark, table, "v < 20", now_ms=3_000)
        rewrite_manifests(table, now_ms=4_000)
        # the superseded DV entry (tombstoned at seq 2) must survive
        # compaction so the window still refuses
        with pytest.raises(ValueError, match="row retraction"):
            plan_incremental_scan(table, s1, s2)
        # and the table still reads correctly through the compacted
        # delete manifest (status mix, locators intact)
        assert _values(spark, table) == list(range(20, 200))

    def test_pre_rewrite_window_survives_manifest_compaction(self, spark, table):
        from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
            _load_current_metadata,
            read_iceberg_incremental,
            rewrite_data_files,
            rewrite_manifests,
        )

        _v, m0 = _load_current_metadata(table)
        s1 = m0["current-snapshot-id"]
        m_a2 = _append_batch(spark, table, 1000, 1050, 2_000)
        s2 = m_a2["current-snapshot-id"]
        rewrite_data_files(spark, table, now_ms=3_000)
        rewrite_manifests(table, now_ms=4_000)
        got = sorted(
            r["v"]
            for r in read_iceberg_incremental(spark, table, s1, s2).collect()
        )
        assert got == list(range(1000, 1050))

    def test_discovery_dedup_survives_tombstone_gc(self, spark, table):
        # regression (confirmed repro): GC'ing hive-layout data
        # tombstones at the window horizon erased the only record that
        # the still-on-disk originals were committed, so the next
        # discovery append re-committed them and duplicated every row
        from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
            commit_append,
            rewrite_data_files,
            rewrite_manifests,
        )

        _append_batch(spark, table, 1000, 1050, 2_000)
        rewrite_data_files(spark, table, now_ms=3_000)
        rewrite_manifests(table, now_ms=4_000)
        # discovery-mode append with nothing new: must be a no-op, not
        # a re-commit of the pre-rewrite hive files
        schema = spark.createDataFrame([(0, 1)], "partition int, v long").schema
        commit_append(table, schema, now_ms=5_000)
        assert _values(spark, table) == list(range(200)) + list(range(1000, 1050))
        # and a real new append still enters exactly once
        _append_batch(spark, table, 3000, 3010, 6_000)
        assert _values(spark, table) == (
            list(range(200)) + list(range(1000, 1050)) + list(range(3000, 3010))
        )

    def test_three_rewrite_chain_with_compaction(self, spark, table):
        from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
            rewrite_data_files,
            rewrite_manifests,
        )

        _append_batch(spark, table, 1000, 1050, 2_000)
        rewrite_data_files(spark, table, now_ms=3_000)
        _append_batch(spark, table, 2000, 2050, 4_000)
        rewrite_data_files(spark, table, now_ms=5_000)
        rewrite_manifests(table, now_ms=6_000)
        _append_batch(spark, table, 4000, 4050, 7_000)
        rewrite_data_files(spark, table, now_ms=8_000)
        assert _values(spark, table) == (
            list(range(200))
            + list(range(1000, 1050))
            + list(range(2000, 2050))
            + list(range(4000, 4050))
        )


class TestRemoveOrphanFiles:
    def test_crash_orphans_removed_live_files_kept(self, spark, table):
        import os

        from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
            remove_orphan_files,
        )

        # simulate a crashed writer: one unreferenced parquet in a
        # partition dir, one under a staging dir, plus a _SUCCESS marker
        orphan1 = os.path.join(table, "partition=0", "part-crashed.parquet")
        with open(orphan1, "wb") as f:
            f.write(b"not really parquet")
        os.makedirs(os.path.join(table, "_staging-crash"), exist_ok=True)
        orphan2 = os.path.join(table, "_staging-crash", "part-0.parquet")
        with open(orphan2, "wb") as f:
            f.write(b"bytes")
        marker = os.path.join(table, "partition=0", "_SUCCESS")
        open(marker, "w").close()

        dry = remove_orphan_files(table, older_than_timestamp_ms=2**62, dry_run=True)
        assert sorted(dry) == sorted([orphan1, orphan2])
        assert os.path.exists(orphan1)  # dry run touched nothing

        removed = remove_orphan_files(table, older_than_timestamp_ms=2**62)
        assert sorted(removed) == sorted([orphan1, orphan2])
        assert not os.path.exists(orphan1)
        assert not os.path.exists(os.path.join(table, "_staging-crash"))
        assert os.path.exists(marker)  # fs markers ride along
        assert _values(spark, table) == list(range(200))

    def test_recency_guard_keeps_inflight_files(self, spark, table):
        import os

        from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
            remove_orphan_files,
        )

        staged = os.path.join(table, "partition=1", "part-inflight.parquet")
        with open(staged, "wb") as f:
            f.write(b"staged ahead of commit")
        # default cutoff = now - 3 days: the fresh file survives
        assert remove_orphan_files(table) == []
        assert os.path.exists(staged)
        os.remove(staged)

    def test_expired_rewrite_originals_collected(self, spark, table):
        import os

        from tiered_storage_for_apache_kafka_spark.sources.deletion_vectors import (
            commit_deletion_vectors,
        )
        from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
            _load_current_metadata,
            _plan_snapshot,
            expire_snapshots,
            remove_orphan_files,
            rewrite_data_files,
        )

        commit_deletion_vectors(spark, table, "v < 10", now_ms=2_000)
        rewrite_data_files(spark, table, now_ms=3_000)
        # while pre-rewrite snapshots survive, the originals are live-
        # referenced there and must be kept
        assert remove_orphan_files(table, older_than_timestamp_ms=2**62) == []
        expire_snapshots(table, keep_last=1, now_ms=4_000)
        removed = remove_orphan_files(table, older_than_timestamp_ms=2**62)
        # the two original hive parquet files + the DV puffin
        assert len(removed) == 3
        assert any(p.endswith(".puffin") for p in removed)
        assert _values(spark, table) == list(range(10, 200))
        # head plan untouched: all live files still present
        _v, meta = _load_current_metadata(table)
        cur = next(
            s for s in meta["snapshots"]
            if s["snapshot-id"] == meta["current-snapshot-id"]
        )
        data, deletes = _plan_snapshot(cur, None)
        assert deletes == []
        assert all(os.path.exists(d["file_path"]) for d in data)


    def test_tag_pinned_window_keeps_tombstoned_bytes(self, spark, table):
        # a tag pinning an old `from` snapshot keeps a pre-rewrite
        # window openable — the vacuum must keep the tombstoned bytes
        # that window serves (review repro: they were collected and the
        # window crashed on FileNotFound)
        import os

        from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
            _load_current_metadata,
            create_ref,
            drop_ref,
            expire_snapshots,
            read_iceberg_incremental,
            remove_orphan_files,
            rewrite_data_files,
        )

        _v, m0 = _load_current_metadata(table)
        s1 = m0["current-snapshot-id"]
        create_ref(table, "pin", kind="tag", snapshot_id=s1, now_ms=1_500)
        _append_batch(spark, table, 1000, 1050, 2_000)
        rewrite_data_files(spark, table, now_ms=3_000)
        expire_snapshots(table, keep_last=1, now_ms=4_000)
        # the appended batch is tombstone-only now, but the (s1, head]
        # window still serves it — vacuum must keep its bytes
        assert remove_orphan_files(table, older_than_timestamp_ms=2**62) == []
        got = sorted(
            r["v"] for r in read_iceberg_incremental(spark, table, s1).collect()
        )
        assert got == list(range(1000, 1050))
        # drop the pin: the window becomes unopenable, the bytes dead
        drop_ref(table, "pin", now_ms=5_000)
        expire_snapshots(table, keep_last=1, now_ms=6_000)
        removed = remove_orphan_files(table, older_than_timestamp_ms=2**62)
        assert removed != []
        assert _values(spark, table) == list(range(200)) + list(range(1000, 1050))

    def test_crc_sidecars_removed_and_inflight_dirs_kept(self, spark, table):
        import os

        from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
            remove_orphan_files,
        )

        stage = os.path.join(table, "_staging-dead")
        os.makedirs(stage, exist_ok=True)
        orphan = os.path.join(stage, "part-0.parquet")
        with open(orphan, "wb") as f:
            f.write(b"x")
        open(os.path.join(stage, ".part-0.parquet.crc"), "w").close()
        # a concurrent writer's FRESH, still-empty staging dir
        inflight = os.path.join(table, "_staging-inflight")
        os.makedirs(inflight, exist_ok=True)

        removed = remove_orphan_files(table, older_than_timestamp_ms=2**62)
        assert removed == [orphan]
        assert not os.path.exists(stage)  # crc went with its data file
        assert os.path.isdir(inflight)  # never pruned from under a writer

class TestSortedCompaction:
    def test_sorted_compaction_tightens_bounds(self, spark, table):
        from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
            _load_current_metadata,
            _plan_snapshot,
            plan_scan,
            rewrite_data_files,
        )

        # fragment: interleaved value ranges across two batches so the
        # unsorted layout has wide per-file bounds
        _append_batch(spark, table, 1000, 1200, 2_000)
        meta = rewrite_data_files(
            spark, table, sort_by="v", max_records_per_file=50, now_ms=3_000
        )
        # the sort order is recorded and stamped on the entries
        orders = meta["sort-orders"]
        assert any(
            o["order-id"] == 1
            and o["fields"][0]["direction"] == "asc"
            for o in orders
        )
        cur = next(
            s for s in meta["snapshots"]
            if s["snapshot-id"] == meta["current-snapshot-id"]
        )
        data, _deletes = _plan_snapshot(cur, None)
        assert all(d["sort_order_id"] == 1 for d in data)
        # bounds pruning: a narrow v window opens a strict subset of
        # the sorted files
        pruned = plan_scan(table, column_bounds=("v", 0, 20))
        assert 0 < len(pruned) < len(data)
        # and a full read is unchanged
        assert _values(spark, table) == list(range(200)) + list(range(1000, 1200))

    def test_sort_order_reaches_catalog_metadata(self):
        from tiered_storage_for_apache_kafka_spark.sources.iceberg.state import (
            apply_updates,
        )

        order = {
            "order-id": 1,
            "fields": [
                {
                    "transform": "identity",
                    "source-id": 2,
                    "direction": "asc",
                    "null-order": "nulls-first",
                }
            ],
        }
        meta = {"sort-orders": [{"order-id": 0, "fields": []}]}
        out = apply_updates(
            meta, [{"action": "add-sort-order", "sort-order": order}], 1_000
        )
        assert order in out["sort-orders"]
        # idempotent on replay of the same order id
        out2 = apply_updates(
            out, [{"action": "add-sort-order", "sort-order": order}], 2_000
        )
        assert [o["order-id"] for o in out2["sort-orders"]] == [0, 1]


class TestWriteAuditPublish:
    """Branch commits + fast_forward: Iceberg's write-audit-publish."""

    def _branch_values(self, spark, tdir, name):
        from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
            read_iceberg_table_ref,
        )

        return sorted(
            r["v"]
            for r in read_iceberg_table_ref(spark, tdir, name).collect()
        )

    def test_staged_commits_invisible_until_publish(self, spark, table):
        from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
            _load_current_metadata,
            fast_forward,
        )

        _v, m0 = _load_current_metadata(table)
        log_before = len(m0["snapshot-log"])
        _append_batch(spark, table, 1000, 1050, 2_000, branch="audit")
        m1_v, m1 = _load_current_metadata(table)
        # main untouched: pointer, log, and reads
        assert m1["current-snapshot-id"] == m0["current-snapshot-id"]
        assert len(m1["snapshot-log"]) == log_before
        assert _values(spark, table) == list(range(200))
        # the branch sees the staged rows
        assert self._branch_values(spark, table, "audit") == (
            list(range(200)) + list(range(1000, 1050))
        )
        # second staged commit chains off the branch head
        _append_batch(spark, table, 2000, 2050, 3_000, branch="audit")
        assert self._branch_values(spark, table, "audit") == (
            list(range(200)) + list(range(1000, 1050)) + list(range(2000, 2050))
        )
        meta = fast_forward(table, "audit", now_ms=4_000)
        assert meta["current-snapshot-id"] == meta["refs"]["audit"]["snapshot-id"]
        assert len(meta["snapshot-log"]) == log_before + 1
        assert _values(spark, table) == (
            list(range(200)) + list(range(1000, 1050)) + list(range(2000, 2050))
        )
        # publish is idempotent
        again = fast_forward(table, "audit", now_ms=5_000)
        assert again["current-snapshot-id"] == meta["current-snapshot-id"]

    def test_branch_totals_chain_off_branch_parent(self, spark, table):
        from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
            _load_current_metadata,
        )

        _append_batch(spark, table, 1000, 1050, 2_000, branch="audit")
        _v, meta = _load_current_metadata(table)
        head = meta["refs"]["audit"]["snapshot-id"]
        snap = next(s for s in meta["snapshots"] if s["snapshot-id"] == head)
        assert snap["summary"]["total-records"] == "250"
        assert snap["parent-snapshot-id"] == meta["current-snapshot-id"]

    def test_divergent_target_refused(self, spark, table):
        from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
            fast_forward,
        )

        _append_batch(spark, table, 1000, 1050, 2_000, branch="audit")
        # main moves independently -> target no longer an ancestor
        _append_batch(spark, table, 5000, 5010, 3_000)
        with pytest.raises(ValueError, match="not an ancestor"):
            fast_forward(table, "audit", now_ms=4_000)

    def test_branch_discovery_dedups_against_all_heads(self, spark, table):
        # a file committed on main must not be re-swept into the branch
        _append_batch(spark, table, 5000, 5010, 2_000)  # main commit
        _append_batch(spark, table, 1000, 1050, 3_000, branch="audit")
        assert self._branch_values(spark, table, "audit") == (
            list(range(200)) + list(range(1000, 1050)) + list(range(5000, 5010))
        )
        # and vice versa: the staged file is not swept into main
        _append_batch(spark, table, 6000, 6010, 4_000)
        assert _values(spark, table) == (
            list(range(200)) + list(range(5000, 5010)) + list(range(6000, 6010))
        )

    def test_tag_guards(self, spark, table):
        from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
            create_ref,
            fast_forward,
        )

        create_ref(table, "release", kind="tag", now_ms=2_000)
        with pytest.raises(ValueError, match="tag"):
            _append_batch(spark, table, 1000, 1010, 3_000, branch="release")
        _append_batch(spark, table, 1000, 1050, 4_000, branch="audit")
        with pytest.raises(ValueError, match="tag"):
            fast_forward(table, "audit", target="release", now_ms=5_000)



def test_position_and_dv_planes_fuse_in_join_form(spark, table, join_form):
    """Position deletes, a newer append, then DVs, with the attach
    budget at 0: the position plane attaches its sequence numbers as a
    broadcast frame (the append is newer than the deletes), and the
    fused position/DV anti-join keeps the appended rows the position
    deletes must not touch."""
    from tiered_storage_for_apache_kafka_spark.sources.deletion_vectors import (
        commit_deletion_vectors,
    )
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        commit_position_deletes,
    )

    commit_position_deletes(spark, table, "v < 10", now_ms=2_000)
    _append_batch(spark, table, 1000, 1020, 3_000)
    commit_deletion_vectors(spark, table, "v % 10 = 5", now_ms=4_000)
    assert _values(spark, table) == [
        v for v in list(range(10, 200)) + list(range(1000, 1020))
        if v % 10 != 5
    ]
    assert join_form
