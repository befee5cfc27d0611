"""The one merge-on-read delete path (`sources/iceberg/scan.py`,
``_read_plan_with_identity``): mixed-key equality deletes read, the
per-file metadata attach picks its literal or join form by one budget
and both forms return the same rows, and a delete file live under two
scopes is refused.
"""

from __future__ import annotations

import tempfile

import pytest

from pyspark.sql import functions as F

from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
    commit_append,
    commit_equality_deletes,
    commit_position_deletes,
    convert_equality_deletes,
    read_iceberg_table,
    write_iceberg_table,
)
from tiered_storage_for_apache_kafka_spark.sources.iceberg import scan


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _has_metadata_frame(plan: str) -> bool:
    return "Generate inline" in plan


def _ids(spark, tdir) -> list[int]:
    return sorted(r["id"] for r in read_iceberg_table(spark, tdir).collect())


def _mixed_key_table(spark) -> str:
    """identity(grp) table of 12 rows with one equality delete keyed on
    ``id`` (ids 1, 2) and one keyed on ``v`` (v = 20, id 2's value
    too)."""
    tdir = tempfile.mkdtemp(prefix="mor-mixed-")
    df = spark.createDataFrame(
        [(i, i % 3, i * 10) for i in range(12)], "id bigint, grp bigint, v bigint"
    )
    write_iceberg_table(
        spark, df, tdir, now_ms=1_000,
        partition_spec=[("grp", "identity", None)],
    )
    commit_equality_deletes(
        spark, tdir,
        spark.createDataFrame([(1, 1), (2, 2)], "id bigint, grp bigint"),
        ["id"], now_ms=2_000,
    )
    commit_equality_deletes(
        spark, tdir,
        spark.createDataFrame([(20, 2)], "v bigint, grp bigint"),
        ["v"], now_ms=3_000,
    )
    return tdir


def test_mixed_key_equality_deletes_read_before_conversion(spark):
    tdir = _mixed_key_table(spark)
    expected = [0] + list(range(3, 12))
    assert _ids(spark, tdir) == expected
    convert_equality_deletes(spark, tdir)
    assert _ids(spark, tdir) == expected


def _banded_table(spark, n_files: int) -> str:
    """``n_files`` data files in ``n_files`` appends (one per commit):
    a position delete after the first, another over all of them after
    the last — so ``n_files - 1`` data files are newer than the oldest
    delete and the position plane must attach their sequence numbers."""
    tdir = tempfile.mkdtemp(prefix="mor-banded-")
    for b in range(n_files):
        df = spark.range(b * 10, b * 10 + 10).select(
            F.col("id"), (F.col("id") * 2).alias("v")
        ).coalesce(1)
        df.write.parquet(tdir, mode="append")
        commit_append(tdir, df.schema, now_ms=1_000 + 10 * b)
        if b == 0:
            commit_position_deletes(spark, tdir, "id % 4 = 1", now_ms=1_005)
    commit_position_deletes(spark, tdir, "id % 4 = 2", now_ms=5_000)
    return tdir


def test_position_plane_takes_join_form_past_budget(spark, monkeypatch):
    """The budget counts map-key comparisons: the 18 delete rows look
    up the 5 data files newer than the oldest delete, 90 comparisons.
    At a budget of 90 that attach is a map literal; one below, it
    rides a broadcast-joined frame, and the rows are those of the
    literal form."""
    n_files = 6
    tdir = _banded_table(spark, n_files)
    expected = [
        i for i in range(n_files * 10)
        if i % 4 != 2 and not (i < 10 and i % 4 == 1)
    ]
    literal = read_iceberg_table(spark, tdir)
    assert not _has_metadata_frame(_plan(literal))
    assert sorted(r["id"] for r in literal.collect()) == expected
    monkeypatch.setattr(scan, "_ATTACH_PROBES", 90)
    assert not _has_metadata_frame(_plan(read_iceberg_table(spark, tdir)))
    monkeypatch.setattr(scan, "_ATTACH_PROBES", 89)
    joined = read_iceberg_table(spark, tdir)
    assert _has_metadata_frame(_plan(joined))
    assert sorted(r["id"] for r in joined.collect()) == expected


@pytest.mark.parametrize("budget", [scan._ATTACH_PROBES, 0])
def test_delete_file_under_two_scopes_refused(spark, monkeypatch, budget):
    """A delete path carrying two (sequence, partition) scopes cannot
    be keyed by path: both attach forms refuse it at plan time."""
    monkeypatch.setattr(scan, "_ATTACH_PROBES", budget)
    spec = {"spec-id": 0, "fields": [
        {"name": "grp", "transform": "identity", "source-id": 2,
         "field-id": 1000},
    ]}
    schema = {"schema-id": 0, "type": "struct", "fields": [
        {"id": 1, "name": "id", "required": False, "type": "long"},
        {"id": 2, "name": "grp", "required": False, "type": "long"},
    ]}
    data = [{"file_path": "/t/data/a.parquet", "_seq": 1}]
    eq = [
        {"file_path": "/t/deletes/e.parquet", "_seq": 2,
         "partition": {"grp": 0}, "equality_ids": [1]},
        {"file_path": "/t/deletes/e.parquet", "_seq": 3,
         "partition": {"grp": 0}, "equality_ids": [1]},
    ]
    df = spark.createDataFrame(
        [], "id bigint, grp bigint, __iceberg_file string, __iceberg_pos bigint"
    )
    with pytest.raises(ValueError, match="live under two scopes"):
        scan._apply_eq_delete_group(
            spark, df, data, eq, ["id"], spec, schema
        )
    pos = [
        {"file_path": "/t/deletes/p.parquet", "_seq": 2},
        {"file_path": "/t/deletes/p.parquet", "_seq": 4},
    ]
    with pytest.raises(ValueError, match="live under two scopes"):
        scan._pos_delete_rows(spark, data, pos)
