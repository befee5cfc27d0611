"""Round-14 hardening: the `_dirs_if_complete` TOCTOU guard, the
shared-cache durability modes, and SQL NULL semantics in the
char-diversity Arrow map."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def table(spark, tmp_path):
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        commit_append,
    )
    from tiered_storage_for_apache_kafka_spark.sources.table_mode import (
        write_table,
    )

    df = (
        spark.range(200)
        .select(
            (F.col("id") % 4).cast("int").alias("partition"),
            F.struct(
                (F.col("id") % 4).cast("int").alias("partition"),
                F.col("id").alias("offset"),
                (F.col("id") * 1000).alias("timestamp_us"),
                (F.col("id") - F.col("id") % 50).alias("batch_base_offset"),
                F.lit(0).cast("long").alias("batch_byte_offset"),
                F.lit("seg-0").alias("segment_uuid"),
            ).alias("kafka"),
            F.array()
            .cast("array<struct<key:string,value:binary>>")
            .alias("headers"),
            F.encode(F.col("id").cast("string"), "UTF-8").alias("key"),
            F.encode(F.col("id").cast("string"), "UTF-8").alias("value"),
        )
        .repartition(4, "partition")
    )
    tdir = str(tmp_path / "ice_table")
    write_table(df, tdir)
    commit_append(tdir, df.schema)
    return tdir, df


class TestDirsIfCompleteRace:
    def test_foreign_file_between_check_and_read_falls_back(
        self, spark, table, monkeypatch
    ):
        """A concurrent writer dropping a parquet file into a planned
        directory AFTER the listdir completeness check must not widen
        the scan: the inputFiles guard detects the mismatch and the
        read falls back to the explicit planned list."""
        from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
            read_iceberg_table,
        )
        from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
            manifests as M,
        )

        tdir, df = table
        n_before = read_iceberg_table(spark, tdir).count()
        assert n_before == 200

        real = M._dirs_if_complete

        def race(paths):
            dirs = real(paths)
            if dirs:
                # the "concurrent writer": lands after the check, before
                # Spark lists the directory
                extra = df.sparkSession.range(1).select(
                    F.lit(7).cast("int").alias("partition"),
                )
                pdir = dirs[0]
                import pyarrow as pa
                import pyarrow.parquet as pq

                pq.write_table(
                    pa.table({"partition": pa.array([7], type=pa.int32())}),
                    os.path.join(pdir, "zz-foreign-row.parquet"),
                )
                assert extra is not None
            return dirs

        monkeypatch.setattr(M, "_dirs_if_complete", race)
        # snapshot isolation holds: the foreign file's row is invisible
        assert read_iceberg_table(spark, tdir).count() == 200

    def test_input_files_match_normalizes_uris(self, spark, tmp_path):
        from tiered_storage_for_apache_kafka_spark.sources.iceberg.manifests import (  # noqa: E501
            _input_files_match,
        )

        p = str(tmp_path / "dir with space" / "a.parquet")
        os.makedirs(os.path.dirname(p))
        spark.range(3).coalesce(1).write.parquet(str(tmp_path / "tmp_out"))
        import glob
        import shutil

        src = glob.glob(str(tmp_path / "tmp_out" / "*.parquet"))[0]
        shutil.copy(src, p)
        df = spark.read.parquet(os.path.dirname(p))
        assert _input_files_match(df, [p])
        assert not _input_files_match(df, [p + ".other"])


class TestSharedCacheModes:
    @pytest.mark.parametrize("mode", ["persist", "checkpoint"])
    def test_non_default_modes_materialize(self, spark, monkeypatch, mode):
        from tiered_storage_for_apache_kafka_spark.operators.registry import (
            lineage_cut,
        )

        monkeypatch.setenv("SPARK_GRAFT_SHARED_CACHE_MODE", mode)
        df = lineage_cut(spark.range(100).select((F.col("id") * 2).alias("v")))
        assert df.count() == 100
        assert df.agg(F.sum("v")).collect()[0][0] == 9900

    def test_persist_mode_runs_upstream_once(self, spark, monkeypatch):
        """``persist`` materializes before returning, like the
        checkpoint modes: the upstream runs once, inside lineage_cut,
        and two consumers acting afterwards read the stored blocks."""
        from pyspark.sql.types import LongType

        from tiered_storage_for_apache_kafka_spark.operators.registry import (
            lineage_cut,
        )

        monkeypatch.setenv("SPARK_GRAFT_SHARED_CACHE_MODE", "persist")
        runs = spark.sparkContext.accumulator(0)

        @F.udf(LongType())
        def counted(x):
            runs.add(1)
            return x * 2

        df = lineage_cut(spark.range(100).select(counted("id").alias("v")))
        try:
            assert runs.value == 100
            assert df.count() == 100
            assert df.agg(F.sum("v")).collect()[0][0] == 9900
            assert runs.value == 100
        finally:
            df.unpersist()

    def test_checkpoint_mode_refuses_driver_temp_dir_off_local(
        self, monkeypatch
    ):
        """On a cluster master a temp dir on the driver is unreachable
        from the executors: with no checkpoint dir set, raise."""
        from types import SimpleNamespace

        from tiered_storage_for_apache_kafka_spark.operators.registry import (
            lineage_cut,
        )

        monkeypatch.setenv("SPARK_GRAFT_SHARED_CACHE_MODE", "checkpoint")
        set_dirs = []
        sc = SimpleNamespace(
            master="spark://h:7077",
            getCheckpointDir=lambda: None,
            setCheckpointDir=set_dirs.append,
        )
        frame = SimpleNamespace(sparkSession=SimpleNamespace(sparkContext=sc))
        with pytest.raises(ValueError, match="setCheckpointDir"):
            lineage_cut(frame)
        assert set_dirs == []

    def test_unknown_mode_raises(self, spark, monkeypatch):
        from tiered_storage_for_apache_kafka_spark.operators.registry import (
            lineage_cut,
        )

        monkeypatch.setenv("SPARK_GRAFT_SHARED_CACHE_MODE", "bogus")
        with pytest.raises(ValueError, match="SPARK_GRAFT_SHARED_CACHE_MODE"):
            lineage_cut(spark.range(1))


class TestCharDiversityNullText:
    def test_null_text_scores_null_like_sql(self, spark, tmp_path):
        """A NULL text row contributes to n_docs but NOT to
        sum/min/max — matching the DuckDB oracle's NULL propagation."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from tiered_storage_for_apache_kafka_spark.operators.text_extra import (  # noqa: E501
            char_diversity_quality,
        )

        sf_dir = str(tmp_path)
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([1, 2, 3], type=pa.int64()),
                    "source": pa.array(["s", "s", "s"]),
                    "lang": pa.array(["en", "en", "en"]),
                    "text": pa.array(["aabb", None, "zzzz"]),
                }
            ),
            os.path.join(sf_dir, "documents.parquet"),
        )
        rows = char_diversity_quality(spark, sf_dir).collect()
        assert len(rows) == 1
        r = rows[0]
        assert r["n_docs"] == 3
        # 'aabb': n=4, counts a=2,b=2 -> 1 - (4+4)/16 = 0.5 -> 500000
        # 'zzzz': n=4, single class -> 0; NULL excluded from min/max/sum
        assert r["min_simpson_e6"] == 0
        assert r["max_simpson_e6"] == 500000
        assert r["sum_simpson_e6"] == 500000
