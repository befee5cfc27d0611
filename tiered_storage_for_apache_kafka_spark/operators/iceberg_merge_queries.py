"""Driver queries over the MERGE INTO / CDC-upsert plane
(`sources/iceberg/merge.py`): a changelog batch — inserts, updates,
deletes, and seq-ordered conflicting ops on the same key — applied to
a bucket-partitioned Iceberg table in ONE atomic row-delta snapshot,
then scanned merge-on-read.

The oracle replays the merge RELATIONALLY over the raw `events` table
(the batch is arithmetic-derived from event_id, so the final state is
a closed-form CASE): rows surviving the delete set take their
last-writer value, inserts union in, and the per-group aggregate must
hash-match the scan of the merged Iceberg table. Structural pins ride
as constant columns: exactly one snapshot applied the whole batch
(``one_merge_snapshot``) and the retraction plane is partition-scoped
because the merge key covers the bucket source
(``deletes_partition_scoped``).

Scale shape (the reason this plane exists): the merge never reads the
target table — cost is O(batch), flat in table size, so continuous
CDC ingestion at 100 TB never pays a per-batch table scan or rewrite;
accumulated delete debt is paid by scheduled `rewrite_data_files`.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiered_storage_for_apache_kafka_spark.sources.local_df import (
    local_rows_df,
)
from tiered_storage_for_apache_kafka_spark.operators.registry import (
    query,
)
from tiered_storage_for_apache_kafka_spark.session import session_fixture
from tiered_storage_for_apache_kafka_spark.tables import load_table

N_BUCKETS = 8
INSERT_OFFSET = 10_000_000


@session_fixture
def _merged_table(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """Base table (id, grp, v=id*3) bucket[8]-partitioned by id, then
    ONE merge batch derived from event_id arithmetic:

    - ``id % 11 == 3``  -> DELETE (takes precedence);
    - else ``id % 13 == 1`` -> two conflicting updates, seq 1 (v=id*7)
      then seq 2 (v=id*9): last-writer-wins keeps id*9;
    - else ``id % 7 == 0``  -> UPDATE to v=id*5;
    - ``id % 97 == 0``  -> INSERT of the new key id+10_000_000 with
      v=id*2 (disjoint key space, same grp).

    Returns (table_dir, n_snapshots_after_merge)."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        merge_upsert,
        write_iceberg_table,
    )

    ids = load_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("id")
    )
    base = ids.select(
        "id",
        (F.col("id") % 10).cast("bigint").alias("grp"),
        (F.col("id") * 3).cast("bigint").alias("v"),
    )
    tdir = tempfile.mkdtemp(prefix="iceberg-merge-q-")
    spec = [("id_bucket", f"bucket[{N_BUCKETS}]", "id")]
    write_iceberg_table(
        spark, base, tdir, now_ms=1_000, partition_spec=spec
    )

    grp = (F.col("id") % 10).cast("bigint")
    deletes = ids.where(F.col("id") % 11 == 3).select(
        "id",
        F.lit(None).cast("bigint").alias("grp"),
        F.lit(None).cast("bigint").alias("v"),
        F.lit("d").alias("op"),
        F.lit(1).cast("bigint").alias("seq"),
    )
    conflicted = ids.where(
        (F.col("id") % 11 != 3) & (F.col("id") % 13 == 1)
    )
    seq1 = conflicted.select(
        "id", grp.alias("grp"),
        (F.col("id") * 7).cast("bigint").alias("v"),
        F.lit("u").alias("op"), F.lit(1).cast("bigint").alias("seq"),
    )
    seq2 = conflicted.select(
        "id", grp.alias("grp"),
        (F.col("id") * 9).cast("bigint").alias("v"),
        F.lit("u").alias("op"), F.lit(2).cast("bigint").alias("seq"),
    )
    updates = ids.where(
        (F.col("id") % 11 != 3)
        & (F.col("id") % 13 != 1)
        & (F.col("id") % 7 == 0)
    ).select(
        "id", grp.alias("grp"),
        (F.col("id") * 5).cast("bigint").alias("v"),
        F.lit("u").alias("op"), F.lit(1).cast("bigint").alias("seq"),
    )
    inserts = ids.where(F.col("id") % 97 == 0).select(
        (F.col("id") + INSERT_OFFSET).alias("id"),
        grp.alias("grp"),
        (F.col("id") * 2).cast("bigint").alias("v"),
        F.lit("i").alias("op"), F.lit(1).cast("bigint").alias("seq"),
    )
    batch = deletes.unionAll(seq1).unionAll(seq2).unionAll(updates)
    batch = batch.unionAll(inserts)
    meta = merge_upsert(
        spark, batch, tdir, on=["id"], op_col="op", seq_col="seq",
        partition_spec=spec, now_ms=2_000,
    )
    return tdir, len(meta["snapshots"])


@query(
    "iceberg_merge_upsert_scan",
    oracle=f"""
WITH ids AS (SELECT event_id AS id FROM events),
live AS (
  SELECT id,
         CASE WHEN id % 13 = 1 THEN id * 9
              WHEN id % 7 = 0 THEN id * 5
              ELSE id * 3 END AS v
  FROM ids WHERE id % 11 <> 3
  UNION ALL
  SELECT id + {INSERT_OFFSET}, id * 2 FROM ids WHERE id % 97 = 0
)
SELECT CAST(id % 10 AS BIGINT) AS grp,
       CAST(COUNT(*) AS BIGINT) AS n_live,
       CAST(SUM(v) AS BIGINT) AS sum_v,
       CAST(1 AS BIGINT) AS one_merge_snapshot,
       CAST(1 AS BIGINT) AS deletes_partition_scoped
FROM live
GROUP BY CAST(id % 10 AS BIGINT)
""",
)
def iceberg_merge_upsert_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (CDC upsert) as one atomic row-delta snapshot:
    deletes, last-writer-wins conflicting updates, plain updates, and
    inserts applied together; the merged table's per-group counts and
    value sums replay relationally. ``one_merge_snapshot`` pins the
    atomicity (base write + exactly one overwrite snapshot);
    ``deletes_partition_scoped`` pins that a key-covered bucket spec
    keeps the retraction plane partition-scoped (prunable at read)
    rather than table-global."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        read_iceberg_table,
        read_table_metadata,
    )

    tdir, n_snaps = _merged_table(spark, sf_dir)
    one_snapshot = 1 if n_snaps == 2 else 0
    back = read_table_metadata(tdir)
    default_sid = back["metadata"]["default-spec-id"]
    eq_sids = {
        int(m["file"]["partition_spec_id"])
        for m in back["manifests"]
        for e in m["entries"]
        if e["status"] != 2 and e["data_file"].get("content") == 2
    }
    scoped = 1 if eq_sids == {default_sid} else 0
    return (
        read_iceberg_table(spark, tdir)
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_live"),
            F.sum("v").cast("bigint").alias("sum_v"),
        )
        .select(
            "grp",
            "n_live",
            "sum_v",
            F.lit(one_snapshot).cast("bigint").alias("one_merge_snapshot"),
            F.lit(scoped).cast("bigint").alias("deletes_partition_scoped"),
        )
    )


@session_fixture
def _cdc_streamed_table(spark: SparkSession, sf_dir: str) -> tuple:
    """Three CDC micro-batches streamed through the exactly-once merge
    sink (`streaming/ingest.py::stream_cdc_to_iceberg`), one file per
    micro-batch (maxFilesPerTrigger=1, mtime-ordered):

    - b0 creates keys 0..599 (v=id*3);
    - b1 updates ids<300 to v=id*5 and deletes 300..399;
    - b2 re-updates 100..199 to v=id*9, RESURRECTS 350..359 (v=id*7,
      the insert-after-delete CDC edge), and inserts 1000..1099
      (v=id*2).

    Key set = distinct event_id % 600 (all 600 present at every sf).
    Returns (table_dir, n_snapshots, last_marker)."""
    import os
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        read_table_metadata,
    )
    from tiered_storage_for_apache_kafka_spark.streaming.ingest import (
        stream_cdc_to_iceberg,
    )

    ids = sorted(
        r[0]
        for r in load_table(spark, sf_dir, "events")
        .select((F.col("event_id") % 600).alias("id"))
        .distinct()
        .collect()
    )  # bounded: <=600 ints, the synthetic changelog's key universe

    def rows_to_table(rows):
        return pa.table(
            {
                "id": pa.array([r[0] for r in rows], pa.int64()),
                "grp": pa.array([r[1] for r in rows], pa.int64()),
                "v": pa.array([r[2] for r in rows], pa.int64()),
                "op": pa.array([r[3] for r in rows], pa.string()),
            }
        )

    b0 = [(i, i % 10, i * 3, "i") for i in ids]
    b1 = [(i, i % 10, i * 5, "u") for i in ids if i < 300] + [
        (i, None, None, "d") for i in ids if 300 <= i < 400
    ]
    b2 = (
        [(i, i % 10, i * 9, "u") for i in ids if 100 <= i < 200]
        + [(i, i % 10, i * 7, "i") for i in ids if 350 <= i < 360]
        + [(i + 1000, i % 10, (i + 1000) * 2, "i") for i in ids if i < 100]
    )
    root = tempfile.mkdtemp(prefix="cdc-stream-")
    stage = os.path.join(root, "changelog")
    os.makedirs(stage)
    t0 = _time.time() - 100
    for k, rows in enumerate((b0, b1, b2)):
        p = os.path.join(stage, f"cdc-b{k}.parquet")
        pq.write_table(rows_to_table(rows), p)
        os.utime(p, (t0 + 10 * k, t0 + 10 * k))  # batch order = mtime

    tdir = os.path.join(root, "table")
    spec = [("id_bucket", "bucket[4]", "id")]
    stream = (
        spark.readStream.format("parquet")
        .schema("id bigint, grp bigint, v bigint, op string")
        .option("maxFilesPerTrigger", 1)
        .load(stage)
    )
    q = stream_cdc_to_iceberg(
        stream, tdir, os.path.join(root, "ckpt"), on=["id"],
        op_col="op", partition_spec=spec,
    )
    q.awaitTermination()
    back = read_table_metadata(tdir)
    meta = back["metadata"]
    import hashlib as _hashlib

    app_tag = _hashlib.md5(os.path.join(root, "ckpt").encode()).hexdigest()[
        :12
    ]
    marker = int(
        (meta.get("properties") or {}).get(f"streaming.last-batch.{app_tag}")
    )
    return tdir, len(meta["snapshots"]), marker


@query(
    "streaming_cdc_upsert",
    oracle="""
WITH ids AS (SELECT DISTINCT event_id % 600 AS id FROM events),
live AS (
  SELECT id,
         CASE WHEN id < 100 THEN id * 5
              WHEN id < 200 THEN id * 9
              WHEN id < 300 THEN id * 5
              WHEN id BETWEEN 350 AND 359 THEN id * 7
              ELSE id * 3 END AS v
  FROM ids
  WHERE id NOT BETWEEN 300 AND 349 AND id NOT BETWEEN 360 AND 399
  UNION ALL
  SELECT id + 1000, (id + 1000) * 2 FROM ids WHERE id < 100
)
SELECT CAST(id % 10 AS BIGINT) AS grp,
       CAST(COUNT(*) AS BIGINT) AS n_live,
       CAST(SUM(v) AS BIGINT) AS sum_v,
       CAST(1 AS BIGINT) AS three_snapshots,
       CAST(1 AS BIGINT) AS marker_at_last_batch
FROM live
GROUP BY CAST(id % 10 AS BIGINT)
""",
)
def streaming_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC upsert, exactly-once: three changelog micro-batches
    (insert / update+delete / re-update+resurrect+insert) each become
    ONE atomic merge snapshot through the foreachBatch sink; the final
    table state replays relationally. ``three_snapshots`` pins
    one-snapshot-per-batch atomicity; ``marker_at_last_batch`` pins the
    durable replay marker (the ``streaming.last-batch`` table property)
    at the final batch id. Scale shape: per-batch cost is O(batch) —
    the table is never read or rewritten inside the sink."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        read_iceberg_table,
    )

    tdir, n_snaps, marker = _cdc_streamed_table(spark, sf_dir)
    three = 1 if n_snaps == 3 else 0
    at_last = 1 if marker == 2 else 0
    return (
        read_iceberg_table(spark, tdir)
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_live"),
            F.sum("v").cast("bigint").alias("sum_v"),
        )
        .select(
            "grp",
            "n_live",
            "sum_v",
            F.lit(three).cast("bigint").alias("three_snapshots"),
            F.lit(at_last).cast("bigint").alias("marker_at_last_batch"),
        )
    )


@session_fixture
def _merged_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The merged table's `iceberg_cdc` keyed-changelog stream, drained.

    Materialize + drop the memory sink: the drained stream is
    checkpointed executor-side and cached per session, so reruns replay
    the mirror without re-consuming the stream and the sink never pins
    rows in the driver for the session lifetime."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg_stream import (
        register_cdc,
    )
    from tiered_storage_for_apache_kafka_spark.streaming.ingest import (
        run_stream_to_memory,
    )

    tdir, _n = _merged_table(spark, sf_dir)
    register_cdc(spark)
    return run_stream_to_memory(
        spark.readStream.format("iceberg_cdc")
        .option("path", tdir)
        .load(),
        "append",
        materialize=True,
    )


@query(
    "streaming_cdc_mirror",
    oracle=f"""
WITH ids AS (SELECT event_id AS id FROM events),
live AS (
  SELECT id,
         CASE WHEN id % 13 = 1 THEN id * 9
              WHEN id % 7 = 0 THEN id * 5
              ELSE id * 3 END AS v
  FROM ids WHERE id % 11 <> 3
  UNION ALL
  SELECT id + {INSERT_OFFSET}, id * 2 FROM ids WHERE id % 97 = 0
)
SELECT CAST(id % 10 AS BIGINT) AS grp,
       CAST(COUNT(*) AS BIGINT) AS n_live,
       CAST(SUM(v) AS BIGINT) AS sum_v,
       CAST(1 AS BIGINT) AS stream_two_commits,
       CAST(1 AS BIGINT) AS has_delete_keys
FROM live
GROUP BY CAST(id % 10 AS BIGINT)
""",
)
def streaming_cdc_mirror(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-OUT: the merged table of `iceberg_merge_upsert_scan` is
    consumed through the `iceberg_cdc` keyed-changelog STREAM (one
    micro-batch plan per commit window: delete_key rows from the
    equality-delete files, insert rows from the data files, each
    stamped _commit_seq) and REPLAYED into a mirror — last insert per
    key unless a later-or-equal-seq delete follows — whose per-group
    aggregate must equal the relational merge oracle. This closes the
    CDC loop end-to-end: merge in, stream out, mirror equals source.
    Scale shape: every stream partition is ONE executor-side parquet
    read (no joins in the source); the mirror replay is one key-window
    + one broadcast-size delete join."""
    from pyspark.sql import Window

    ev = _merged_changelog(spark, sf_dir)
    two_commits = (
        1
        if ev.select("_commit_seq").distinct().count() == 2
        else 0
    )
    dels = ev.where(F.col("_change_type") == "delete_key")
    has_dels = 1 if dels.limit(1).count() > 0 else 0
    ins = ev.where(F.col("_change_type") == "insert")
    w = Window.partitionBy("id").orderBy(F.col("_commit_seq").desc())
    last_ins = (
        ins.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    # both sides derive from the same memory relation — a renamed join
    # key sidesteps the self-join reference conflict
    dseq = (
        dels.select(F.col("id").alias("__did"), "_commit_seq")
        .groupBy("__did")
        .agg(F.max("_commit_seq").alias("__dseq"))
    )
    mirror = (
        last_ins.join(
            F.broadcast(dseq), F.col("id") == F.col("__did"), "left"
        )
        .where(
            F.col("__dseq").isNull()
            | (F.col("__dseq") <= F.col("_commit_seq"))
        )
    )
    return (
        mirror.groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_live"),
            F.sum("v").cast("bigint").alias("sum_v"),
        )
        .select(
            "grp",
            "n_live",
            "sum_v",
            F.lit(two_commits).cast("bigint").alias("stream_two_commits"),
            F.lit(has_dels).cast("bigint").alias("has_delete_keys"),
        )
    )


@session_fixture
def _eqconv_table(spark: SparkSession, sf_dir: str) -> str:
    """A CDC table (two merge batches incl. a delete-then-resurrect)
    whose equality-delete plane is then CONVERTED to position deletes:

    - base: (id, grp, v=id*3), bucket[8](id);
    - batch 1: DELETE ``id % 17 == 2``, else UPDATE ``id % 5 == 0`` to
      v=id*7;
    - batch 2: RESURRECT ``id % 34 == 2`` (half the deleted keys) with
      v=id*11;
    - convert_equality_deletes.

    Separate from `_merged_table`: conversion adds a snapshot and
    retires the eq plane, which would break that fixture's pins."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        convert_equality_deletes,
        merge_upsert,
        write_iceberg_table,
    )

    ids = load_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("id")
    )
    grp = (F.col("id") % 10).cast("bigint")
    base = ids.select(
        "id", grp.alias("grp"), (F.col("id") * 3).cast("bigint").alias("v")
    )
    tdir = tempfile.mkdtemp(prefix="iceberg-eqconv-q-")
    spec = [("id_bucket", f"bucket[{N_BUCKETS}]", "id")]
    write_iceberg_table(spark, base, tdir, now_ms=1_000, partition_spec=spec)
    b1 = ids.where(F.col("id") % 17 == 2).select(
        "id", F.lit(None).cast("bigint").alias("grp"),
        F.lit(None).cast("bigint").alias("v"),
        F.lit("d").alias("op"), F.lit(1).cast("bigint").alias("seq"),
    ).unionAll(
        ids.where((F.col("id") % 17 != 2) & (F.col("id") % 5 == 0)).select(
            "id", grp.alias("grp"),
            (F.col("id") * 7).cast("bigint").alias("v"),
            F.lit("u").alias("op"), F.lit(1).cast("bigint").alias("seq"),
        )
    )
    merge_upsert(
        spark, b1, tdir, on=["id"], op_col="op", seq_col="seq",
        partition_spec=spec, now_ms=2_000,
    )
    b2 = ids.where(F.col("id") % 34 == 2).select(
        "id", grp.alias("grp"),
        (F.col("id") * 11).cast("bigint").alias("v"),
        F.lit("i").alias("op"), F.lit(1).cast("bigint").alias("seq"),
    )
    merge_upsert(
        spark, b2, tdir, on=["id"], op_col="op", seq_col="seq",
        partition_spec=spec, now_ms=3_000,
    )
    convert_equality_deletes(spark, tdir, now_ms=4_000)
    return tdir


@query(
    "iceberg_eqconv_scan",
    oracle="""
WITH ids AS (SELECT event_id AS id FROM events),
live AS (
  SELECT id,
         CASE WHEN id % 34 = 2 THEN id * 11
              WHEN id % 5 = 0 THEN id * 7
              ELSE id * 3 END AS v
  FROM ids
  WHERE id % 17 <> 2 OR id % 34 = 2
)
SELECT CAST(id % 10 AS BIGINT) AS grp,
       CAST(COUNT(*) AS BIGINT) AS n_live,
       CAST(SUM(v) AS BIGINT) AS sum_v,
       CAST(1 AS BIGINT) AS no_live_eq_files,
       CAST(1 AS BIGINT) AS counters_exact
FROM live
GROUP BY CAST(id % 10 AS BIGINT)
""",
)
def iceberg_eqconv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equality->position delete CONVERSION (the CDC table's light
    maintenance pass): after two merge batches — including the
    delete-then-resurrect edge the sequence-window rule must not
    retro-delete — `convert_equality_deletes` retires every
    equality-delete file into per-cell sorted position deletes, and
    the scan still replays relationally. ``no_live_eq_files`` pins the
    retirement structurally; ``counters_exact`` pins
    total-equality-deletes == 0 AND total-position-deletes == the
    relational count of retracted old versions. Scale shape: one
    distributed key+identity scan and tiny delete-file writes — the
    pass that bounds per-cell eq-file accumulation (one per merge
    batch otherwise) without rewriting any data."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        read_iceberg_table,
        read_table_metadata,
    )

    tdir = _eqconv_table(spark, sf_dir)
    back = read_table_metadata(tdir)
    live_eq = [
        e
        for m in back["manifests"]
        for e in m["entries"]
        if e["status"] != 2 and e["data_file"].get("content") == 2
    ]
    no_eq = 1 if not live_eq else 0
    meta = back["metadata"]
    cur = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    ids = load_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("id")
    )
    # retracted OLD versions: every id%17==2 base row + every updated
    # row's previous version (resurrections add rows, retract nothing
    # that wasn't already retracted)
    n_expected = (
        ids.where(
            (F.col("id") % 17 == 2)
            | ((F.col("id") % 17 != 2) & (F.col("id") % 5 == 0))
        ).count()
    )
    summ = cur["summary"]
    counters = (
        1
        if int(summ["total-equality-deletes"]) == 0
        and int(summ["total-position-deletes"]) == n_expected
        else 0
    )
    return (
        read_iceberg_table(spark, tdir)
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_live"),
            F.sum("v").cast("bigint").alias("sum_v"),
        )
        .select(
            "grp",
            "n_live",
            "sum_v",
            F.lit(no_eq).cast("bigint").alias("no_live_eq_files"),
            F.lit(counters).cast("bigint").alias("counters_exact"),
        )
    )


@session_fixture
def _mirrored_table(spark: SparkSession, sf_dir: str) -> str:
    """Replication fixture: a source table (keys = distinct
    event_id % 400, v=id*3, bucket[4](id)) takes two merge batches —
    update ``id % 6 == 1`` to v=id*5, then delete ``id % 6 == 3`` and
    insert keys id+5000 (v=id*2) for ``id < 50`` — and is then
    MIRRORED by `mirror_iceberg_table` into a destination laid out
    under a DIFFERENT spec (identity(grp)): re-partitioning
    replication driven purely by the source's public Iceberg
    metadata. Returns the DESTINATION dir."""
    import os

    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        merge_upsert,
        write_iceberg_table,
    )
    from tiered_storage_for_apache_kafka_spark.streaming.ingest import (
        mirror_iceberg_table,
    )

    ids = (
        load_table(spark, sf_dir, "events")
        .select((F.col("event_id") % 400).alias("id"))
        .distinct()
    )
    grp = (F.col("id") % 10).cast("bigint")
    root = tempfile.mkdtemp(prefix="iceberg-mirror-q-")
    src = os.path.join(root, "src")
    spec = [("id_bucket", "bucket[4]", "id")]
    write_iceberg_table(
        spark,
        ids.select(
            "id", grp.alias("grp"),
            (F.col("id") * 3).cast("bigint").alias("v"),
        ),
        src, now_ms=1_000, partition_spec=spec,
    )
    merge_upsert(
        spark,
        ids.where(F.col("id") % 6 == 1).select(
            "id", grp.alias("grp"),
            (F.col("id") * 5).cast("bigint").alias("v"),
            F.lit("u").alias("op"), F.lit(1).cast("bigint").alias("seq"),
        ),
        src, on=["id"], op_col="op", seq_col="seq",
        partition_spec=spec, now_ms=2_000,
    )
    b2 = ids.where(F.col("id") % 6 == 3).select(
        "id", F.lit(None).cast("bigint").alias("grp"),
        F.lit(None).cast("bigint").alias("v"),
        F.lit("d").alias("op"), F.lit(1).cast("bigint").alias("seq"),
    ).unionAll(
        ids.where(F.col("id") < 50).select(
            (F.col("id") + 5_000).alias("id"), grp.alias("grp"),
            (F.col("id") * 2).cast("bigint").alias("v"),
            F.lit("i").alias("op"), F.lit(1).cast("bigint").alias("seq"),
        )
    )
    merge_upsert(
        spark, b2, src, on=["id"], op_col="op", seq_col="seq",
        partition_spec=spec, now_ms=3_000,
    )
    dst = os.path.join(root, "dst")
    q = mirror_iceberg_table(
        spark, src, dst, on=["id"],
        checkpoint_dir=os.path.join(root, "ckpt"),
        partition_spec=[("grp", "identity", None)],
    )
    q.awaitTermination()
    return dst


@query(
    "streaming_table_mirror",
    oracle="""
WITH ids AS (SELECT DISTINCT event_id % 400 AS id FROM events),
live AS (
  SELECT id,
         CASE WHEN id % 6 = 1 THEN id * 5 ELSE id * 3 END AS v
  FROM ids WHERE id % 6 <> 3
  UNION ALL
  SELECT id + 5000, id * 2 FROM ids WHERE id < 50
)
SELECT CAST(id % 10 AS BIGINT) AS grp,
       CAST(COUNT(*) AS BIGINT) AS n_live,
       CAST(SUM(v) AS BIGINT) AS sum_v,
       CAST(1 AS BIGINT) AS repartitioned_spec
FROM live
GROUP BY CAST(id % 10 AS BIGINT)
""",
)
def streaming_table_mirror(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous table REPLICATION (`mirror_iceberg_table`): the
    source's merge history streams out through the keyed changelog
    and applies to a destination under a DIFFERENT partition spec
    (identity(grp) vs the source's bucket(id)); the mirror's per-group
    aggregate must equal the relational final state of the source's
    merge history — replication driven purely by public Iceberg
    metadata, converging exactly. ``repartitioned_spec`` pins the
    destination layout structurally. Scale shape: per-commit cost is
    O(changes) end to end — metadata-planned stream windows, O(batch)
    merges, target never scanned."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        read_iceberg_table,
        read_table_metadata,
    )

    dst = _mirrored_table(spark, sf_dir)
    stored = [
        (f["name"], f["transform"])
        for f in read_table_metadata(dst)["metadata"]["partition-specs"][0][
            "fields"
        ]
    ]
    repartitioned = 1 if stored == [("grp", "identity")] else 0
    return (
        read_iceberg_table(spark, dst)
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_live"),
            F.sum("v").cast("bigint").alias("sum_v"),
        )
        .select(
            "grp",
            "n_live",
            "sum_v",
            F.lit(repartitioned).cast("bigint").alias("repartitioned_spec"),
        )
    )


@session_fixture
def _corpus_registry_table(spark: SparkSession, sf_dir: str) -> str:
    """The training-corpus REGISTRY maintained by CDC — the curation
    use of the merge plane: a content-addressed index (doc_id,
    content_hash, lang, n_chars) over the documents corpus, kept
    current through one merge batch of a refresh cycle:

    - REVISIONS: ``doc_id % 7 == 1`` re-hash (text + '-v2') and grow
      by 5 chars;
    - TAKEDOWNS: ``doc_id % 13 == 2`` (unless revised) are removed —
      the licensing/opt-out deletion a corpus pipeline must honor;
    - NEW DOCS: ``doc_id % 31 == 3`` arrive as doc_id+1_000_000 with
      a fresh hash.

    Scale shape: the registry is the SMALL index over a huge corpus;
    refresh cost is O(changed docs) — the table itself is never
    rescanned per cycle."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        merge_upsert,
        write_iceberg_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.md5(F.col("text")).alias("content_hash"),
        "lang",
        F.col("n_chars").cast("bigint").alias("n_chars"),
    )
    tdir = tempfile.mkdtemp(prefix="iceberg-registry-")
    spec = [("doc_bucket", "bucket[4]", "doc_id")]
    write_iceberg_table(spark, base, tdir, now_ms=1_000, partition_spec=spec)
    revised = docs.where(F.col("doc_id") % 7 == 1).select(
        "doc_id",
        F.md5(F.concat(F.col("text"), F.lit("-v2"))).alias("content_hash"),
        "lang",
        (F.col("n_chars") + 5).cast("bigint").alias("n_chars"),
        F.lit("u").alias("op"),
    )
    takedowns = docs.where(
        (F.col("doc_id") % 13 == 2) & (F.col("doc_id") % 7 != 1)
    ).select(
        "doc_id",
        F.lit(None).cast("string").alias("content_hash"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("bigint").alias("n_chars"),
        F.lit("d").alias("op"),
    )
    arrivals = docs.where(F.col("doc_id") % 31 == 3).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.md5(F.concat(F.col("text"), F.lit("-new"))).alias("content_hash"),
        "lang",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.lit("i").alias("op"),
    )
    merge_upsert(
        spark, revised.unionAll(takedowns).unionAll(arrivals), tdir,
        on=["doc_id"], op_col="op", partition_spec=spec, now_ms=2_000,
    )
    return tdir


@query(
    "cdc_corpus_registry",
    oracle="""
WITH live AS (
  SELECT doc_id, lang,
         CASE WHEN doc_id % 7 = 1 THEN md5(text || '-v2')
              ELSE md5(text) END AS h,
         CASE WHEN doc_id % 7 = 1 THEN n_chars + 5
              ELSE n_chars END AS nc
  FROM documents
  WHERE NOT (doc_id % 13 = 2 AND doc_id % 7 <> 1)
  UNION ALL
  SELECT doc_id + 1000000, lang, md5(text || '-new'), n_chars
  FROM documents WHERE doc_id % 31 = 3
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(nc) AS BIGINT) AS sum_chars,
       CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct_content
FROM live
GROUP BY lang
""",
)
def cdc_corpus_registry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-corpus registry maintained by CDC (the merge plane's
    curation use case): a refresh cycle of revisions, takedowns, and
    arrivals applies as one atomic merge, and the registry's per-lang
    inventory — doc counts, char volume, DISTINCT content count (the
    exact-dedup ledger) — replays relationally over the raw corpus.
    Takedown honoring, revision tracking, and dedup accounting in one
    O(changed docs) cycle; the registry is never rescanned per
    refresh."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        read_iceberg_table,
    )

    tdir = _corpus_registry_table(spark, sf_dir)
    return (
        read_iceberg_table(spark, tdir)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.countDistinct("content_hash")
            .cast("bigint")
            .alias("n_distinct_content"),
        )
    )


@session_fixture
def _merge_evolved_table(spark: SparkSession, sf_dir: str) -> tuple:
    """Base table (id, grp, cnt INT = id % 1000) bucket[8] by id, then
    ONE schema-DRIFTED merge batch (r11 evolution plane,
    `sources/iceberg/merge.py` + `SchemaUpdate.java:17-127` /
    `SchemaUtils.java:80-84` intent):

    - ``id % 11 == 3`` -> DELETE;
    - ``id % 7 == 0``  -> UPDATE carrying BOTH legal evolutions at
      once: ``cnt`` arrives BIGINT with values past int32
      (id%1000 + 5e9 — int→long promotion) and a brand-new
      ``score = CAST(id AS DOUBLE)`` column (add-as-optional).

    The merge commits data files, equality deletes, AND the new schema
    version in ONE snapshot. Returns (table_dir, metadata)."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        merge_upsert,
        write_iceberg_table,
    )

    ids = load_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("id")
    )
    base = ids.select(
        "id",
        (F.col("id") % 10).cast("bigint").alias("grp"),
        (F.col("id") % 1000).cast("int").alias("cnt"),
    )
    tdir = tempfile.mkdtemp(prefix="iceberg-merge-evo-")
    spec = [("id_bucket", f"bucket[{N_BUCKETS}]", "id")]
    write_iceberg_table(spark, base, tdir, now_ms=1_000, partition_spec=spec)

    deletes = ids.where(F.col("id") % 11 == 3).select(
        "id",
        F.lit(None).cast("bigint").alias("grp"),
        F.lit(None).cast("bigint").alias("cnt"),
        F.lit(None).cast("double").alias("score"),
        F.lit("d").alias("op"),
    )
    updates = ids.where(
        (F.col("id") % 11 != 3) & (F.col("id") % 7 == 0)
    ).select(
        "id",
        (F.col("id") % 10).cast("bigint").alias("grp"),
        ((F.col("id") % 1000) + F.lit(5_000_000_000))
        .cast("bigint")
        .alias("cnt"),
        F.col("id").cast("double").alias("score"),
        F.lit("u").alias("op"),
    )
    meta = merge_upsert(
        spark, deletes.unionAll(updates), tdir, on=["id"], op_col="op",
        partition_spec=spec, now_ms=2_000,
    )
    return tdir, meta


@query(
    "iceberg_merge_evolution_scan",
    oracle="""
WITH ids AS (SELECT event_id AS id FROM events),
live AS (
  SELECT id,
         CASE WHEN id % 7 = 0 THEN (id % 1000) + 5000000000
              ELSE id % 1000 END AS cnt,
         CASE WHEN id % 7 = 0 THEN CAST(id AS DOUBLE) END AS score
  FROM ids WHERE id % 11 <> 3
)
SELECT CAST(id % 10 AS BIGINT) AS grp,
       CAST(COUNT(*) AS BIGINT) AS n_live,
       CAST(SUM(cnt) AS BIGINT) AS sum_cnt,
       CAST(COUNT(score) AS BIGINT) AS n_scored,
       CAST(SUM(score) AS BIGINT) AS sum_score,
       CAST(1 AS BIGINT) AS evolved_in_merge_commit
FROM live
GROUP BY CAST(id % 10 AS BIGINT)
""",
)
def iceberg_merge_evolution_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA EVOLUTION through the merge (r11): one CDC batch carries
    an int→long promotion (``cnt``) and a new optional column
    (``score``) alongside deletes and updates; the table evolves IN the
    merge snapshot, pre-evolution int32 pages up-cast at read, absent
    ``score`` reads null, and the post-evolution totals replay
    relationally. ``evolved_in_merge_commit`` pins the structure:
    exactly 2 snapshots, exactly 2 schema versions, the merge snapshot
    stamped with the NEW schema-id, ``cnt`` long and ``score`` optional
    double in the current schema. Scale shape: the normal life of a
    100 TB CDC feed — a column appearing or widening mid-stream costs
    one metadata update riding an O(batch) commit, never a table
    rewrite."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        read_iceberg_table,
    )

    tdir, meta = _merge_evolved_table(spark, sf_dir)
    schemas = meta["schemas"]
    cur = next(
        s for s in schemas if s["schema-id"] == meta["current-schema-id"]
    )
    fields = {f["name"]: f for f in cur["fields"]}
    pin = 1 if (
        len(meta["snapshots"]) == 2
        and len(schemas) == 2
        and meta["snapshots"][-1]["schema-id"] == meta["current-schema-id"]
        and fields["cnt"]["type"] == "long"
        and fields["score"]["type"] == "double"
        and fields["score"]["required"] is False
    ) else 0
    return (
        read_iceberg_table(spark, tdir)
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_live"),
            F.sum("cnt").cast("bigint").alias("sum_cnt"),
            F.count("score").cast("bigint").alias("n_scored"),
            F.sum("score").cast("bigint").alias("sum_score"),
        )
        .select(
            "grp", "n_live", "sum_cnt", "n_scored", "sum_score",
            F.lit(pin).cast("bigint").alias("evolved_in_merge_commit"),
        )
    )


@session_fixture
def _ddl_lifecycle_table(spark: SparkSession, sf_dir: str) -> tuple:
    """The explicit-DDL lifecycle (r11, `commit.update_table_schema`):
    base table (id, grp, val, aux INT) bucket[8] by id; a CDC merge
    (deletes ``id%11==3``, updates ``id%7==0`` to val=id*5, keyed on
    id) leaves live equality deletes; ``convert_equality_deletes``
    retires them (the DDL drop guard requires it — dropping a live
    eq-key column refuses); then ONE metadata-only DDL commit drops
    ``aux`` and adds optional ``score double``; a final append lands
    new rows (``id%97==0`` -> id+10M) carrying score values. Returns
    (table_dir, metadata, merge_snapshot_id)."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        convert_equality_deletes,
        merge_upsert,
        update_table_schema,
        write_iceberg_table,
    )

    ids = load_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("id")
    )
    base = ids.select(
        "id",
        (F.col("id") % 10).cast("bigint").alias("grp"),
        (F.col("id") * 3).cast("bigint").alias("val"),
        (F.col("id") % 100).cast("int").alias("aux"),
    )
    tdir = tempfile.mkdtemp(prefix="iceberg-ddl-q-")
    spec = [("id_bucket", f"bucket[{N_BUCKETS}]", "id")]
    write_iceberg_table(spark, base, tdir, now_ms=1_000, partition_spec=spec)

    deletes = ids.where(F.col("id") % 11 == 3).select(
        "id",
        F.lit(None).cast("bigint").alias("grp"),
        F.lit(None).cast("bigint").alias("val"),
        F.lit(None).cast("int").alias("aux"),
        F.lit("d").alias("op"),
    )
    updates = ids.where(
        (F.col("id") % 11 != 3) & (F.col("id") % 7 == 0)
    ).select(
        "id",
        (F.col("id") % 10).cast("bigint").alias("grp"),
        (F.col("id") * 5).cast("bigint").alias("val"),
        (F.col("id") % 100).cast("int").alias("aux"),
        F.lit("u").alias("op"),
    )
    meta = merge_upsert(
        spark, deletes.unionAll(updates), tdir, on=["id"], op_col="op",
        partition_spec=spec, now_ms=2_000,
    )
    merge_snap = meta["snapshots"][-1]["snapshot-id"]
    convert_equality_deletes(spark, tdir, now_ms=3_000)
    update_table_schema(
        tdir, drop=["aux"], add=[("score", "double")], now_ms=4_000
    )
    inserts = ids.where(F.col("id") % 97 == 0).select(
        (F.col("id") + INSERT_OFFSET).alias("id"),
        (F.col("id") % 10).cast("bigint").alias("grp"),
        (F.col("id") * 2).cast("bigint").alias("val"),
        F.col("id").cast("double").alias("score"),
    )
    meta = write_iceberg_table(
        spark, inserts, tdir, now_ms=5_000, partition_spec=spec
    )
    return tdir, meta, merge_snap


@query(
    "iceberg_schema_ddl_scan",
    oracle=f"""
WITH ids AS (SELECT event_id AS id FROM events),
live AS (
  SELECT id % 10 AS g,
         CASE WHEN id % 7 = 0 THEN id * 5 ELSE id * 3 END AS val,
         CAST(NULL AS DOUBLE) AS score
  FROM ids WHERE id % 11 <> 3
  UNION ALL
  SELECT id % 10, id * 2, CAST(id AS DOUBLE)
  FROM ids WHERE id % 97 = 0
)
SELECT CAST(g AS BIGINT) AS grp,
       CAST(COUNT(*) AS BIGINT) AS n_live,
       CAST(SUM(val) AS BIGINT) AS sum_val,
       CAST(COUNT(score) AS BIGINT) AS n_scored,
       CAST(SUM(score) AS BIGINT) AS sum_score,
       CAST(1 AS BIGINT) AS ddl_pins
FROM live
GROUP BY g
""",
)
def iceberg_schema_ddl_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPLICIT schema DDL lifecycle (r11): merge -> conversion (the
    drop guard's prerequisite) -> one metadata-only commit dropping
    ``aux`` and adding optional ``score`` -> post-DDL append. The
    current scan sees the NEW schema (aux gone, score null-padded on
    pre-DDL rows) while time travel to the merge snapshot still reads
    ``aux`` under its own schema version — ``ddl_pins`` pins both,
    plus: exactly 2 schema versions, metadata-only DDL (snapshot count
    unchanged by it), score optional. Scale shape: ALTER TABLE on a
    100 TB table is one metadata version write — zero data movement,
    with the name-resurrection and live-eq-key hazards refused at
    commit time instead of corrupting reads later."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        read_iceberg_table,
        read_iceberg_table_at,
    )

    tdir, meta, merge_snap = _ddl_lifecycle_table(spark, sf_dir)
    cur_schema = next(
        s for s in meta["schemas"]
        if s["schema-id"] == meta["current-schema-id"]
    )
    names = [f["name"] for f in cur_schema["fields"]]
    score_f = next(f for f in cur_schema["fields"] if f["name"] == "score")
    old_cols = read_iceberg_table_at(
        spark, tdir, snapshot_id=merge_snap
    ).columns
    pin = 1 if (
        len(meta["schemas"]) == 2
        and "aux" not in names
        and score_f["required"] is False
        # base + merge + conversion + append = 4 snapshots: the DDL
        # commit itself added none (metadata-only)
        and len(meta["snapshots"]) == 4
        and "aux" in old_cols  # time travel reads the snapshot's schema
    ) else 0
    return (
        read_iceberg_table(spark, tdir)
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_live"),
            F.sum("val").cast("bigint").alias("sum_val"),
            F.count("score").cast("bigint").alias("n_scored"),
            F.sum("score").cast("bigint").alias("sum_score"),
        )
        .select(
            "grp", "n_live", "sum_val", "n_scored", "sum_score",
            F.lit(pin).cast("bigint").alias("ddl_pins"),
        )
    )


@session_fixture
def _updated_table(spark: SparkSession, sf_dir: str) -> tuple:
    """Base table (id, grp, v=id*3) bucket[8] by id, then ONE
    ``update_where`` (r11, `sources/iceberg/update.py`):
    ``UPDATE SET v = v + id + 1_000_000 WHERE id % 9 = 4`` — position
    deletes retract the matched identities while the updated copies
    append, one overwrite snapshot. Returns (table_dir, metadata)."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        update_where,
        write_iceberg_table,
    )

    base = load_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("id"),
        (F.col("event_id") % 10).cast("bigint").alias("grp"),
        (F.col("event_id") * 3).cast("bigint").alias("v"),
    )
    tdir = tempfile.mkdtemp(prefix="iceberg-update-q-")
    spec = [("id_bucket", f"bucket[{N_BUCKETS}]", "id")]
    write_iceberg_table(spark, base, tdir, now_ms=1_000, partition_spec=spec)
    meta = update_where(
        spark, tdir, "id % 9 = 4", {"v": "v + id + 1000000"}, now_ms=2_000
    )
    return tdir, meta


@query(
    "iceberg_update_where_scan",
    oracle="""
WITH ids AS (SELECT event_id AS id FROM events),
live AS (
  SELECT id % 10 AS g,
         CASE WHEN id % 9 = 4 THEN id * 3 + id + 1000000
              ELSE id * 3 END AS v,
         CASE WHEN id % 9 = 4 THEN 1 ELSE 0 END AS touched
  FROM ids
)
SELECT CAST(g AS BIGINT) AS grp,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(v) AS BIGINT) AS sum_v,
       CAST(SUM(touched) AS BIGINT) AS n_updated,
       CAST(1 AS BIGINT) AS one_overwrite_snapshot
FROM live
GROUP BY g
""",
)
def iceberg_update_where_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level UPDATE (r11): ``UPDATE SET v = v + id + 1e6 WHERE
    id % 9 = 4`` as ONE merge-on-read snapshot — position deletes for
    the matched identities + data files with the updated copies; the
    post-update totals replay relationally and
    ``one_overwrite_snapshot`` pins the structure (exactly 2 snapshots;
    the update snapshot is ``overwrite`` with equal added-records and
    added-position-deletes; both a data and a delete manifest at its
    sequence number). Scale shape: an UPDATE touching p% of a 100 TB
    table costs a predicate-pruned scan plus p% rewrite — never a
    table rewrite; the merge-on-read debt ages out via scheduled
    rewrite_data_files like the other mutation planes."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        read_iceberg_table,
    )

    tdir, meta = _updated_table(spark, sf_dir)
    snap = meta["snapshots"][-1]
    summ = snap["summary"]
    pin = 1 if (
        len(meta["snapshots"]) == 2
        and summ["operation"] == "overwrite"
        and int(summ["added-records"]) == int(summ["added-position-deletes"])
        and int(summ["added-records"]) > 0
    ) else 0
    return (
        read_iceberg_table(spark, tdir)
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("v").cast("bigint").alias("sum_v"),
            F.sum(F.when(F.col("id") % 9 == 4, 1).otherwise(0))
            .cast("bigint")
            .alias("n_updated"),
        )
        .select(
            "grp", "n_rows", "sum_v", "n_updated",
            F.lit(pin).cast("bigint").alias("one_overwrite_snapshot"),
        )
    )


@session_fixture
def _rollback_table(spark: SparkSession, sf_dir: str) -> tuple:
    """Base table from events (id, grp, v=id*3), a BAD batch (every id
    shifted into a disjoint range with poisoned values), then
    ``rollback_to_snapshot`` (r11, `sources/iceberg/refs.py`) back to
    the base head, then the CORRECTED batch (id+20M, v=id*7) — the
    operational bad-commit recovery. Returns
    (table_dir, metadata, base_snapshot_id)."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        rollback_to_snapshot,
        write_iceberg_table,
    )

    ids = load_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("id")
    )
    base = ids.select(
        "id",
        (F.col("id") % 10).cast("bigint").alias("grp"),
        (F.col("id") * 3).cast("bigint").alias("v"),
    )
    tdir = tempfile.mkdtemp(prefix="iceberg-rollback-q-")
    spec = [("id_bucket", f"bucket[{N_BUCKETS}]", "id")]
    m0 = write_iceberg_table(
        spark, base, tdir, now_ms=1_000, partition_spec=spec
    )
    base_snap = m0["snapshots"][-1]["snapshot-id"]
    bad = ids.where(F.col("id") % 3 == 0).select(
        (F.col("id") + INSERT_OFFSET).alias("id"),
        (F.col("id") % 10).cast("bigint").alias("grp"),
        F.lit(-1).cast("bigint").alias("v"),  # the poisoned values
    )
    write_iceberg_table(spark, bad, tdir, now_ms=2_000, partition_spec=spec)
    rollback_to_snapshot(tdir, base_snap, now_ms=3_000)
    fixed = ids.where(F.col("id") % 3 == 0).select(
        (F.col("id") + 2 * INSERT_OFFSET).alias("id"),
        (F.col("id") % 10).cast("bigint").alias("grp"),
        (F.col("id") * 7).cast("bigint").alias("v"),
    )
    meta = write_iceberg_table(
        spark, fixed, tdir, now_ms=4_000, partition_spec=spec
    )
    return tdir, meta, base_snap


@query(
    "iceberg_rollback_scan",
    oracle="""
WITH ids AS (SELECT event_id AS id FROM events),
live AS (
  SELECT id % 10 AS g, id * 3 AS v FROM ids
  UNION ALL
  SELECT id % 10, id * 7 FROM ids WHERE id % 3 = 0
)
SELECT CAST(g AS BIGINT) AS grp,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(v) AS BIGINT) AS sum_v,
       CAST(0 AS BIGINT) AS n_poisoned,
       CAST(1 AS BIGINT) AS rollback_pins
FROM live
GROUP BY g
""",
)
def iceberg_rollback_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bad-commit recovery (r11): a poisoned append, a
    ``rollback_to_snapshot`` back to the good head, the corrected
    append — the head state equals base + corrected (ZERO poisoned
    rows survive, pinned by ``n_poisoned``) and replays relationally.
    ``rollback_pins`` pins the structure: the corrected head's parent
    is the RESTORED snapshot (the fork point, not the poisoned one),
    the rollback was metadata-only, the abandoned snapshot is still
    listed (readable by id until expiration), and the snapshot-log
    records the rollback as a TIMESTAMP AS OF event. Scale shape:
    un-committing a bad batch on a 100 TB table is one metadata
    version write — never a data operation."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        read_iceberg_table,
    )

    tdir, meta, base_snap = _rollback_table(spark, sf_dir)
    head = meta["snapshots"][-1]
    log_ids = [e["snapshot-id"] for e in meta["snapshot-log"]]
    pin = 1 if (
        head["parent-snapshot-id"] == base_snap
        and len(meta["snapshots"]) == 3  # base, abandoned, corrected
        and base_snap in log_ids[-2:]  # the rollback event is logged
    ) else 0
    df = read_iceberg_table(spark, tdir)
    return (
        df.groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("v").cast("bigint").alias("sum_v"),
            F.sum(F.when(F.col("v") < 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_poisoned"),
        )
        .select(
            "grp", "n_rows", "sum_v", "n_poisoned",
            F.lit(pin).cast("bigint").alias("rollback_pins"),
        )
    )


@session_fixture
def _replaced_table(spark: SparkSession, sf_dir: str) -> tuple:
    """events -> a grp-identity-partitioned table (grp=id%10, v=id*3),
    then ONE ``replace_partitions`` (r11) batch that touches cells
    {3, 7}: per-cell synthetic rows id+30M (3 rows into cell 3 with
    v=id*4, 2 rows into cell 7 with v=id*6, derived from id%97==0 /
    id%101==0 strides). Returns (table_dir, metadata)."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        replace_partitions,
        write_iceberg_table,
    )

    ids = load_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("id")
    )
    base = ids.select(
        "id",
        (F.col("id") % 10).cast("bigint").alias("grp"),
        (F.col("id") * 3).cast("bigint").alias("v"),
    )
    tdir = tempfile.mkdtemp(prefix="iceberg-replace-q-")
    spec = [("grp", "identity", None)]
    write_iceberg_table(spark, base, tdir, now_ms=1_000, partition_spec=spec)
    into3 = ids.where(F.col("id") % 97 == 0).select(
        (F.col("id") + 3 * INSERT_OFFSET).alias("id"),
        F.lit(3).cast("bigint").alias("grp"),
        (F.col("id") * 4).cast("bigint").alias("v"),
    )
    into7 = ids.where(F.col("id") % 101 == 0).select(
        (F.col("id") + 4 * INSERT_OFFSET).alias("id"),
        F.lit(7).cast("bigint").alias("grp"),
        (F.col("id") * 6).cast("bigint").alias("v"),
    )
    meta = replace_partitions(
        spark, into3.unionAll(into7), tdir, now_ms=2_000
    )
    return tdir, meta


@query(
    "iceberg_replace_partitions_scan",
    oracle="""
WITH ids AS (SELECT event_id AS id FROM events),
live AS (
  SELECT id % 10 AS g, id * 3 AS v FROM ids
  WHERE id % 10 NOT IN (3, 7)
  UNION ALL
  SELECT 3, id * 4 FROM ids WHERE id % 97 = 0
  UNION ALL
  SELECT 7, id * 6 FROM ids WHERE id % 101 = 0
)
SELECT CAST(g AS BIGINT) AS grp,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(v) AS BIGINT) AS sum_v,
       CAST(1 AS BIGINT) AS one_overwrite_snapshot
FROM live
GROUP BY g
""",
)
def iceberg_replace_partitions_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC PARTITION OVERWRITE (r11, `replace_partitions`): the
    batch's two touched cells are wholly replaced by its rows while
    every untouched cell survives byte-identical, all in ONE overwrite
    snapshot (pinned). Scale shape: INSERT OVERWRITE of one day's cell
    on a 100 TB table costs that cell's rows + the batch — the
    membership predicate recomputes the partition transform row-wise,
    so even pre-spec-evolution files cannot leak stale rows into a
    replaced cell."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        read_iceberg_table,
    )

    tdir, meta = _replaced_table(spark, sf_dir)
    summ = meta["snapshots"][-1]["summary"]
    pin = 1 if (
        len(meta["snapshots"]) == 2
        and summ["operation"] == "overwrite"
        and int(summ["added-position-deletes"]) > 0
    ) else 0
    return (
        read_iceberg_table(spark, tdir)
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("v").cast("bigint").alias("sum_v"),
        )
        .select(
            "grp", "n_rows", "sum_v",
            F.lit(pin).cast("bigint").alias("one_overwrite_snapshot"),
        )
    )


@session_fixture
def _renamed_table(spark: SparkSession, sf_dir: str) -> tuple:
    """Base table (id, grp, val=id*3) bucket[8] by id, then a RENAME
    lifecycle (r12, `commit.update_table_schema(rename=...)`):
    ``val`` -> ``amount`` (metadata-only), a post-rename append under
    the new name (id+OFFSET where id%97==0, amount=id*2), then a
    second rename ``amount`` -> ``amt`` — so the final scan resolves
    THREE naming epochs' files by field id under one name. Returns
    (table_dir, metadata, base_snapshot_id)."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        update_table_schema,
        write_iceberg_table,
    )

    ids = load_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("id")
    )
    base = ids.select(
        "id",
        (F.col("id") % 10).cast("bigint").alias("grp"),
        (F.col("id") * 3).cast("bigint").alias("val"),
    )
    tdir = tempfile.mkdtemp(prefix="iceberg-rename-q-")
    spec = [("id_bucket", f"bucket[{N_BUCKETS}]", "id")]
    meta = write_iceberg_table(
        spark, base, tdir, now_ms=1_000, partition_spec=spec
    )
    base_snap = meta["current-snapshot-id"]
    update_table_schema(tdir, rename={"val": "amount"}, now_ms=2_000)
    inserts = ids.where(F.col("id") % 97 == 0).select(
        (F.col("id") + INSERT_OFFSET).alias("id"),
        (F.col("id") % 10).cast("bigint").alias("grp"),
        (F.col("id") * 2).cast("bigint").alias("amount"),
    )
    write_iceberg_table(
        spark, inserts, tdir, now_ms=3_000, partition_spec=spec
    )
    meta = update_table_schema(tdir, rename={"amount": "amt"}, now_ms=4_000)
    return tdir, meta, base_snap


@query(
    "iceberg_rename_scan",
    oracle=f"""
WITH ids AS (SELECT event_id AS id FROM events),
live AS (
  SELECT id % 10 AS g, id * 3 AS amt FROM ids
  UNION ALL
  SELECT id % 10, id * 2 FROM ids WHERE id % 97 = 0
)
SELECT CAST(g AS BIGINT) AS grp,
       CAST(COUNT(*) AS BIGINT) AS n_live,
       CAST(SUM(amt) AS BIGINT) AS sum_amt,
       CAST(1 AS BIGINT) AS rename_pins
FROM live
GROUP BY g
""",
)
def iceberg_rename_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RENAME COLUMN lifecycle (r12): val -> amount -> amt across two
    metadata-only DDL commits with an append between them, scanned
    under the final name. Reads resolve each file by FIELD ID under
    its write-time naming epoch (schema.py "naming epochs"), so the
    pre-rename files (physical column ``val``, epoch 0) and the
    mid-lifecycle append (physical ``amount``, epoch 1) both serve
    ``amt`` exactly. ``rename_pins`` pins the structure: 3 schema
    versions + naming-epoch 2, renames added NO snapshot (metadata
    only), time travel to the base snapshot still reads ``val`` under
    its own schema version, the name-mapping property lists all three
    names for the field id (external readers, spec Appendix C), and
    the post-rename file carries real parquet field ids. Scale shape:
    RENAME on a 100 TB table is one metadata version write — zero
    data movement, zero file I/O; the per-epoch read adds no shuffle
    (one extra scan group per rename epoch, unioned)."""
    import json as _json

    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        read_iceberg_table,
        read_iceberg_table_at,
    )
    from tiered_storage_for_apache_kafka_spark.sources.iceberg.scan import (
        plan_scan,
    )
    from tiered_storage_for_apache_kafka_spark.sources.iceberg.schema import (
        file_naming_epoch,
    )

    tdir, meta, base_snap = _renamed_table(spark, sf_dir)
    mapping = {
        m["field-id"]: m["names"]
        for m in _json.loads(
            meta["properties"]["schema.name-mapping.default"]
        )
    }
    epochs = {file_naming_epoch(d["file_path"]) for d in plan_scan(tdir)}
    old_cols = read_iceberg_table_at(spark, tdir, base_snap).columns

    def _post_rename_has_field_ids() -> bool:
        import pyarrow.parquet as pq

        path = next(
            (
                d["file_path"]
                for d in plan_scan(tdir)
                if file_naming_epoch(d["file_path"]) == 1
            ),
            None,
        )
        if path is None:  # tiny sf: the %97 insert batch was empty
            return True
        sch = pq.read_schema(path)
        got = {
            f.name: int(f.metadata[b"PARQUET:field_id"])
            for f in sch
            if f.metadata and b"PARQUET:field_id" in f.metadata
        }
        return got.get("id") == 1 and got.get("amount") == 3

    pin = 1 if (
        len(meta["schemas"]) == 3
        and meta["properties"]["engine.naming-epoch"] == "2"
        and len(meta["snapshots"]) == 2  # renames committed no snapshot
        and mapping.get(3) == ["val", "amount", "amt"]
        # pre-rename files are epoch 0; the post-rename append (absent
        # at tiny sf if the %97 batch is empty) is epoch 1
        and 0 in epochs and epochs <= {0, 1}
        and "val" in old_cols and "amt" not in old_cols
        and _post_rename_has_field_ids()
    ) else 0
    return (
        read_iceberg_table(spark, tdir)
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_live"),
            F.sum("amt").cast("bigint").alias("sum_amt"),
        )
        .select(
            "grp", "n_live", "sum_amt",
            F.lit(pin).cast("bigint").alias("rename_pins"),
        )
    )


@session_fixture
def _nested_renamed_table(spark: SparkSession, sf_dir: str) -> tuple:
    """Base table (id, grp, env struct<src:string, v:bigint>) with
    v=id*3, then a NESTED rename lifecycle (r13,
    `commit.update_table_schema(rename={"env.v": ...})`):
    ``env.v`` -> ``amount`` (metadata-only, epoch 1), an append under
    the new nested name (id+OFFSET where id%97==0, amount=id*2), then
    a COMBINED DDL renaming the ancestor AND its leaf in one commit —
    ``env`` -> ``envelope``, ``envelope.amount`` -> ``amt`` (epoch 2;
    nested renames apply by leaf field id, so ancestor+child compose).
    Returns (table_dir, metadata)."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        update_table_schema,
        write_iceberg_table,
    )

    ids = load_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("id")
    )
    base = ids.select(
        "id",
        (F.col("id") % 10).cast("bigint").alias("grp"),
        F.struct(
            F.concat(F.lit("s"), (F.col("id") % 5)).alias("src"),
            (F.col("id") * 3).cast("bigint").alias("v"),
        ).alias("env"),
    )
    tdir = tempfile.mkdtemp(prefix="iceberg-nested-rename-q-")
    meta = write_iceberg_table(spark, base, tdir, now_ms=1_000)
    update_table_schema(tdir, rename={"env.v": "amount"}, now_ms=2_000)
    inserts = ids.where(F.col("id") % 97 == 0).select(
        (F.col("id") + INSERT_OFFSET).alias("id"),
        (F.col("id") % 10).cast("bigint").alias("grp"),
        F.struct(
            F.concat(F.lit("s"), (F.col("id") % 5)).alias("src"),
            (F.col("id") * 2).cast("bigint").alias("amount"),
        ).alias("env"),
    )
    write_iceberg_table(spark, inserts, tdir, now_ms=3_000)
    meta = update_table_schema(
        tdir,
        rename={"env": "envelope", "env.amount": "amt"},
        now_ms=4_000,
    )
    return tdir, meta


@query(
    "iceberg_nested_rename_scan",
    oracle="""
WITH ids AS (SELECT event_id AS id FROM events),
live AS (
  SELECT id % 10 AS g, 's' || CAST(id % 5 AS VARCHAR) AS src,
         id * 3 AS amt
  FROM ids
  UNION ALL
  SELECT id % 10, 's' || CAST(id % 5 AS VARCHAR), id * 2
  FROM ids WHERE id % 97 = 0
)
SELECT CAST(g AS BIGINT) AS grp,
       CAST(COUNT(*) AS BIGINT) AS n_live,
       CAST(SUM(amt) AS BIGINT) AS sum_amt,
       CAST(COUNT(DISTINCT src) AS BIGINT) AS n_src,
       CAST(1 AS BIGINT) AS nested_rename_pins
FROM live
GROUP BY g
""",
)
def iceberg_nested_rename_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NESTED rename lifecycle (r13): ``env.v`` -> ``env.amount`` ->
    (``env`` -> ``envelope``, leaf -> ``amt`` in ONE combined DDL),
    with an append mid-lifecycle, scanned under the final names. Reads
    rebuild each pre-rename file's struct column by FIELD ID under its
    write-time naming epoch (`manifests._realias_expr` — a projection,
    no shuffle), so epoch-0 files (physical ``env.v``) and the epoch-1
    append (physical ``env.amount``) both serve ``envelope.amt``
    exactly — the nested analog of real Iceberg's id-based resolution
    (`SchemaUpdate.java:17-127` in the reference's Iceberg
    dependency). ``nested_rename_pins`` pins the structure: 3 schema
    versions + naming-epoch 2 with NO snapshot added by either DDL,
    the name-mapping property recurses (Appendix C ``fields``) listing
    all three leaf names oldest-first under both ancestor names, the
    post-rename file carries real parquet field ids on NESTED struct
    children, and epoch-0 files still physically hold ``env.v``.
    Scale shape: nested RENAME on a 100 TB table is one metadata
    version write — zero data movement; the read adds one struct
    rebuild to the projection of pre-rename scan groups only."""
    import json as _json

    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        read_iceberg_table,
    )
    from tiered_storage_for_apache_kafka_spark.sources.iceberg.scan import (
        plan_scan,
    )
    from tiered_storage_for_apache_kafka_spark.sources.iceberg.schema import (
        file_naming_epoch,
    )

    tdir, meta = _nested_renamed_table(spark, sf_dir)
    mapping = _json.loads(
        meta["properties"]["schema.name-mapping.default"]
    )
    env_entry = next(
        (m for m in mapping if "env" in m.get("names", [])), {}
    )
    leaf_entry = next(
        (
            f
            for f in env_entry.get("fields", [])
            if "amt" in f.get("names", [])
        ),
        {},
    )
    epochs = {file_naming_epoch(d["file_path"]) for d in plan_scan(tdir)}

    def _nested_field_ids_stamped() -> bool:
        import pyarrow.parquet as pq

        path = next(
            (
                d["file_path"]
                for d in plan_scan(tdir)
                if file_naming_epoch(d["file_path"]) == 1
            ),
            None,
        )
        if path is None:  # tiny sf: the %97 insert batch was empty
            return True
        env_f = pq.read_schema(path).field("env")
        child_ids = {
            env_f.type.field(i).name: int(
                env_f.type.field(i).metadata[b"PARQUET:field_id"]
            )
            for i in range(env_f.type.num_fields)
            if env_f.type.field(i).metadata
            and b"PARQUET:field_id" in env_f.type.field(i).metadata
        }
        return child_ids.get("amount") == leaf_entry.get("field-id")

    def _epoch0_physically_holds_v() -> bool:
        import pyarrow.parquet as pq

        path = next(
            d["file_path"]
            for d in plan_scan(tdir)
            if file_naming_epoch(d["file_path"]) == 0
        )
        env_t = pq.read_schema(path).field("env").type
        return {env_t.field(i).name for i in range(env_t.num_fields)} == {
            "src", "v",
        }

    pin = 1 if (
        len(meta["schemas"]) == 3
        and meta["properties"]["engine.naming-epoch"] == "2"
        and len(meta["snapshots"]) == 2  # DDLs committed no snapshot
        and env_entry.get("names") == ["env", "envelope"]
        and leaf_entry.get("names") == ["v", "amount", "amt"]
        and 0 in epochs and epochs <= {0, 1}
        and _nested_field_ids_stamped()
        and _epoch0_physically_holds_v()
    ) else 0
    return (
        read_iceberg_table(spark, tdir)
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_live"),
            F.sum("envelope.amt").cast("bigint").alias("sum_amt"),
            F.countDistinct("envelope.src").cast("bigint").alias("n_src"),
        )
        .select(
            "grp", "n_live", "sum_amt", "n_src",
            F.lit(pin).cast("bigint").alias("nested_rename_pins"),
        )
    )


@session_fixture
def _post_update_mirrored(spark: SparkSession, sf_dir: str) -> tuple:
    """Replication ACROSS a row-level UPDATE (r12): source (keys =
    distinct event_id % 400, v=id*3, bucket[4](id)) takes a merge
    (id%6==1 -> v=id*5), is mirrored (checkpoint lands BEFORE the
    update), then `update_where` adds 1_000_000 to v where id%5==2
    (position deletes + updated copies in one snapshot), and the SAME
    mirror catches up INCREMENTALLY across the update window — the
    iceberg_cdc stream resolves the position deletes to keyed
    retractions via the mirror's declared mergeKeys. Returns
    (dst_dir, update_crossed_pin)."""
    import os

    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        merge_upsert,
        read_table_metadata,
        update_where,
        write_iceberg_table,
    )
    from tiered_storage_for_apache_kafka_spark.streaming.ingest import (
        mirror_iceberg_table,
    )

    ids = (
        load_table(spark, sf_dir, "events")
        .select((F.col("event_id") % 400).alias("id"))
        .distinct()
    )
    grp = (F.col("id") % 10).cast("bigint")
    root = tempfile.mkdtemp(prefix="iceberg-upd-mirror-q-")
    src, dst = os.path.join(root, "src"), os.path.join(root, "dst")
    ckpt = os.path.join(root, "ckpt")
    spec = [("id_bucket", "bucket[4]", "id")]
    write_iceberg_table(
        spark,
        ids.select(
            "id", grp.alias("grp"),
            (F.col("id") * 3).cast("bigint").alias("v"),
        ),
        src, now_ms=1_000, partition_spec=spec,
    )
    merge_upsert(
        spark,
        ids.where(F.col("id") % 6 == 1).select(
            "id", grp.alias("grp"),
            (F.col("id") * 5).cast("bigint").alias("v"),
            F.lit("u").alias("op"),
        ),
        src, on=["id"], op_col="op", partition_spec=spec, now_ms=2_000,
    )

    def catchup():
        q = mirror_iceberg_table(
            spark, src, dst, on=["id"], checkpoint_dir=ckpt,
            partition_spec=spec,
        )
        q.awaitTermination()

    catchup()  # checkpoint now BEFORE the update
    n_dst_before = len(read_table_metadata(dst)["metadata"]["snapshots"])
    meta = update_where(
        spark, src, "id % 5 = 2", {"v": "v + 1000000"}, now_ms=3_000
    )
    upd_summary = meta["snapshots"][-1]["summary"]
    catchup()  # crosses the position-delete window via keyed retractions
    n_dst_after = len(read_table_metadata(dst)["metadata"]["snapshots"])
    pin = 1 if (
        upd_summary["operation"] == "overwrite"
        and int(upd_summary["added-position-deletes"]) > 0
        # the second catch-up applied exactly ONE incremental batch —
        # convergence came from crossing the window, not re-bootstrap
        and n_dst_after == n_dst_before + 1
    ) else 0
    return dst, pin


@query(
    "iceberg_post_update_mirror",
    oracle="""
WITH ids AS (SELECT DISTINCT event_id % 400 AS id FROM events),
merged AS (
  SELECT id, CASE WHEN id % 6 = 1 THEN id * 5 ELSE id * 3 END AS v0
  FROM ids
),
updated AS (
  SELECT id,
         CASE WHEN id % 5 = 2 THEN v0 + 1000000 ELSE v0 END AS v
  FROM merged
)
SELECT CAST(id % 10 AS BIGINT) AS grp,
       CAST(COUNT(*) AS BIGINT) AS n_live,
       CAST(SUM(v) AS BIGINT) AS sum_v,
       CAST(1 AS BIGINT) AS update_crossed
FROM updated
GROUP BY CAST(id % 10 AS BIGINT)
""",
)
def iceberg_post_update_mirror(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A live mirror crossing a source `update_where` (r12): the keyed
    changelog resolves the update's position deletes to PRE-IMAGE key
    retractions (mergeKeys) and its updated copies arrive as
    same-commit inserts, so the mirror converges to the post-update
    source without re-bootstrap — one UPDATE on a mirrored 100 TB
    table costs its consumers O(matched keys), not a full re-sync.
    ``update_crossed`` pins: the update snapshot is a real
    position-delete overwrite, and the post-update catch-up applied
    exactly one incremental batch."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        read_iceberg_table,
    )

    dst, pin = _post_update_mirrored(spark, sf_dir)
    return (
        read_iceberg_table(spark, dst)
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_live"),
            F.sum("v").cast("bigint").alias("sum_v"),
        )
        .select(
            "grp", "n_live", "sum_v",
            F.lit(pin).cast("bigint").alias("update_crossed"),
        )
    )


@session_fixture
def _dv_retraction_mirrored(spark: SparkSession, sf_dir: str) -> tuple:
    """Replication ACROSS deletion-vector deletes (r13), including a
    SUPERSEDING one: source (keys = distinct event_id % 400, v=id*3,
    one base file) is mirrored (checkpoint BEFORE any delete), then —
    all inside the next catch-up window — DV-1 deletes id%7==3, the
    even half of those keys RE-INSERTS with v=id*9 (a new data file),
    and DV-2 deletes live id%11==4 rows, superseding DV-1 on the base
    file (v3 single-live-DV rule: union bitmap) while being a FIRST DV
    for the re-insert file. The catch-up resolves both to keyed
    retractions via the FRESH bitmaps (`engine-dv-delta-v1` sibling
    blob for the supersede, the ``delta: self``-stamped spec blob for
    the first DV) — emitting DV-2's union instead would wrongly
    retract the re-inserted keys, which the oracle hash would catch.
    Returns (dst_dir, pin)."""
    import os

    from tiered_storage_for_apache_kafka_spark.sources.deletion_vectors import (  # noqa: E501
        ENGINE_DV_DELTA_V1,
        commit_deletion_vectors,
    )
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        read_table_metadata,
        write_iceberg_table,
    )
    from tiered_storage_for_apache_kafka_spark.sources.puffin import (
        read_puffin_blobs,
    )
    from tiered_storage_for_apache_kafka_spark.streaming.ingest import (
        mirror_iceberg_table,
    )

    ids = (
        load_table(spark, sf_dir, "events")
        .select((F.col("event_id") % 400).alias("id"))
        .distinct()
    )
    grp = (F.col("id") % 10).cast("bigint")
    root = tempfile.mkdtemp(prefix="iceberg-dv-mirror-q-")
    src, dst = os.path.join(root, "src"), os.path.join(root, "dst")
    ckpt = os.path.join(root, "ckpt")
    write_iceberg_table(
        spark,
        ids.select(
            "id", grp.alias("grp"),
            (F.col("id") * 3).cast("bigint").alias("v"),
        ).coalesce(1),  # one base file: DV-2 must supersede DV-1 on it
        src, now_ms=1_000,
    )

    def catchup():
        q = mirror_iceberg_table(
            spark, src, dst, on=["id"], checkpoint_dir=ckpt,
        )
        q.awaitTermination()

    catchup()  # checkpoint now BEFORE any DV
    n_dst_before = len(read_table_metadata(dst)["metadata"]["snapshots"])
    commit_deletion_vectors(spark, src, "id % 7 = 3", now_ms=2_000)
    write_iceberg_table(
        spark,
        ids.where((F.col("id") % 7 == 3) & (F.col("id") % 2 == 0))
        .select(
            "id", grp.alias("grp"),
            (F.col("id") * 9).cast("bigint").alias("v"),
        ).coalesce(1),
        src, now_ms=3_000,
    )
    commit_deletion_vectors(spark, src, "id % 11 = 4", now_ms=4_000)
    catchup()  # one window crossing BOTH DVs + the re-insert
    n_dst_after = len(read_table_metadata(dst)["metadata"]["snapshots"])
    deletes_dir = os.path.join(src, "deletes")
    n_delta_blobs = sum(
        1
        for name in sorted(os.listdir(deletes_dir))
        for b in read_puffin_blobs(os.path.join(deletes_dir, name))
        if b["type"] == ENGINE_DV_DELTA_V1
    )
    pin = 1 if (
        # DV-2 really superseded DV-1 on the base file: exactly one
        # engine delta blob exists across the table's DV files
        n_delta_blobs == 1
        # the catch-up applied exactly ONE incremental batch —
        # convergence came from crossing the window, not re-bootstrap
        and n_dst_after == n_dst_before + 1
    ) else 0
    return dst, pin


@query(
    "iceberg_dv_retraction_mirror",
    oracle="""
WITH ids AS (SELECT DISTINCT event_id % 400 AS id FROM events),
final AS (
  SELECT id, id * 3 AS v FROM ids
  WHERE id % 7 <> 3 AND id % 11 <> 4
  UNION ALL
  SELECT id, id * 9 FROM ids
  WHERE id % 7 = 3 AND id % 2 = 0 AND id % 11 <> 4
)
SELECT CAST(id % 10 AS BIGINT) AS grp,
       CAST(COUNT(*) AS BIGINT) AS n_live,
       CAST(SUM(v) AS BIGINT) AS sum_v,
       CAST(1 AS BIGINT) AS dv_crossed
FROM final
GROUP BY CAST(id % 10 AS BIGINT)
""",
)
def iceberg_dv_retraction_mirror(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A live mirror crossing DELETION-VECTOR deletes (r13): the keyed
    changelog resolves each window DV to pre-image key retractions
    from its FRESH bitmap — the `engine-dv-delta-v1` sibling blob for
    a superseding DV (whose spec blob is the union with its
    predecessors and would wrongly re-retract re-inserted keys), the
    ``delta: self``-stamped spec blob for a first DV — so a v3-style
    DELETE on a mirrored 100 TB table costs its consumers O(deleted
    rows), never a re-sync, and maintenance windows no longer need
    the changelog_safe_windows hop. ``dv_crossed`` pins the
    structure: exactly one delta blob (the supersede happened) and
    exactly one incremental batch applied by the catch-up. The
    re-inserted keys (id%7==3, even, id%11!=4 → v=id*9) surviving in
    the MIRROR is the delta-soundness proof the oracle hash checks."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        read_iceberg_table,
    )

    dst, pin = _dv_retraction_mirrored(spark, sf_dir)
    return (
        read_iceberg_table(spark, dst)
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_live"),
            F.sum("v").cast("bigint").alias("sum_v"),
        )
        .select(
            "grp", "n_live", "sum_v",
            F.lit(pin).cast("bigint").alias("dv_crossed"),
        )
    )


@session_fixture
def _ref_retention_table(spark: SparkSession, sf_dir: str) -> tuple:
    """Per-ref retention fixture (r12): three appends (A, B, C=head);
    tag ``old-release`` on A with a max-ref-age that LAPSES, untimed
    tag ``fresh-release`` on B (permanent), branch ``audit`` on C with
    ``min_snapshots_to_keep=2`` (floor: head + B). One aggressive
    ``expire_snapshots(keep_last=1)`` then: the lapsed tag is removed
    and A collected; B survives twice over (permanent tag + branch
    floor); live data is untouched. Returns (table_dir, pin)."""
    import os

    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        create_ref,
        expire_snapshots,
        read_table_metadata,
        write_iceberg_table,
    )

    ids = (
        load_table(spark, sf_dir, "events")
        .select((F.col("event_id") % 400).alias("id"))
        .distinct()
    )
    grp = (F.col("id") % 10).cast("bigint")
    tdir = os.path.join(
        tempfile.mkdtemp(prefix="iceberg-ref-retention-q-"), "t"
    )
    spec = [("id_bucket", f"bucket[{N_BUCKETS}]", "id")]
    mA = write_iceberg_table(
        spark,
        ids.select(
            "id", grp.alias("grp"),
            (F.col("id") * 3).cast("bigint").alias("v"),
        ),
        tdir, now_ms=1_000, partition_spec=spec,
    )
    snap_a = mA["current-snapshot-id"]
    mB = write_iceberg_table(
        spark,
        ids.where(F.col("id") < 40).select(
            (F.col("id") + 10_000).alias("id"), grp.alias("grp"),
            (F.col("id") * 2).cast("bigint").alias("v"),
        ),
        tdir, now_ms=2_000, partition_spec=spec,
    )
    snap_b = mB["current-snapshot-id"]
    mC = write_iceberg_table(
        spark,
        ids.where(F.col("id") < 20).select(
            (F.col("id") + 20_000).alias("id"), grp.alias("grp"),
            F.col("id").cast("bigint").alias("v"),
        ),
        tdir, now_ms=3_000, partition_spec=spec,
    )
    snap_c = mC["current-snapshot-id"]
    create_ref(
        tdir, "old-release", kind="tag", snapshot_id=snap_a,
        max_ref_age_ms=1_000, now_ms=3_100,
    )
    create_ref(
        tdir, "fresh-release", kind="tag", snapshot_id=snap_b,
        now_ms=3_200,
    )
    create_ref(
        tdir, "audit", kind="branch", snapshot_id=snap_c,
        min_snapshots_to_keep=2, max_snapshot_age_ms=1, now_ms=3_300,
    )
    expire_snapshots(tdir, keep_last=1, now_ms=60_000)
    meta = read_table_metadata(tdir)["metadata"]
    refs = meta.get("refs") or {}
    live = {s["snapshot-id"] for s in meta["snapshots"]}
    pin = 1 if (
        "old-release" not in refs  # lapsed ref removed
        and snap_a not in live  # ...and its snapshot released
        and "fresh-release" in refs  # untimed tag: permanent
        and snap_b in live  # pinned by the tag AND the branch floor
        and snap_c in live
        and refs.get("audit", {}).get("min-snapshots-to-keep") == 2
    ) else 0
    return tdir, pin


@query(
    "iceberg_ref_retention_scan",
    oracle="""
WITH ids AS (SELECT DISTINCT event_id % 400 AS id FROM events),
live AS (
  SELECT id, id * 3 AS v FROM ids
  UNION ALL
  SELECT id + 10000, id * 2 FROM ids WHERE id < 40
  UNION ALL
  SELECT id + 20000, id FROM ids WHERE id < 20
)
SELECT CAST(id % 10 AS BIGINT) AS grp,
       CAST(COUNT(*) AS BIGINT) AS n_live,
       CAST(SUM(v) AS BIGINT) AS sum_v,
       CAST(1 AS BIGINT) AS retention_pins
FROM live
GROUP BY CAST(id % 10 AS BIGINT)
""",
)
def iceberg_ref_retention_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-ref retention (spec "Snapshot References", r12): a lapsed
    ``max-ref-age-ms`` tag is removed by expiration and releases its
    snapshot (a forgotten tag no longer pins data forever at 100 TB);
    an untimed tag stays permanent; a branch's
    ``min-snapshots-to-keep`` floor holds its recent ancestry through
    an aggressive age expiry. ``retention_pins`` pins all of it
    structurally; the aggregate pins that expiration touched only
    HISTORY — the live row set is byte-identical. Scale shape:
    expiration remains one metadata walk + unreferenced-file deletes,
    now with bounded-by-declaration ref ancestry instead of
    keep-everything."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        read_iceberg_table,
    )

    tdir, pin = _ref_retention_table(spark, sf_dir)
    return (
        read_iceberg_table(spark, tdir)
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_live"),
            F.sum("v").cast("bigint").alias("sum_v"),
        )
        .select(
            "grp", "n_live", "sum_v",
            F.lit(pin).cast("bigint").alias("retention_pins"),
        )
    )


_NDV_K = 256
_NDV_SPACE = 1 << 40


@session_fixture
def _ndv_stats_table(spark: SparkSession, sf_dir: str) -> tuple:
    """Statistics fixture (r12): table (id = distinct event_id,
    grp = id % 23), `compute_ndv_stats` on both columns with K=256 —
    ``grp`` exercises the exact path (< K distinct), ``id`` the
    bottom-k estimator. Returns (per-column ndv estimates read back
    from the PUFFIN BLOBS, pin)."""
    import json as _json
    import os

    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        compute_ndv_stats,
        write_iceberg_table,
    )
    from tiered_storage_for_apache_kafka_spark.sources.puffin import (
        read_puffin_blobs,
    )

    ids = (
        load_table(spark, sf_dir, "events")
        .select(F.col("event_id").alias("id"))
        .distinct()
    )
    tdir = os.path.join(tempfile.mkdtemp(prefix="iceberg-ndv-q-"), "t")
    write_iceberg_table(
        spark,
        ids.select("id", (F.col("id") % 23).cast("bigint").alias("grp")),
        tdir, now_ms=1_000,
    )
    meta = compute_ndv_stats(
        spark, tdir, ["id", "grp"], k=_NDV_K, now_ms=2_000
    )
    snap = meta["current-snapshot-id"]
    entry = next(
        st for st in meta["statistics"] if st["snapshot-id"] == snap
    )
    blobs = read_puffin_blobs(entry["statistics-path"])
    ndv_blobs = {
        b["properties"]["column"]: b
        for b in blobs
        if b["type"] == "engine-kmv-ndv-v1"
    }
    payloads = {
        c: _json.loads(b["payload"]) for c, b in ndv_blobs.items()
    }
    schema_ids = {
        f["name"]: f["id"]
        for s in meta["schemas"]
        for f in s["fields"]
        if s["schema-id"] == meta["current-schema-id"]
    }
    pin = 1 if (
        set(ndv_blobs) == {"id", "grp"}
        # blobs carry the column's FIELD ID and the sorted mergeable
        # bottom-k hash payload
        and ndv_blobs["id"]["fields"] == [schema_ids["id"]]
        and ndv_blobs["grp"]["fields"] == [schema_ids["grp"]]
        and all(
            p["k"] == _NDV_K
            and p["hashes"] == sorted(p["hashes"])
            and len(p["hashes"]) <= _NDV_K
            for p in payloads.values()
        )
        # the commit path's file-list blob survived the re-pack
        and any(b["type"].endswith("file-list") for b in blobs)
    ) else 0
    return (
        {c: int(b["properties"]["ndv"]) for c, b in ndv_blobs.items()},
        pin,
    )


def _ndv_oracle() -> str:
    from tiered_storage_for_apache_kafka_spark.operators.curation import (
        _hex40_expr,
    )

    u = _hex40_expr("md5(sval)", "strpos")
    return f"""
WITH ids AS (SELECT DISTINCT event_id AS id FROM events),
vals AS (
  SELECT 'id' AS col, CAST(id AS VARCHAR) AS sval FROM ids
  UNION ALL
  SELECT 'grp', CAST(id % 23 AS VARCHAR) FROM ids
),
u AS (SELECT DISTINCT col, {u} AS u FROM vals),
rk AS (
  SELECT col, u, ROW_NUMBER() OVER (PARTITION BY col ORDER BY u) AS r,
         COUNT(*) OVER (PARTITION BY col) AS n
  FROM u
)
SELECT col AS column_name,
       CAST(
         CASE WHEN MAX(n) < {_NDV_K} THEN MAX(n)
              ELSE ({_NDV_K - 1} * {_NDV_SPACE})
                   // MAX(CASE WHEN r = {_NDV_K} THEN u END)
         END AS BIGINT
       ) AS ndv,
       CAST(1 AS BIGINT) AS stats_pins
FROM rk
GROUP BY col
"""


@query("iceberg_ndv_stats", oracle=_ndv_oracle())
def iceberg_ndv_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column NDV table statistics (r12,
    `maintenance.compute_ndv_stats` — Iceberg's `compute_table_stats`
    surface): deterministic KMV bottom-k sketches written as PUFFIN
    blobs (`engine-kmv-ndv-v1`, fields=[field id], mergeable sorted
    bottom-k payload, `ndv` property) and registered in the table's
    ``statistics`` list for the current snapshot, preserving the
    commit path's file-list blob. The query reads the estimates BACK
    FROM THE BLOBS; the oracle replays the sketch bit-for-bit (md5
    order statistics + integer estimator), so the hash match proves
    the whole plane: compute -> Puffin round-trip -> registration.
    Scale shape: one distinct-shuffle + TakeOrdered(K) per column at
    stats time buys an O(K) mergeable summary any planner can read
    without scanning — the 100 TB answer to COUNT(DISTINCT) in cost
    estimation."""
    ests, pin = _ndv_stats_table(spark, sf_dir)
    rows = [(c, int(v), pin) for c, v in sorted(ests.items())]
    return local_rows_df(
        spark,
        rows, "column_name string, ndv bigint, stats_pins bigint"
    )
