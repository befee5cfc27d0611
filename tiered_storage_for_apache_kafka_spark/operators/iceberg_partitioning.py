"""Driver queries over Iceberg PARTITION TRANSFORMS (spec "Partition
Transforms"): day(ts)-partitioned and bucket[N]-partitioned tables,
committed through the engine's metadata plane and scanned with
transform-aware pruning (a predicate on the SOURCE column mapped into
partition space). Real Iceberg tables overwhelmingly partition by a
temporal transform or a bucket — identity specs are the exception —
so this is first-class interop surface, not an extra.

The day query's oracle replays the day arithmetic relationally; the
bucket query pins routing rather than the hash (Murmur3 is not
SQL-expressible — the hash itself is pinned to the spec's published
test vectors in `tests/test_iceberg_transforms.py`): each probe id's
scan opens exactly the one bucket that id lives in, and still finds
exactly that id's rows.
"""

from __future__ import annotations

import json
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

MICROS_PER_DAY = 86_400_000_000
N_DAYS = 32  # fixture folds event_ids onto 32 distinct days at every sf
N_BUCKETS = 4


def _parallel_probe_rows(fn, items, max_workers: int = 8) -> list:
    """Run independent per-probe closures (each: metadata plan_scan +
    one pruned count job) from a driver thread pool instead of a
    sequential loop — guide §2.6: actions are only sequential because
    driver code calls them sequentially. Every probe performs exactly
    the computation it did serially (same pruned reads, same counts);
    the pool overlaps the per-probe py4j round-trips and lets later
    probes' tasks back-fill executors freed by earlier probes' tails.
    Results come back in input order (pool.map), so output rows are
    byte-identical to the serial loop. Measured sf0.1 local[32]:
    the 8-probe bucket scan's probe block 1.6 s -> 0.33 s."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=max_workers) as pool:
        return list(pool.map(fn, items))


@session_fixture
def _day_table(spark: SparkSession, sf_dir: str) -> str:
    """events -> a day(ts_us)-partitioned Iceberg table: synthetic
    timestamps put event_id on day ``event_id % N_DAYS`` (deterministic at
    every sf), one parquet file per day dir."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        commit_append,
        transform_column,
    )

    df = (
        load_table(spark, sf_dir, "events")
        .select(
            F.col("event_id"),
            F.col("event_type"),
            (
                (F.col("event_id") % N_DAYS) * MICROS_PER_DAY
                + F.col("event_id")
            ).alias("ts_us"),
        )
    )
    df = transform_column(df, "ts_us", "day", "ts_day")
    tdir = tempfile.mkdtemp(prefix="iceberg-day-")
    (
        df.repartition("ts_day")
        .write.partitionBy("ts_day")
        .parquet(tdir, mode="append")
    )
    schema = df.drop("ts_day").schema
    commit_append(
        tdir, schema, partition_col="ts_day", now_ms=1_000,
        partition_transform="day", partition_source="ts_us",
    )
    return tdir


@query(
    "iceberg_day_partition_scan",
    oracle=f"""
SELECT CAST(event_id % {N_DAYS} AS BIGINT) AS ts_day,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(1 AS BIGINT) AS n_files_opened,
       CAST(1 AS BIGINT) AS pruned
FROM events
WHERE event_id % {N_DAYS} BETWEEN 10 AND 13
GROUP BY CAST(event_id % {N_DAYS} AS BIGINT)
""",
)
def iceberg_day_partition_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """day(ts)-partitioned Iceberg table + transform-aware RANGE
    pruning: a 4-day source-micros window maps through the declared
    ``day`` transform to a partition range, opening exactly the four
    day files (one file per day dir by construction — pinned by the
    ``n_files_opened`` column) out of 32; the oracle replays the day
    arithmetic and per-day counts relationally. Scale shape: pruning is
    metadata-only (manifest partition summaries first, file partition
    values second) — a 100 TB table's 4-day read opens 4 days of
    files, never listing the rest."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        plan_scan,
        read_iceberg_table,
    )

    tdir = _day_table(spark, sf_dir)
    lo = 10 * MICROS_PER_DAY
    hi = 13 * MICROS_PER_DAY + MICROS_PER_DAY - 1
    files = plan_scan(tdir, source_range=(lo, hi))
    n_total = len(plan_scan(tdir))
    per_day_files: dict[int, int] = {}
    for f in files:
        d = int(f["partition"]["ts_day"])
        per_day_files[d] = per_day_files.get(d, 0) + 1
    pruned = 1 if 0 < len(files) < n_total else 0
    file_rows = local_rows_df(
        spark,
        [(d, n, pruned) for d, n in sorted(per_day_files.items())],
        "ts_day bigint, n_files_opened bigint, pruned bigint",
    )
    counts = (
        read_iceberg_table(spark, tdir, source_range=(lo, hi))
        .groupBy(F.floor(F.col("ts_us") / MICROS_PER_DAY).alias("ts_day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    )
    return counts.join(file_rows, "ts_day").select(
        "ts_day", "n_rows", "n_files_opened", "pruned"
    )


@session_fixture
def _multifield_table(spark: SparkSession, sf_dir: str) -> str:
    """events -> a ``(day(ts_us), bucket[4](event_id))`` Iceberg table —
    the canonical production composite spec: synthetic timestamps put
    event_id on day ``event_id % N_DAYS``, the bucket column computed by
    the vectorized spec Murmur3, one parquet file per populated
    (day, bucket) cell."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        write_iceberg_table,
    )

    df = (
        load_table(spark, sf_dir, "events")
        .select(
            F.col("event_id"),
            F.col("event_type"),
            (
                (F.col("event_id") % N_DAYS) * MICROS_PER_DAY
                + F.col("event_id")
            ).alias("ts_us"),
        )
    )
    tdir = tempfile.mkdtemp(prefix="iceberg-multifield-")
    write_iceberg_table(
        spark, df, tdir, now_ms=1_000,
        partition_spec=[
            ("ts_day", "day", "ts_us"),
            ("id_bucket", f"bucket[{N_BUCKETS}]", "event_id"),
        ],
    )
    return tdir


@query(
    "iceberg_multifield_partition_scan",
    oracle=f"""
SELECT event_id,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(1 AS BIGINT) AS one_cell_opened,
       CAST(1 AS BIGINT) AS day_pruned,
       CAST(1 AS BIGINT) AS bucket_pruned
FROM events
WHERE event_id < 8
GROUP BY event_id
""",
)
def iceberg_multifield_partition_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Multi-field partition spec ``(day(ts_us), bucket[4](event_id))``
    + ANDed transform-aware pruning: for each probe id, the
    ``source_predicates`` map routes the day window through ``day`` and
    the id through the spec Murmur3, so the scan opens exactly ONE
    (day, bucket) cell — and each field also prunes on its own
    (``day_pruned`` / ``bucket_pruned`` pin that the single-field plans
    are strict subsets of the full table). The oracle pins per-id row
    counts and the invariants; the bucket hash itself is pinned to the
    spec's published vectors in pytest. Scale shape: all pruning is
    metadata-only — a 100 TB table's point lookup opens one cell's
    files, never listing the rest (Iceberg spec "Partition Specs";
    extension beyond the reference's unpartitioned
    `TableWriterFactory.java:93`)."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        plan_scan,
        read_iceberg_table,
    )

    tdir = _multifield_table(spark, sf_dir)
    n_total = len(plan_scan(tdir))

    def probe_row(probe: int) -> tuple:
        day = probe % N_DAYS
        window = (
            day * MICROS_PER_DAY, (day + 1) * MICROS_PER_DAY - 1
        )
        files = plan_scan(
            tdir,
            source_predicates={"ts_us": window, "event_id": probe},
        )
        cells = {
            (f["partition"]["ts_day"], f["partition"]["id_bucket"])
            for f in files
        }
        day_only = plan_scan(tdir, source_predicates={"ts_us": window})
        bucket_only = plan_scan(
            tdir, source_predicates={"event_id": probe}
        )
        n = (
            read_iceberg_table(
                spark, tdir,
                source_predicates={"ts_us": window, "event_id": probe},
            )
            .where(F.col("event_id") == probe)
            .count()
        )
        return (
            probe,
            int(n),
            1 if len(cells) == 1 else 0,
            1 if 0 < len(day_only) < n_total else 0,
            1 if 0 < len(bucket_only) < n_total else 0,
        )

    rows = _parallel_probe_rows(probe_row, range(8))
    return local_rows_df(
        spark,
        rows,
        "event_id bigint, n_rows bigint, one_cell_opened bigint, "
        "day_pruned bigint, bucket_pruned bigint",
    )


@session_fixture
def _global_delete_table(spark: SparkSession, sf_dir: str) -> str:
    """The composite (day, bucket) layout plus a GLOBAL equality
    delete: one unpartitioned-scope delete file kills event_ids
    ``0 mod 97`` in every (day, bucket) cell — the spec's table-wide
    delete representation (delete files scoped to an unpartitioned
    spec apply everywhere)."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        commit_equality_deletes,
        write_iceberg_table,
    )

    df = (
        load_table(spark, sf_dir, "events")
        .select(
            F.col("event_id"),
            (
                (F.col("event_id") % N_DAYS) * MICROS_PER_DAY
                + F.col("event_id")
            ).alias("ts_us"),
        )
    )
    tdir = tempfile.mkdtemp(prefix="iceberg-globdel-")
    write_iceberg_table(
        spark, df, tdir, now_ms=1_000,
        partition_spec=[
            ("ts_day", "day", "ts_us"),
            ("id_bucket", f"bucket[{N_BUCKETS}]", "event_id"),
        ],
    )
    keys = df.where(F.col("event_id") % 97 == 0).select("event_id")
    commit_equality_deletes(
        spark, tdir, keys, ["event_id"], now_ms=2_000, global_scope=True
    )
    return tdir


@query(
    "iceberg_global_delete_scan",
    oracle=f"""
SELECT CAST(event_id % {N_DAYS} AS BIGINT) AS ts_day,
       CAST(SUM(CASE WHEN event_id % 97 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_live,
       CAST(SUM(CASE WHEN event_id % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_deleted,
       CAST(1 AS BIGINT) AS one_global_delete_file
FROM events
WHERE event_id % {N_DAYS} BETWEEN 0 AND 3
GROUP BY CAST(event_id % {N_DAYS} AS BIGINT)
""",
)
def iceberg_global_delete_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL equality delete merge-on-read: ONE unpartitioned-scope
    delete file (pinned by ``one_global_delete_file``) retracts
    ``event_id % 97 = 0`` across every (day, bucket) cell of the
    composite table; per-day live/deleted counts replay relationally.
    Scale shape: the key set broadcasts once and the anti-join matches
    with no partition conditions — exactly one delete file regardless
    of partition count, where the partition-scoped representation
    would write one per touched cell."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        read_iceberg_table,
        read_table_metadata,
    )

    tdir = _global_delete_table(spark, sf_dir)
    # structural pin: exactly one live equality-delete file, scoped to
    # the unpartitioned spec
    back = read_table_metadata(tdir)
    eq_entries = [
        (m["file"], e)
        for m in back["manifests"]
        for e in m["entries"]
        if e["status"] != 2 and e["data_file"].get("content") == 2
    ]
    unp_ids = {
        s["spec-id"]
        for s in back["metadata"]["partition-specs"]
        if not s["fields"]
    }
    one_global = (
        1
        if len(eq_entries) == 1
        and int(eq_entries[0][0]["partition_spec_id"]) in unp_ids
        else 0
    )
    full = (
        load_table(spark, sf_dir, "events")
        .where((F.col("event_id") % N_DAYS).between(0, 3))
        .groupBy((F.col("event_id") % N_DAYS).cast("bigint").alias("ts_day"))
        .agg(F.count(F.lit(1)).alias("n_total"))
    )
    lo, hi = 0, 3 * MICROS_PER_DAY + MICROS_PER_DAY - 1
    live = (
        read_iceberg_table(spark, tdir, source_predicates={"ts_us": (lo, hi)})
        .groupBy(F.floor(F.col("ts_us") / MICROS_PER_DAY).alias("ts_day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_live"))
    )
    return (
        live.join(full, "ts_day")
        .select(
            "ts_day",
            "n_live",
            (F.col("n_total") - F.col("n_live"))
            .cast("bigint")
            .alias("n_deleted"),
            F.lit(one_global).cast("bigint").alias("one_global_delete_file"),
        )
    )


@session_fixture
def _string_banded_table(spark: SparkSession, sf_dir: str) -> str:
    """documents written as ONE sorted task sliced into consecutive
    files (the sorted-compaction layout): each parquet file covers a
    narrow lexicographic ``source`` range, and its manifest entry
    records exact UTF-8 lower/upper bounds from the footer — the
    string column-stats pruning fixture."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        commit_append,
    )

    df = (
        load_table(spark, sf_dir, "documents")
        .select(
            F.lit(0).cast("int").alias("partition"),
            "doc_id", "source", "n_chars",
        )
    )
    n = df.count()
    tdir = tempfile.mkdtemp(prefix="iceberg-strbounds-")
    (
        df.repartition(1)
        # "partition" must LEAD the sort: partitionBy's required
        # ordering otherwise inserts its own partition sort and
        # EliminateSorts drops this one as redundant beneath it,
        # leaving the band files in input order (r10 find; same fix
        # as write_iceberg_table's sort path)
        .sortWithinPartitions("partition", "source", "doc_id")
        .write.partitionBy("partition")
        .option("maxRecordsPerFile", str(max(1, n // 8)))
        .parquet(tdir, mode="append")
    )
    commit_append(tdir, df.schema, now_ms=1_000)
    return tdir


@query(
    "iceberg_string_bounds_scan",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(1 AS BIGINT) AS pruned
FROM documents
WHERE source BETWEEN 'src12' AND 'src16'
""",
)
def iceberg_string_bounds_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRING column-stats file pruning (r8): a lexicographic
    ``source`` window planned via ``column_bounds`` against a
    sorted-band table — files whose recorded UTF-8 bounds provably
    miss the window are never opened (``pruned`` pins a strict
    subset), and the row residual gives exact counts the oracle
    replays. Scale shape: the same bounds pruning that keeps an
    integer offset-window read O(overlapping files) now covers string
    keys — a sorted-write corpus's source/domain window opens only
    the overlapping band files regardless of table size."""
    from pyspark.sql import functions as _F

    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        plan_scan,
    )
    from tiered_storage_for_apache_kafka_spark.sources.iceberg.manifests import (
        _read_planned_files,
    )
    from tiered_storage_for_apache_kafka_spark.sources.iceberg.state import (
        _current_state_meta,
    )

    tdir = _string_banded_table(spark, sf_dir)
    lo, hi = "src12", "src16"
    files = plan_scan(tdir, column_bounds=("source", lo, hi))
    n_total = len(plan_scan(tdir))
    pruned = 1 if 0 < len(files) < n_total else 0
    _v, meta, _t = _current_state_meta(tdir)
    rows = (
        _read_planned_files(
            spark, tdir, meta, [f["file_path"] for f in files]
        )
        .where(_F.col("source").between(lo, hi))
        .agg(
            _F.count(_F.lit(1)).cast("bigint").alias("n_rows"),
            _F.countDistinct("source").cast("bigint").alias("n_sources"),
        )
        .withColumn("pruned", _F.lit(pruned).cast("bigint"))
    )
    return rows


@session_fixture
def _evolved_table(spark: SparkSession, sf_dir: str) -> str:
    """A table that LIVED THROUGH partition evolution: generation 1
    (even 32-blocks of event_id) committed under ``day(ts_us)`` alone, then
    ``update_partition_spec`` to ``(day(ts_us), bucket[4](event_id))``,
    then generation 2 (odd 32-blocks) appended under the composite
    layout — the realistic shape of a production table that added a
    bucket field later (Iceberg spec "Partition Evolution")."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        commit_append,
        transform_column,
        update_partition_spec,
    )

    base = (
        load_table(spark, sf_dir, "events")
        .select(
            F.col("event_id"),
            (
                (F.col("event_id") % N_DAYS) * MICROS_PER_DAY
                + F.col("event_id")
            ).alias("ts_us"),
        )
    )
    tdir = tempfile.mkdtemp(prefix="iceberg-evolved-")
    g1 = transform_column(
        base.where(F.floor(F.col("event_id") / 32) % 2 == 0),
        "ts_us", "day", "ts_day",
    )
    (
        g1.repartition("ts_day")
        .write.partitionBy("ts_day")
        .parquet(tdir, mode="append")
    )
    schema = g1.drop("ts_day").schema
    commit_append(
        tdir, schema, partition_col="ts_day", now_ms=1_000,
        partition_transform="day", partition_source="ts_us",
    )
    update_partition_spec(
        tdir,
        [
            ("ts_day", "day", "ts_us"),
            ("id_bucket", f"bucket[{N_BUCKETS}]", "event_id"),
        ],
        now_ms=2_000,
    )
    g2 = transform_column(
        base.where(F.floor(F.col("event_id") / 32) % 2 == 1),
        "ts_us", "day", "ts_day",
    )
    g2 = transform_column(
        g2, "event_id", f"bucket[{N_BUCKETS}]", "id_bucket"
    )
    (
        g2.repartition("ts_day", "id_bucket")
        .write.partitionBy("ts_day", "id_bucket")
        .parquet(tdir, mode="append")
    )
    commit_append(
        tdir, schema, now_ms=3_000,
        partition_spec=[
            ("ts_day", "day", "ts_us"),
            ("id_bucket", f"bucket[{N_BUCKETS}]", "event_id"),
        ],
    )
    return tdir


@query(
    "iceberg_spec_evolution_scan",
    oracle=f"""
SELECT CAST(event_id % {N_DAYS} AS BIGINT) AS ts_day,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN FLOOR(event_id / 32) % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_gen1_rows,
       CAST(2 AS BIGINT) AS n_generations,
       CAST(1 AS BIGINT) AS day_pruned_both_gens
FROM events
WHERE event_id % {N_DAYS} BETWEEN 1 AND 2
GROUP BY CAST(event_id % {N_DAYS} AS BIGINT)
""",
)
def iceberg_spec_evolution_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-spec EVOLUTION read path: a day-partitioned generation
    and a later (day, bucket) generation coexist in one table; a
    2-day source window prunes BOTH generations (the shared ``ts_day``
    field resolves per manifest spec-id), the scan unions the two hive
    layouts, and per-day counts match a relational replay split by
    generation. ``n_generations`` pins that each scanned day draws
    files from both spec generations (spec-id resolution working),
    ``day_pruned_both_gens`` that no out-of-window file of EITHER
    generation is opened. Scale shape: evolution is metadata-only —
    old files are never rewritten, and pruning cost stays
    O(manifests), not O(table age)."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        plan_scan,
        read_iceberg_table,
    )

    tdir = _evolved_table(spark, sf_dir)
    lo = 1 * MICROS_PER_DAY
    hi = 2 * MICROS_PER_DAY + MICROS_PER_DAY - 1
    files = plan_scan(tdir, source_predicates={"ts_us": (lo, hi)})
    per_day_gens: dict[int, set] = {}
    in_window = True
    for f in files:
        d = int(f["partition"]["ts_day"])
        if d not in (1, 2):
            in_window = False
        per_day_gens.setdefault(d, set()).add(
            "g2" if "id_bucket" in f["partition"] else "g1"
        )
    file_rows = local_rows_df(
        spark,
        [
            (d, len(gens), 1 if in_window else 0)
            for d, gens in sorted(per_day_gens.items())
        ],
        "ts_day bigint, n_generations bigint, day_pruned_both_gens bigint",
    )
    counts = (
        read_iceberg_table(spark, tdir, source_predicates={"ts_us": (lo, hi)})
        .groupBy(F.floor(F.col("ts_us") / MICROS_PER_DAY).alias("ts_day"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(
                F.when(F.floor(F.col("event_id") / 32) % 2 == 0, 1).otherwise(0)
            ).cast("bigint").alias("n_gen1_rows"),
        )
    )
    return counts.join(file_rows, "ts_day").select(
        "ts_day", "n_rows", "n_gen1_rows", "n_generations",
        "day_pruned_both_gens",
    )


@session_fixture
def _string_partition_table(spark: SparkSession, sf_dir: str) -> str:
    """documents -> an Iceberg table partitioned by
    ``(identity(lang), truncate[4](source))`` — STRING partition
    values: identity keeps ``lang`` a schema column recovered from the
    hive path, ``truncate[4]`` folds ``src10..src19`` into the
    ``src1`` prefix cell (prefix truncation is the spec's string
    transform), and manifest summaries carry UTF-8 bounds."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        write_iceberg_table,
    )

    df = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    tdir = tempfile.mkdtemp(prefix="iceberg-strpart-")
    write_iceberg_table(
        spark, df, tdir, now_ms=1_000,
        partition_spec=[
            ("lang", "identity", None),
            ("src4", "truncate[4]", "source"),
        ],
    )
    return tdir


@query(
    "iceberg_string_partition_scan",
    oracle="""
SELECT lang,
       CAST(SUM(CASE WHEN source = 'src7' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_src7,
       CAST(SUM(CASE WHEN source BETWEEN 'src15' AND 'src19'
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_range,
       CAST(1 AS BIGINT) AS one_cell_opened,
       CAST(1 AS BIGINT) AS pruned
FROM documents
GROUP BY lang
""",
)
def iceberg_string_partition_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STRING partition values end-to-end: per language, an equality
    probe on ``source`` routes through ``truncate[4]`` +
    ``identity(lang)`` to at most ONE (lang, prefix) cell, and a
    lexicographic source range prunes to its prefix cells with the
    row residual narrowing to exact matches — counts replayed
    relationally by the oracle. Scale shape: identical to the int
    transforms — all pruning is metadata-grain (UTF-8 summary bounds
    first, file partition values second), so a 100 TB corpus's
    per-language source lookup opens one cell's files."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        plan_scan,
        read_iceberg_table,
    )

    tdir = _string_partition_table(spark, sf_dir)
    n_total = len(plan_scan(tdir))
    langs = sorted(
        r["lang"]
        for r in load_table(spark, sf_dir, "documents")
        .select("lang")
        .distinct()
        .collect()
    )
    def lang_row(lang: str) -> tuple:
        eq_files = plan_scan(
            tdir, source_predicates={"lang": lang, "source": "src7"}
        )
        cells = {
            (f["partition"]["lang"], f["partition"]["src4"])
            for f in eq_files
        }
        n_src7 = (
            read_iceberg_table(
                spark, tdir,
                source_predicates={"lang": lang, "source": "src7"},
            ).count()
        )
        rng = ("src15", "src19")
        rng_files = plan_scan(
            tdir, source_predicates={"lang": lang, "source": rng}
        )
        n_range = (
            read_iceberg_table(
                spark, tdir,
                source_predicates={"lang": lang, "source": rng},
            ).count()
        )
        pruned = (
            1
            if len(eq_files) < n_total and len(rng_files) < n_total
            else 0
        )
        return (
            lang, int(n_src7), int(n_range), 1 if len(cells) <= 1 else 0, pruned
        )

    rows = _parallel_probe_rows(lang_row, langs)
    return local_rows_df(
        spark,
        rows,
        "lang string, n_src7 bigint, n_range bigint, "
        "one_cell_opened bigint, pruned bigint",
    )


@session_fixture
def _bucket_table(spark: SparkSession, sf_dir: str) -> str:
    """events -> a bucket[4](event_id)-partitioned Iceberg table, the
    partition column computed by the vectorized spec Murmur3."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        commit_append,
        transform_column,
    )

    df = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    df = transform_column(df, "event_id", f"bucket[{N_BUCKETS}]", "id_bucket")
    tdir = tempfile.mkdtemp(prefix="iceberg-bucket-")
    (
        df.repartition("id_bucket")
        .write.partitionBy("id_bucket")
        .parquet(tdir, mode="append")
    )
    schema = df.drop("id_bucket").schema
    commit_append(
        tdir, schema, partition_col="id_bucket", now_ms=1_000,
        partition_transform=f"bucket[{N_BUCKETS}]",
        partition_source="event_id",
    )
    return tdir


@query(
    "iceberg_bucket_partition_scan",
    oracle="""
SELECT event_id,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(1 AS BIGINT) AS one_bucket_opened
FROM events
WHERE event_id < 8
GROUP BY event_id
""",
)
def iceberg_bucket_partition_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """bucket[4](event_id)-partitioned Iceberg table + equality-
    predicate routing: for each probe id, ``source_value=`` pruning
    maps the id through the spec Murmur3 to its ONE bucket, the scan
    opens only that bucket's files, and the probe's rows are all still
    found — the point-lookup pattern bucketing exists for. The oracle
    pins the per-id row counts and the one-bucket-opened invariant;
    the hash itself is pinned to the spec's published vectors in
    pytest (Murmur3 is not SQL-expressible)."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        plan_scan,
        read_iceberg_table,
    )

    tdir = _bucket_table(spark, sf_dir)

    def probe_row(probe: int) -> tuple:
        files = plan_scan(tdir, source_value=probe)
        buckets = {int(f["partition"]["id_bucket"]) for f in files}
        n = (
            read_iceberg_table(spark, tdir, source_value=probe)
            .where(F.col("event_id") == probe)
            .count()
        )
        return (probe, int(n), 1 if len(buckets) == 1 else 0)

    rows = _parallel_probe_rows(probe_row, range(8))
    return local_rows_df(
        spark,
        rows, "event_id bigint, n_rows bigint, one_bucket_opened bigint"
    )


@session_fixture
def _sharded_writer_table(spark: SparkSession, sf_dir: str) -> str:
    """events -> a day(ts_us)-partitioned table written through
    :func:`write_iceberg_table` with ``writer_shards=4`` over a SKEWED
    batch (9/10 of rows land on one hot day): the salted pre-write
    shuffle fans the hot cell over multiple write tasks instead of one
    funnel task — the data-path mirror of the delete plane's
    ``writer_shards`` (r9)."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        write_iceberg_table,
    )

    day = F.when(F.col("event_id") % 10 < 9, 0).otherwise(
        1 + F.col("event_id") % 3
    )
    df = load_table(spark, sf_dir, "events").select(
        F.col("event_id"),
        F.col("event_type"),
        (day * MICROS_PER_DAY + F.col("event_id")).alias("ts_us"),
    )
    tdir = tempfile.mkdtemp(prefix="iceberg-sharded-")
    write_iceberg_table(
        spark, df, tdir, now_ms=1_000,
        partition_spec=[("ts_day", "day", "ts_us")],
        writer_shards=4,
    )
    return tdir


@query(
    "iceberg_sharded_writer_scan",
    oracle="""
SELECT CAST(CASE WHEN event_id % 10 < 9 THEN 0
            ELSE 1 + event_id % 3 END AS BIGINT) AS ts_day,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(1 AS BIGINT) AS hot_fanned_out,
       CAST(1 AS BIGINT) AS pruned
FROM events
GROUP BY CAST(CASE WHEN event_id % 10 < 9 THEN 0
              ELSE 1 + event_id % 3 END AS BIGINT)
""",
)
def iceberg_sharded_writer_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hot-partition WRITE sharding: a skewed batch (90% of events on
    one day) written with ``writer_shards=4`` — per-day row counts stay
    exact, day pruning still opens one cell, and the hot day's cell
    holds MULTIPLE spec-legal files (``hot_fanned_out`` pins the
    fan-out structurally; one funnel task would leave one file). Scale
    shape: at 100 TB a skewed load's hottest partition is written by N
    parallel tasks instead of serializing the whole cell through one
    executor — combined with ``max_records_per_file`` capping file
    LENGTH while shards cap task PARALLELISM."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        plan_scan,
        read_iceberg_table,
    )

    tdir = _sharded_writer_table(spark, sf_dir)
    n_total = len(plan_scan(tdir))
    hot = plan_scan(
        tdir, source_predicates={"ts_us": (0, MICROS_PER_DAY - 1)}
    )
    hot_fanned = (
        1
        if len(hot) > 1
        and all(f["partition"]["ts_day"] == 0 for f in hot)
        and len(hot) < n_total
        else 0
    )
    # pruning pin computed from a COLD day's plan (not a constant): the
    # probe must open only that day's files, and strictly fewer than
    # the table holds — so a salted write committing wrong partition
    # tuples fails the verdict
    cold = plan_scan(
        tdir,
        source_predicates={"ts_us": (MICROS_PER_DAY, 2 * MICROS_PER_DAY - 1)},
    )
    pruned = (
        1
        if cold
        and all(f["partition"]["ts_day"] == 1 for f in cold)
        and len(cold) < n_total
        else 0
    )
    return (
        read_iceberg_table(spark, tdir)
        .groupBy(
            F.floor(F.col("ts_us") / MICROS_PER_DAY)
            .cast("bigint")
            .alias("ts_day")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        .select(
            "ts_day",
            "n_rows",
            F.lit(hot_fanned).cast("bigint").alias("hot_fanned_out"),
            F.lit(pruned).cast("bigint").alias("pruned"),
        )
    )


@session_fixture
def _global_delete_evolution_table(spark: SparkSession, sf_dir: str) -> str:
    """documents split across a partition-spec EVOLUTION with GLOBAL
    equality deletes on both sides (r9): generation 1 (even doc_ids)
    commits under ``identity(lang)``; a global delete (doc_id % 17 = 3)
    lands BEFORE the evolution, so it covers generation 1 only
    (equality deletes apply to strictly-lower sequence numbers);
    the spec evolves to ``(lang, truncate[4](source))``; generation 2
    (odd doc_ids) appends under the composite spec; a second global
    delete (doc_id % 19 = 7) lands AFTER, covering BOTH generations —
    old-generation files under the new default spec included."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        commit_equality_deletes,
        update_partition_spec,
        write_iceberg_table,
    )

    df = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    tdir = tempfile.mkdtemp(prefix="iceberg-gde-")
    write_iceberg_table(
        spark, df.where(F.col("doc_id") % 2 == 0), tdir, now_ms=1_000,
        partition_spec=[("lang", "identity", None)],
    )
    keys1 = df.where(F.col("doc_id") % 17 == 3).select("doc_id")
    commit_equality_deletes(
        spark, tdir, keys1, ["doc_id"], now_ms=2_000, global_scope=True
    )
    update_partition_spec(
        tdir,
        [("lang", "identity", None), ("src4", "truncate[4]", "source")],
        now_ms=3_000,
    )
    write_iceberg_table(
        spark, df.where(F.col("doc_id") % 2 == 1), tdir, now_ms=4_000,
        partition_spec=[
            ("lang", "identity", None),
            ("src4", "truncate[4]", "source"),
        ],
    )
    keys2 = df.where(F.col("doc_id") % 19 == 7).select("doc_id")
    commit_equality_deletes(
        spark, tdir, keys2, ["doc_id"], now_ms=5_000, global_scope=True
    )
    return tdir


@query(
    "iceberg_global_delete_evolution_scan",
    oracle="""
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_live,
       CAST(SUM(CASE WHEN source = 'src7' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_src7,
       CAST(1 AS BIGINT) AS pruned
FROM documents
WHERE NOT (doc_id % 2 = 0 AND doc_id % 17 = 3)
  AND doc_id % 19 <> 7
GROUP BY lang
""",
)
def iceberg_global_delete_evolution_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GLOBAL equality deletes ACROSS a partition-spec evolution: the
    pre-evolution delete retracts its keys from generation 1 ONLY
    (doc_id % 17 = 3 keys re-appended in generation 2 stay live — the
    strictly-lower-sequence rule), while the post-evolution delete
    retracts doc_id % 19 = 7 from BOTH generations, old-generation
    files under the new composite default spec included. Per-language
    live counts and a truncate[4]-routed source probe replay
    relationally; ``pruned`` pins that a (lang, source) probe still
    opens a strict file subset on the mixed-generation table."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        plan_scan,
        read_iceberg_table,
    )

    tdir = _global_delete_evolution_table(spark, sf_dir)
    n_total = len(plan_scan(tdir))
    probe_files = plan_scan(
        tdir, source_predicates={"lang": "en", "source": "src7"}
    )
    pruned = 1 if 0 < len(probe_files) < n_total else 0
    return (
        read_iceberg_table(spark, tdir)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_live"),
            F.sum(F.when(F.col("source") == "src7", 1).otherwise(0))
            .cast("bigint")
            .alias("n_src7"),
        )
        .select(
            "lang", "n_live", "n_src7",
            F.lit(pruned).cast("bigint").alias("pruned"),
        )
    )


@session_fixture
def _sorted_writer_table(spark: SparkSession, sf_dir: str) -> str:
    """events -> a day-partitioned table written with
    ``sort_by=["event_id"]`` and a per-task file cap, so each day
    cell's files hold NARROW DISJOINT event_id slices — the sorted
    write (r9), giving new tables the clustering that sorted
    compaction retrofits."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        write_iceberg_table,
    )

    df = load_table(spark, sf_dir, "events").select(
        F.col("event_id"),
        (
            (F.col("event_id") % N_DAYS) * MICROS_PER_DAY
            + F.col("event_id")
        ).alias("ts_us"),
    )
    # ~8 sorted slices per day at EVERY sf (one bounded count). Floor
    # 16, not 64: within a day cell ids step by N_DAYS, so a 64-row
    # slice spans ~64*N_DAYS ids — at sf0.001 (~2k events) that is the
    # whole domain and the bounds probe prunes nothing (found by the
    # r11 default-conf parity gate, which replays at small sf)
    mrpf = max(16, df.count() // (N_DAYS * 8))
    tdir = tempfile.mkdtemp(prefix="iceberg-sorted-")
    write_iceberg_table(
        spark, df, tdir, now_ms=1_000,
        partition_spec=[("ts_day", "day", "ts_us")],
        sort_by=["event_id"], max_records_per_file=mrpf,
    )
    return tdir


@query(
    "iceberg_sorted_write_scan",
    oracle=f"""
SELECT CAST(event_id % {N_DAYS} AS BIGINT) AS ts_day,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(1 AS BIGINT) AS bounds_pruned,
       CAST(1 AS BIGINT) AS order_registered
FROM events
WHERE event_id BETWEEN 64 AND 1600
GROUP BY CAST(event_id % {N_DAYS} AS BIGINT)
""",
)
def iceberg_sorted_write_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SORTED WRITES (Iceberg spec "Sort Orders"): the table's write
    order registers in metadata and stamps every data file, and the
    per-task file cap slices each day cell into narrow disjoint
    event_id ranges — so a column-bounds probe skips whole files
    (``bounds_pruned`` pins a strict subset structurally; an unsorted
    layout's per-file bounds span the whole domain and prune nothing).
    Counts replay relationally. Scale shape: at 100 TB the sorted
    slices are what make point/range lookups on a high-cardinality
    column metadata-bounded — file-level skipping instead of row-group
    filtering inside every file."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        plan_scan,
        read_iceberg_table,
        read_table_metadata,
    )

    tdir = _sorted_writer_table(spark, sf_dir)
    meta = read_table_metadata(tdir)["metadata"]
    default_order = next(
        o
        for o in meta["sort-orders"]
        if o["order-id"] == meta["default-sort-order-id"]
    )
    order_registered = 1 if default_order["fields"] else 0
    n_total = len(plan_scan(tdir))
    bounded = plan_scan(tdir, column_bounds=("event_id", 64, 1600))
    bounds_pruned = 1 if 0 < len(bounded) < n_total else 0
    return (
        read_iceberg_table(spark, tdir)
        .where(F.col("event_id").between(64, 1600))
        .groupBy(
            (F.col("event_id") % N_DAYS).cast("bigint").alias("ts_day")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        .select(
            "ts_day",
            "n_rows",
            F.lit(bounds_pruned).cast("bigint").alias("bounds_pruned"),
            F.lit(order_registered).cast("bigint").alias("order_registered"),
        )
    )


@session_fixture
def _zorder_table(spark: SparkSession, sf_dir: str) -> str:
    """events -> two derived dimensions (x = event_id % 64,
    y = floor(event_id / 64) % 64), compacted with
    ``rewrite_data_files(zorder_by=["x", "y"])`` and a record cap — the
    bit-interleaved clustering that gives every file tight bounds on
    BOTH dimensions (r9)."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        rewrite_data_files,
        write_iceberg_table,
    )

    df = load_table(spark, sf_dir, "events").select(
        F.col("event_id"),
        (F.col("event_id") % 64).alias("x"),
        (F.floor(F.col("event_id") / 64) % 64).cast("long").alias("y"),
        F.lit(0).cast("int").alias("partition"),
    )
    mrpf = max(64, df.count() // 16)  # ~16 zorder slices at every sf
    tdir = tempfile.mkdtemp(prefix="iceberg-zorder-")
    write_iceberg_table(spark, df, tdir, now_ms=1_000)
    rewrite_data_files(
        spark, tdir, now_ms=2_000,
        zorder_by=["x", "y"], max_records_per_file=mrpf,
    )
    return tdir


@query(
    "iceberg_zorder_scan",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(event_id AS BIGINT)) AS BIGINT) AS sum_ids,
       CAST(1 AS BIGINT) AS x_pruned,
       CAST(1 AS BIGINT) AS y_pruned,
       CAST(1 AS BIGINT) AS box_pruned
FROM events
WHERE event_id % 64 BETWEEN 8 AND 23
  AND CAST(FLOOR(event_id / 64) AS BIGINT) % 64 BETWEEN 8 AND 23
""",
)
def iceberg_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER clustering (Iceberg's ``rewriteDataFiles`` zorder
    strategy): after the interleaved rewrite, a column-bounds probe on
    EITHER dimension alone opens a strict file subset (``x_pruned`` /
    ``y_pruned`` pin it structurally — a linear sort would leave the
    trailing dimension's bounds spanning every file), and the ANDed 2D
    box plan (r10: ``column_bounds`` takes a list) opens no more files
    than either axis alone (``box_pruned``), with the box read
    replaying relationally. Scale shape: multi-dimension point/range
    lookups at 100 TB become metadata-bounded on all clustered
    dimensions at once — the layout for (time, key)-style lookups no
    single-column sort serves."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        plan_scan,
        read_iceberg_table,
    )

    tdir = _zorder_table(spark, sf_dir)
    n_total = len(plan_scan(tdir))
    pins = {}
    subs = {}
    for col in ("x", "y"):
        subs[col] = len(plan_scan(tdir, column_bounds=(col, 8, 23)))
        pins[col] = 1 if 0 < subs[col] < n_total else 0
    n_box = len(
        plan_scan(tdir, column_bounds=[("x", 8, 23), ("y", 8, 23)])
    )
    box = 1 if 0 < n_box <= min(subs.values()) else 0
    return (
        read_iceberg_table(spark, tdir)
        .where("x BETWEEN 8 AND 23 AND y BETWEEN 8 AND 23")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("event_id").cast("bigint").alias("sum_ids"),
        )
        .select(
            "n_rows",
            "sum_ids",
            F.lit(pins["x"]).cast("bigint").alias("x_pruned"),
            F.lit(pins["y"]).cast("bigint").alias("y_pruned"),
            F.lit(box).cast("bigint").alias("box_pruned"),
        )
    )


@session_fixture
def _pos_delete_churn_table(spark: SparkSession, sf_dir: str) -> str:
    """events -> a day(ts_us) table that takes THREE separate
    position-delete commits (the CDC churn shape: every micro-batch
    deletes a few rows, so delete files accumulate per cell), then
    ``rewrite_position_deletes`` merges each cell's files into one
    (r9)."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        commit_position_deletes,
        rewrite_position_deletes,
        write_iceberg_table,
    )

    df = load_table(spark, sf_dir, "events").select(
        F.col("event_id"),
        (
            (F.col("event_id") % N_DAYS) * MICROS_PER_DAY
            + F.col("event_id")
        ).alias("ts_us"),
    )
    tdir = tempfile.mkdtemp(prefix="iceberg-rpd-")
    write_iceberg_table(
        spark, df, tdir, now_ms=1_000,
        partition_spec=[("ts_day", "day", "ts_us")],
    )
    commit_position_deletes(spark, tdir, "event_id % 97 = 0", now_ms=2_000)
    commit_position_deletes(spark, tdir, "event_id % 89 = 0", now_ms=3_000)
    commit_position_deletes(spark, tdir, "event_id % 83 = 0", now_ms=4_000)
    rewrite_position_deletes(spark, tdir, now_ms=5_000)
    return tdir


@session_fixture
def _null_cell_table(spark: SparkSession, sf_dir: str) -> str:
    """events -> an identity-partitioned table with a NULL partition
    cell (cat NULL for event_id % 5 = 0), plus both delete planes
    crossing it: a position delete into the null cell and an equality
    delete scoped to it via ``allow_null_partition=True`` (r10 — the
    data path's __HIVE_DEFAULT_PARTITION__ lifecycle end-to-end)."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        commit_equality_deletes,
        commit_position_deletes,
        write_iceberg_table,
    )

    df = load_table(spark, sf_dir, "events").select(
        F.col("event_id"),
        F.when(F.col("event_id") % 5 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("c"), (F.col("event_id") % 3).cast("string")))
        .alias("cat"),
    )
    tdir = tempfile.mkdtemp(prefix="iceberg-nullcell-")
    write_iceberg_table(
        spark, df, tdir, now_ms=1_000,
        partition_spec=[("cat", "identity", None)],
    )
    commit_position_deletes(spark, tdir, "event_id % 20 = 0", now_ms=2_000)
    keys = (
        load_table(spark, sf_dir, "events")
        .where("event_id % 35 = 0")
        .select(
            F.lit(None).cast("string").alias("cat"), F.col("event_id")
        )
    )
    commit_equality_deletes(
        spark, tdir, keys, ["event_id"], now_ms=3_000,
        allow_null_partition=True,
    )
    return tdir


@query(
    "iceberg_null_partition_scan",
    oracle="""
SELECT CASE WHEN event_id % 5 = 0 THEN NULL
            ELSE 'c' || CAST(event_id % 3 AS VARCHAR) END AS cat,
       CAST(SUM(CASE WHEN NOT (event_id % 20 = 0 OR event_id % 35 = 0)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_live,
       CAST(1 AS BIGINT) AS null_cell_planned,
       CAST(1 AS BIGINT) AS null_prune_strict
FROM events
GROUP BY 1
""",
)
def iceberg_null_partition_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NULL partition cell end-to-end (r10): the hive layout's
    ``__HIVE_DEFAULT_PARTITION__`` cell plans as a first-class cell
    (``null_cell_planned``), metadata pruning to it opens a strict file
    subset (``null_prune_strict``), and BOTH delete planes — a position
    delete into the null cell and an ``allow_null_partition`` equality
    delete scoped to it — land with exact per-cell counts. Scale shape:
    production tables routinely hold null partition values (late or
    malformed records); the null cell must prune and delete like any
    other, never silently drop or leak rows."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        plan_scan,
        read_iceberg_table,
    )

    tdir = _null_cell_table(spark, sf_dir)
    files = plan_scan(tdir)
    planned = 1 if any(f["partition"]["cat"] is None for f in files) else 0
    sub = plan_scan(tdir, source_predicates={"cat": None})
    strict = (
        1
        if sub
        and all(f["partition"]["cat"] is None for f in sub)
        and len(sub) < len(files)
        else 0
    )
    return (
        read_iceberg_table(spark, tdir)
        .groupBy("cat")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_live"))
        .select(
            "cat",
            "n_live",
            F.lit(planned).cast("bigint").alias("null_cell_planned"),
            F.lit(strict).cast("bigint").alias("null_prune_strict"),
        )
    )


@session_fixture
def _zorder_temporal_table(spark: SparkSession, sf_dir: str) -> str:
    """events -> a DATE dimension (epoch + event_id % 64 days) and an
    int dimension (floor(event_id / 64) % 64), z-order-rewritten — the
    r10 temporal-dimension route: the date ranks via its epoch-day
    ordinal surrogate, the single most common clustering dimension in
    log-structured data (timestamps/dates + a key)."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        rewrite_data_files,
        write_iceberg_table,
    )

    df = load_table(spark, sf_dir, "events").select(
        F.col("event_id"),
        F.date_add(
            F.lit("1970-01-01").cast("date"),
            (F.col("event_id") % 64).cast("int"),
        ).alias("d"),
        (F.floor(F.col("event_id") / 64) % 64).cast("long").alias("y"),
        F.lit(0).cast("int").alias("partition"),
    )
    mrpf = max(64, df.count() // 16)  # ~16 zorder slices at every sf
    tdir = tempfile.mkdtemp(prefix="iceberg-zorder-temporal-")
    write_iceberg_table(spark, df, tdir, now_ms=1_000)
    rewrite_data_files(
        spark, tdir, now_ms=2_000,
        zorder_by=["d", "y"], max_records_per_file=mrpf,
    )
    return tdir


@query(
    "iceberg_zorder_temporal_scan",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(event_id AS BIGINT)) AS BIGINT) AS sum_ids,
       CAST(1 AS BIGINT) AS d_pruned,
       CAST(1 AS BIGINT) AS y_pruned
FROM events
WHERE event_id % 64 BETWEEN 8 AND 23
  AND CAST(FLOOR(event_id / 64) AS BIGINT) % 64 BETWEEN 8 AND 23
""",
)
def iceberg_zorder_temporal_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Z-ORDER over a DATE dimension (r10): the temporal dim ranks
    through its epoch-day surrogate, so after the interleaved rewrite
    a footer-bounds probe on EITHER dimension alone — the date or the
    int — opens a strict file subset (``d_pruned`` / ``y_pruned`` pin
    it structurally; a single-column time sort leaves the key
    dimension's bounds spanning every file), and a 2D date-box read
    replays relationally. Scale shape: (time, key) lookups — the
    dominant log-structured access pattern — become metadata-bounded
    on both axes at once."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        plan_scan,
        read_iceberg_table,
    )

    tdir = _zorder_temporal_table(spark, sf_dir)
    files = plan_scan(tdir)
    pins = {}
    # the PRODUCTION pruning path (r10): date bounds publish as exact
    # epoch-day ints in the manifests, so plan_scan's column_bounds
    # prunes the date axis without opening a single file — same plane
    # as the int axis
    for col in ("d", "y"):
        sub = plan_scan(tdir, column_bounds=(col, 8, 23))
        pins[col] = 1 if 0 < len(sub) < len(files) else 0
    lo_d, hi_d = "1970-01-09", "1970-01-24"  # epoch+8 .. epoch+23
    return (
        read_iceberg_table(spark, tdir)
        .where(
            f"d BETWEEN DATE'{lo_d}' AND DATE'{hi_d}' "
            "AND y BETWEEN 8 AND 23"
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("event_id").cast("bigint").alias("sum_ids"),
        )
        .select(
            "n_rows",
            "sum_ids",
            F.lit(pins["d"]).cast("bigint").alias("d_pruned"),
            F.lit(pins["y"]).cast("bigint").alias("y_pruned"),
        )
    )


@session_fixture
def _timestamp_banded_table(spark: SparkSession, sf_dir: str) -> str:
    """events -> a TIMESTAMP column (hourly from event_id), written
    SORTED by it with a record cap — time-banded files whose exact
    epoch-micros manifest bounds (r10) make a time-window plan open
    only the overlapping bands."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        write_iceberg_table,
    )

    df = load_table(spark, sf_dir, "events").select(
        F.col("event_id"),
        F.timestamp_micros(
            F.col("event_id") * F.lit(3_600_000_000).cast("long")
        ).alias("ts"),
        F.lit(0).cast("int").alias("partition"),
    )
    mrpf = max(64, df.count() // 16)  # ~16 time bands at every sf
    tdir = tempfile.mkdtemp(prefix="iceberg-tswindow-")
    write_iceberg_table(
        spark, df, tdir, now_ms=1_000,
        sort_by=["ts"], max_records_per_file=mrpf,
    )
    return tdir


@query(
    "iceberg_timestamp_window_scan",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(event_id AS BIGINT)) AS BIGINT) AS sum_ids,
       CAST(1 AS BIGINT) AS window_pruned
FROM events
WHERE event_id BETWEEN 100 AND 199
""",
)
def iceberg_timestamp_window_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TIMESTAMP-window file pruning (r10): temporal footer stats
    publish as exact epoch micros in the manifests, so a time-window
    plan (``column_bounds``) opens a strict subset of the sorted time
    bands (``window_pruned`` pins it) and the windowed aggregate
    replays relationally. Scale shape: THE log-table access pattern —
    \"last N hours\" over a 100 TB table reads only the overlapping
    bands' bytes, decided entirely at the metadata level."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        plan_scan,
        read_iceberg_table,
    )

    tdir = _timestamp_banded_table(spark, sf_dir)
    files = plan_scan(tdir)
    lo_us = 100 * 3_600_000_000
    hi_us = 199 * 3_600_000_000
    sub = plan_scan(tdir, column_bounds=("ts", lo_us, hi_us))
    pruned = 1 if 0 < len(sub) < len(files) else 0
    return (
        read_iceberg_table(spark, tdir)
        .where(
            f"ts >= timestamp_micros({lo_us}) "
            f"AND ts <= timestamp_micros({hi_us})"
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("event_id").cast("bigint").alias("sum_ids"),
        )
        .select(
            "n_rows",
            "sum_ids",
            F.lit(pruned).cast("bigint").alias("window_pruned"),
        )
    )


@session_fixture
def _rpd_evolution_table(spark: SparkSession, sf_dir: str) -> str:
    """events split across a partition-spec evolution with delete churn
    in BOTH generations (r10): even event_ids write under day(ts_us)
    and take two position-delete commits; the spec evolves to
    (day, bucket[4](event_id)); odd event_ids write under the composite
    spec and take two more delete commits; then ONE
    ``rewrite_position_deletes`` compacts every generation's cells —
    old-generation files merging under their own spec (the Java
    rewritePositionDeleteFiles posture), not carried untouched."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        commit_position_deletes,
        rewrite_position_deletes,
        update_partition_spec,
        write_iceberg_table,
    )

    base = load_table(spark, sf_dir, "events").select(
        F.col("event_id"),
        (
            (F.col("event_id") % N_DAYS) * MICROS_PER_DAY
            + F.col("event_id")
        ).alias("ts_us"),
    )
    tdir = tempfile.mkdtemp(prefix="iceberg-rpd-evo-")
    old_spec = [("ts_day", "day", "ts_us")]
    new_spec = [
        ("ts_day", "day", "ts_us"),
        ("id_bucket", f"bucket[{N_BUCKETS}]", "event_id"),
    ]
    write_iceberg_table(
        spark, base.where("event_id % 2 = 0"), tdir, now_ms=1_000,
        partition_spec=old_spec,
    )
    commit_position_deletes(spark, tdir, "event_id % 10 = 0", now_ms=2_000)
    commit_position_deletes(spark, tdir, "event_id % 14 = 0", now_ms=3_000)
    update_partition_spec(tdir, new_spec, now_ms=4_000)
    write_iceberg_table(
        spark, base.where("event_id % 2 = 1"), tdir, now_ms=5_000,
        partition_spec=new_spec,
    )
    # odd-only predicates: the post-evolution commits scope to the new
    # generation's rows, keeping each generation's churn (and the
    # oracle's parity-split deleted-set formula) disjoint
    commit_position_deletes(
        spark, tdir, "event_id % 2 = 1 AND event_id % 9 = 0", now_ms=6_000
    )
    commit_position_deletes(
        spark, tdir, "event_id % 2 = 1 AND event_id % 15 = 0", now_ms=7_000
    )
    rewrite_position_deletes(spark, tdir, now_ms=8_000)
    return tdir


@query(
    "iceberg_rpd_evolution_scan",
    oracle=f"""
SELECT CAST(event_id % {N_DAYS} AS BIGINT) AS ts_day,
       CAST(SUM(CASE WHEN NOT (
                (event_id % 2 = 0
                 AND (event_id % 10 = 0 OR event_id % 14 = 0))
             OR (event_id % 2 = 1
                 AND (event_id % 9 = 0 OR event_id % 15 = 0))
            ) THEN 1 ELSE 0 END) AS BIGINT) AS n_live,
       CAST(1 AS BIGINT) AS max_one_per_cell,
       CAST(1 AS BIGINT) AS both_generations,
       CAST(1 AS BIGINT) AS counters_exact
FROM events
WHERE event_id % {N_DAYS} BETWEEN 0 AND 7
GROUP BY CAST(event_id % {N_DAYS} AS BIGINT)
""",
)
def iceberg_rpd_evolution_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Delete-plane compaction ACROSS a partition-spec evolution (r10):
    after churn in both spec generations, one
    ``rewrite_position_deletes`` leaves every generation's every cell
    with at most ONE live position-delete file (``max_one_per_cell``),
    commits merged files for BOTH generations under their own spec ids
    (``both_generations``), keeps the snapshot's
    total-position-deletes counter equal to the relational deleted
    count (``counters_exact``), and the merged multi-generation layout
    serves exact per-day live counts. Scale shape: an evolved CDC
    table's old-generation delete plane compacts in the same single
    O(delete bytes) pass — no full data rewrite needed to bound old
    cells' delete-file counts."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        read_iceberg_table,
        read_table_metadata,
    )

    tdir = _rpd_evolution_table(spark, sf_dir)
    back = read_table_metadata(tdir)
    per_cell: dict[tuple, int] = {}
    sids = set()
    for m in back["manifests"]:
        sid = int(m["file"]["partition_spec_id"])
        for e in m["entries"]:
            d = e["data_file"]
            if (
                e["status"] != 2
                and d.get("content") == 1
                and not d.get("referenced_data_file")
                and str(d["file_path"]).endswith(".parquet")
            ):
                cell = (sid, json.dumps(d["partition"], sort_keys=True))
                per_cell[cell] = per_cell.get(cell, 0) + 1
                sids.add(sid)
    max_one = 1 if per_cell and max(per_cell.values()) == 1 else 0
    both = 1 if sids == {0, 1} else 0
    meta = back["metadata"]
    cur = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    n_deleted_meta = int(cur["summary"]["total-position-deletes"])
    n_deleted_real = (
        load_table(spark, sf_dir, "events")
        .where(
            "(event_id % 2 = 0 AND (event_id % 10 = 0 OR event_id % 14 = 0))"
            " OR (event_id % 2 = 1 AND (event_id % 9 = 0 OR event_id % 15 = 0))"
        )
        .count()
    )
    counters = 1 if n_deleted_meta == n_deleted_real else 0
    lo, hi = 0, 8 * MICROS_PER_DAY - 1
    return (
        read_iceberg_table(spark, tdir, source_predicates={"ts_us": (lo, hi)})
        .groupBy(
            F.floor(F.col("ts_us") / MICROS_PER_DAY)
            .cast("bigint")
            .alias("ts_day")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_live"))
        .select(
            "ts_day",
            "n_live",
            F.lit(max_one).cast("bigint").alias("max_one_per_cell"),
            F.lit(both).cast("bigint").alias("both_generations"),
            F.lit(counters).cast("bigint").alias("counters_exact"),
        )
    )


@query(
    "iceberg_rewrite_pos_deletes_scan",
    oracle=f"""
SELECT CAST(event_id % {N_DAYS} AS BIGINT) AS ts_day,
       CAST(SUM(CASE WHEN event_id % 97 <> 0 AND event_id % 89 <> 0
                      AND event_id % 83 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_live,
       CAST(1 AS BIGINT) AS merged_one_per_cell,
       CAST(1 AS BIGINT) AS counters_exact
FROM events
WHERE event_id % {N_DAYS} BETWEEN 0 AND 7
GROUP BY CAST(event_id % {N_DAYS} AS BIGINT)
""",
)
def iceberg_rewrite_pos_deletes_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Delete-plane compaction (Iceberg ``rewritePositionDeleteFiles``):
    after three churn commits and the merge, every partition cell holds
    at most ONE live position-delete file (``merged_one_per_cell`` pins
    it structurally), the snapshot's total-position-deletes counter
    equals the relational deleted count (``counters_exact``), and the
    merged layout serves exact per-day live counts. Scale shape: a CDC
    table's read cost is bounded by delete-file COUNT per cell — the
    merge keeps it at one regardless of commit history, with dangling
    rows dropped in the same O(delete bytes) pass."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        read_iceberg_table,
        read_table_metadata,
    )

    tdir = _pos_delete_churn_table(spark, sf_dir)
    back = read_table_metadata(tdir)
    per_cell: dict[str, int] = {}
    for m in back["manifests"]:
        for e in m["entries"]:
            d = e["data_file"]
            if e["status"] != 2 and d.get("content") == 1:
                cell = json.dumps(d["partition"], sort_keys=True)
                per_cell[cell] = per_cell.get(cell, 0) + 1
    merged = 1 if per_cell and max(per_cell.values()) == 1 else 0
    meta = back["metadata"]
    cur = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    n_deleted_meta = int(cur["summary"]["total-position-deletes"])
    n_deleted_real = (
        load_table(spark, sf_dir, "events")
        .where(
            "event_id % 97 = 0 OR event_id % 89 = 0 OR event_id % 83 = 0"
        )
        .count()
    )
    counters = 1 if n_deleted_meta == n_deleted_real else 0
    lo, hi = 0, 8 * MICROS_PER_DAY - 1
    return (
        read_iceberg_table(spark, tdir, source_predicates={"ts_us": (lo, hi)})
        .groupBy(
            F.floor(F.col("ts_us") / MICROS_PER_DAY)
            .cast("bigint")
            .alias("ts_day")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_live"))
        .select(
            "ts_day",
            "n_live",
            F.lit(merged).cast("bigint").alias("merged_one_per_cell"),
            F.lit(counters).cast("bigint").alias("counters_exact"),
        )
    )
