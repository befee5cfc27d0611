"""Probe behind ``sources/iceberg/scan.py::_ATTACH_PROBES``: time one
merge-on-read read of a table with its per-file metadata attached as a
map literal and as a broadcast-joined frame.

Each table has N data files, then a delete, then N more data files, so
N files are newer than the oldest delete and the read must attach their
sequence numbers: ``pos<N>`` carries position deletes (a second one
after the newer files), ``eq<N>`` an equality delete. ``few<N>`` has a
200-row position delete, so its attach is many files by few rows.

    python scripts/attach_crossover.py build DIR N ROWS_PER_FILE
    python scripts/attach_crossover.py read DIR/pos256 [REPS]

``read`` alternates the two forms, drops the first round as warm-up,
checks they return the same rows, and prints one JSON line of seconds
per read for each form, with ``probes``: the largest attach's map-key
comparisons (files in the map x rows looked up), the quantity the
budget bounds.
"""

import json
import os
import sys
import time

from pyspark.sql import functions as F

from tiered_storage_for_apache_kafka_spark.session import get_spark
from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
    commit_append,
    commit_equality_deletes,
    commit_position_deletes,
    read_iceberg_table,
    scan,
)


def _spark():
    return get_spark(
        app_name="attach-crossover", master="local[4]", shuffle_partitions=4
    )


def build(out: str, n: int, rows: int) -> None:
    spark = _spark()

    def append(tdir, lo):
        df = spark.range(lo, lo + n * rows).select(
            F.col("id"), (F.col("id") * 2).alias("v")
        ).repartition(n)
        df.write.parquet(tdir, mode="append")
        commit_append(tdir, df.schema)

    for kind in ("pos", "eq", "few"):
        tdir = os.path.join(out, f"{kind}{n}")
        append(tdir, 0)
        if kind == "eq":
            keys = spark.range(0, n * rows, 4).select("id")
            commit_equality_deletes(spark, tdir, keys, ["id"])
        else:
            pred = "id < 200" if kind == "few" else "id % 4 = 1"
            commit_position_deletes(spark, tdir, pred)
        append(tdir, n * rows)
        if kind == "pos":
            commit_position_deletes(spark, tdir, "id % 4 = 2")
        print("built", tdir, flush=True)
    spark.stop()


def read(table: str, reps: int) -> None:
    spark = _spark()
    budgets = {"literal": 10**18, "join": 0}
    out: dict = {m: [] for m in budgets}
    probes = [0]
    attach = scan._attach_file_meta

    def counted(spark, df, key_col, by_path, fields, row_entries):
        rows = sum(int(e.get("record_count") or 0) for e in row_entries)
        probes[0] = max(probes[0], len(by_path) * rows)
        return attach(spark, df, key_col, by_path, fields, row_entries)

    scan._attach_file_meta = counted
    first = None
    for r in range(reps + 1):
        for m in list(budgets)[:: 1 if r % 2 == 0 else -1]:
            scan._ATTACH_PROBES = budgets[m]
            t0 = time.perf_counter()
            got = tuple(
                read_iceberg_table(spark, table)
                .agg(F.count("*"), F.sum("v"))
                .collect()[0]
            )
            dt = time.perf_counter() - t0
            first = first or got
            assert got == first, (m, got, first)
            if r:
                out[m].append(round(dt, 3))
    spark.stop()
    print(json.dumps({"table": table, "probes": probes[0], **out}))


if __name__ == "__main__":
    if sys.argv[1] == "build":
        build(sys.argv[2], int(sys.argv[3]), int(sys.argv[4]))
    else:
        read(sys.argv[2], int(sys.argv[3]) if len(sys.argv) > 3 else 3)
