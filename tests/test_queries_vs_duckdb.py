"""Self-check harness mirroring the driver's correctness gate.

For every registered query with an oracle: run the Spark DataFrame and the
DuckDB SQL on the same parquet tables, then compare row count, column
names, and an order-insensitive value comparison.

Driver-faithful comparison: BOTH sides are materialized through pandas
(Spark ``toPandas()`` vs DuckDB ``.df()``) and cells are stringified
WITHOUT any semantic normalization — ``Decimal('253942.00')`` and
``float64 253942.0`` are *different* here, exactly as they hash
differently in the driver. Round-1 lesson: a semantic compare stayed
green while the driver hash was red, because Spark emits ``Decimal``/
``int64`` where DuckDB→pandas emits ``float64`` for the same numbers.
The portability rules in ``operators/registry.py`` (minor-unit BIGINT
outputs, no raw DECIMAL/TIMESTAMP) exist to make this representation
match, and ``test_no_decimal_or_timestamp_outputs`` pins them.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from _driver_compare import canon_frame as _canon_frame  # noqa: E402
from _driver_compare import duck_con as _duck_con  # noqa: E402

from tiered_storage_for_apache_kafka_spark.operators import ORACLES, QUERIES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="module")
def spark_results(spark):
    """Execute every oracled query once, concurrently (Spark's scheduler
    interleaves jobs from multiple submitter threads), and hand each
    parametrized compare its finished pandas frame — the per-query
    verdict granularity is unchanged, but the wall-clock is the pool's,
    not the sum of 130+ sequential job latencies."""
    from concurrent.futures import ThreadPoolExecutor

    res: dict[str, object] = {}

    def go(name):
        try:
            sdf = QUERIES[name](spark, SF_DIR)
            return name, (sdf.toPandas(), sdf.schema)
        except Exception as e:  # surfaced by the per-query test
            return name, e

    with ThreadPoolExecutor(max_workers=8) as ex:
        for name, r in ex.map(go, sorted(ORACLES)):
            res[name] = r
    return res


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, spark_results, name):
    entry = spark_results[name]
    if isinstance(entry, Exception):
        raise AssertionError(f"{name}: spark side failed") from entry
    spark_pdf, _schema = entry

    con = _duck_con(SF_DIR)
    duck_pdf = con.execute(ORACLES[name]).df()
    con.close()

    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"{name}: column mismatch spark={list(spark_pdf.columns)} "
        f"duck={list(duck_pdf.columns)}"
    )
    assert len(spark_pdf) == len(duck_pdf), (
        f"{name}: row count spark={len(spark_pdf)} duck={len(duck_pdf)}"
    )
    s = _canon_frame(spark_pdf)
    d = _canon_frame(duck_pdf)
    if s != d:
        diffs = [(a, b) for a, b in zip(s, d) if a != b][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_no_decimal_or_timestamp_outputs(spark, spark_results, name):
    """Portability invariant (registry.py rules): oracle-checked queries
    never emit DECIMAL, TIMESTAMP, or DATE in their final schema — all
    three render engine-dependently through pandas (Decimal vs float64,
    µs vs ns, datetime.date vs datetime64). ISO strings and scaled
    BIGINT are the sanctioned forms."""
    from pyspark.sql.types import DateType, DecimalType, TimestampType

    entry = spark_results[name]
    if isinstance(entry, Exception):
        raise AssertionError(f"{name}: spark side failed") from entry
    _pdf, schema = entry
    bad = [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (DateType, DecimalType, TimestampType))
    ]
    assert not bad, f"{name}: non-portable output columns {bad}"


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    assert df.count() >= 0  # driver's weaker rows-only check


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())
