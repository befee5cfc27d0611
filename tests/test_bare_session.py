"""Driver-session compatibility: every registered query must run on a
BARE SparkSession — no engine confs from session.py.

This is the exact failure mode that produced 12 erroring queries in
round 1 (missing nanosAsLong conf) and 5 in round 2 (TIMESTAMP_NTZ
events): the external correctness driver builds its own session, so any
query that silently depends on session.py's config (legacy parquet
flags, python-datasource pushdown, broadcast thresholds) breaks there
while the engine's own tests stay green. The registry is executed in a
subprocess so the shared test session's config can't leak in.

Since r11 this file covers only the queries WITHOUT an oracle (the
rows-only driver check); every oracled query gets the strictly stronger
VALUE-level bare-session replay in ``test_driver_session_parity.py``
(the r10 INT96 red proved count-only lets silent plan/hash regressions
through), so running them count-only here too would be pure double
work.
"""

from __future__ import annotations

import subprocess
import sys

_SCRIPT = r"""
import sys
from pyspark.sql import SparkSession

# deliberately minimal: master + the UTC timezone the driver data assumes,
# nothing else from session.py
spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as e
from tiered_storage_for_apache_kafka_spark.operators import ORACLES

failures = []
# oracled queries are value-replayed on a default-conf session in
# test_driver_session_parity.py; only the rows-only ones remain here
qs = {n: f for n, f in e.queries().items() if n not in ORACLES}

def go(name):
    try:
        n = qs[name](spark, "/root/testdata/sf0.001").count()
        assert n >= 0
    except Exception as ex:
        failures.append(f"{name}: {type(ex).__name__}: {str(ex)[:200]}")

# all concurrently — Spark interleaves jobs from multiple submitter
# threads, so wall time is the pool's; each shared fixture is built
# once under its own lock
from concurrent.futures import ThreadPoolExecutor
with ThreadPoolExecutor(max_workers=8) as ex:
    list(ex.map(go, qs))
if failures:
    print("BARE-SESSION FAILURES:\n" + "\n".join(sorted(failures)))
    sys.exit(1)
print(f"bare-session OK: {len(qs)} queries")
"""


def test_every_query_runs_on_a_bare_session():
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT],
        capture_output=True,
        text=True,
        timeout=900,
        cwd="/root/repo",
    )
    assert proc.returncode == 0, (
        f"stdout:\n{proc.stdout[-4000:]}\nstderr:\n{proc.stderr[-2000:]}"
    )
