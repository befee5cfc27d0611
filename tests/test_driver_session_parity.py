"""Value-level replay of every oracled query under a DEFAULT-CONF
SparkSession — the gate the r10 red proved was missing.

``test_queries_vs_duckdb.py`` replays all oracles under the engine's
``get_spark`` session; the external correctness driver runs the same
queries under its OWN vanilla session. Any correctness that silently
depends on a ``get_spark`` conf is therefore invisible to the in-repo
gate: in round 10, ``iceberg_timestamp_window_scan`` wrote a timestamp
column whose INT96 chunks (vanilla ``outputTimestampType`` default)
carry no footer statistics, so the temporal column-bounds plane
silently degraded to full scan — rows matched, the pinned
``window_pruned`` hash cell didn't, and the suite stayed green. The
fix lives in ``session.pinned_write_confs`` (every engine parquet
write path pins INT64-micros itself); THIS test pins the whole class:
a subprocess builds a session with NO engine confs (the only additions
are provably value-neutral: shuffle-partition count and UI off) and
hash-compares every oracled query against DuckDB with the driver's own
no-normalization canonicalization (``tests/_driver_compare.py``).

Subprocess isolation is mandatory: ``getOrCreate`` in-process would
reuse the shared test session (whose builder confs also seed
``newSession()`` through the SparkContext conf), silently restoring
exactly the confs this test must NOT have.
"""

from __future__ import annotations

import os
import subprocess
import sys

_SCRIPT = r"""
import sys
from pyspark.sql import SparkSession

# DEFAULT-CONF session: no engine confs. shuffle.partitions and the UI
# flag are the only additions — both value-neutral (the driver's own
# partitioning differs from ours anyway; registry portability rules ban
# partition-count-dependent outputs). NOT set, deliberately:
# outputTimestampType (INT96 default — the r10 trap), session.timeZone
# (host TZ), nanosAsLong, Arrow, broadcast threshold, AQE.
spark = (
    SparkSession.builder.master("local[16]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
assert spark.conf.get("spark.sql.parquet.outputTimestampType") == "INT96", (
    "session not vanilla: outputTimestampType already pinned"
)

sys.path.insert(0, "tests")
from _driver_compare import canon_frame, compare_frames, duck_con

import __spark_entry__ as e
from tiered_storage_for_apache_kafka_spark.operators import ORACLES, QUERIES

SF_DIR = "/root/testdata/sf0.01"  # the driver's own gate scale: pins
# that depend on file-slice geometry (bounds_pruned and friends) can
# legitimately differ at sf0.001, so a smaller replay would cry wolf
failures = []

def run_spark(name):
    try:
        return QUERIES[name](spark, SF_DIR).toPandas()
    except Exception as ex:
        failures.append(f"{name}: spark ERROR {type(ex).__name__}: {str(ex)[:200]}")
        return None

# all concurrently — Spark interleaves jobs from multiple submitter
# threads, and each shared fixture is built once under its own lock
results = {}
oracled = sorted(ORACLES)
from concurrent.futures import ThreadPoolExecutor
with ThreadPoolExecutor(max_workers=8) as ex:
    for name, pdf in zip(oracled, ex.map(run_spark, oracled)):
        results[name] = pdf

con = duck_con(SF_DIR)
for name in oracled:
    pdf = results.get(name)
    if pdf is None:
        continue
    try:
        duck_pdf = con.execute(ORACLES[name]).df()
        compare_frames(name, pdf, duck_pdf)
    except AssertionError as ex:
        failures.append(str(ex))
    except Exception as ex:
        failures.append(f"{name}: oracle ERROR {type(ex).__name__}: {str(ex)[:200]}")
con.close()

if failures:
    print("DRIVER-SESSION PARITY FAILURES:\n" + "\n".join(sorted(failures)))
    sys.exit(1)
print(f"driver-session parity OK: {len(oracled)} oracled queries hash-match")
"""


def test_all_oracles_match_under_default_conf_session():
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_SF_DIR", None)
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True,
        text=True,
        timeout=1800,
        env=env,
    )
    assert proc.returncode == 0, (
        f"default-conf session parity failed:\n{proc.stdout[-8000:]}\n"
        f"{proc.stderr[-3000:]}"
    )
