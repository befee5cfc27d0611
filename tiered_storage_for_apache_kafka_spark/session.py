"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]`` single-JVM, but every knob here is chosen
for the 1000-executor / 100 TB case and merely *also* works locally:

- AQE on (runtime coalescing, skew-join splitting) — at 100 TB, static
  partition counts are always wrong somewhere.
- ``spark.sql.shuffle.partitions`` defaults to cores locally; on a real
  cluster it should be ~2-3x total cores (AQE coalesces down).
- Arrow enabled: every Pandas UDF crossing is Arrow-batched.
- Parquet zstd: matches the reference's chunk compression choice
  (``CompressionChunkEnumeration.java:26-64``) on the JVM-native path.
"""

from __future__ import annotations

import functools
import os
import threading

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "tiered-storage-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.parquet.filterPushdown", "true")
        # let Catalyst push offset/partition predicates into the
        # tiered_segments Python DataSource's segment pruning
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # driver testdata stores events.ts as TIMESTAMP(NANOS) which the
        # vectorized reader rejects; read as long and convert in tables.py
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # let the planner pick shuffled-hash join when its size checks
        # pass (guide §9): for moderate build sides it skips the sort
        # on both inputs; sort-merge remains the fallback whenever the
        # hash side would not fit. Env-overridable (ADVICE r13): a
        # shuffled-hash build side must fit per-task memory and
        # degrades worse than SMJ under extreme skew, so a deployment
        # can restore Spark's default with
        # SPARK_GRAFT_PREFER_SMJ=true and no code change.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("SPARK_GRAFT_PREFER_SMJ", "false"),
        )
        # Iceberg-planned reads hand Spark explicit leaf-FILE lists
        # (no directory recursion); above this path count Spark spawns
        # a distributed listing JOB whose scheduling overhead dwarfs
        # the work (measured: an 800-path local plan resolved in
        # 1.5-1.6 s via the listing job vs 0.18 s driver-side). Local
        # stat of a leaf path is ~µs, so driver-side listing is right
        # well past any local plan size; deployments on high-latency
        # object stores with >10k-file plans can lower it back via
        # SPARK_GRAFT_LIST_JOB_THRESHOLD (driver-side listing there
        # still uses Spark's internal listing thread pool).
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            os.environ.get("SPARK_GRAFT_LIST_JOB_THRESHOLD", "10000"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        # write timestamps as INT64 micros, never the deprecated INT96:
        # Iceberg mandates int64 timestamp storage, and INT96 chunks
        # carry no usable footer stats — the temporal column-bounds
        # pruning plane (r10) needs the exact micros min/max INT64
        # publishes
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # local[N] runs everything in the driver JVM: executors' working
        # memory, every persisted family cache, and shuffle buffers all
        # share this heap. 8g GC-thrashed at sf0.1 (random 5-8s spikes on
        # otherwise sub-second queries); 24g keeps full-run GC quiet on a
        # 128 GiB box. On a real cluster this knob is per-executor memory
        # territory and the default is irrelevant.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # the sharded test suite runs 7 concurrent local JVMs on 32
        # cores; under that load a freshly forked Python worker can
        # miss the default 15 s connect-back window (observed once:
        # SocketTimeoutException in a streaming foreachBatch) — widen
        # the handshake budget, which costs nothing when idle
        .config("spark.python.authenticate.socketTimeout", "60s")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


_MISSING = object()


def session_fixture(build):
    """Decorator: cache ``build(spark, sf_dir, *args)`` once per session.

    This is the one mechanism for every shared intermediate the engine
    reuses across queries of a session (token frames, the tiered store,
    Iceberg twins, trained models, table loads). The policy:

    - **Key.** ``(spark.sparkContext.applicationId, sf_dir, *args)``,
      one dict per decorated function. A cached DataFrame's lineage is
      bound to the session that built it, so a same-process session
      restart (a new applicationId) never sees a stale entry. Extra
      positional arguments must be hashable.
    - **Single build per key.** A hit is one key lookup and one dict
      get. A miss builds under a per-key lock: concurrent first
      consumers wait for the one builder instead of repeating its
      side effects (uploads, Iceberg commits). A builder that raises
      caches nothing and releases the lock, so the next call rebuilds.
    - **Dead-session eviction.** Inserting an entry evicts the entries
      and locks of every other session, so a restart does not pin the
      DataFrames (and py4j handles) of a dead JVM context.
    - **Eager materialization.** A builder materializes the shared
      DataFrame it returns, normally through
      ``operators.registry.lineage_cut``, which is eager in every
      ``SPARK_GRAFT_SHARED_CACHE_MODE``. The build's jobs and side
      effects therefore run once, under the lock, rather than in
      whichever consumer acts first.

    The decorated function keeps ``build``'s name and docstring, so it
    can be registered as a query itself.
    """
    cache: dict[tuple, object] = {}
    locks: dict[tuple, threading.Lock] = {}
    guard = threading.Lock()

    @functools.wraps(build)
    def fixture(spark, sf_dir, *args):
        key = (spark.sparkContext.applicationId, sf_dir, *args)
        value = cache.get(key, _MISSING)
        if value is not _MISSING:
            return value
        with guard:
            lock = locks.setdefault(key, threading.Lock())
        with lock:
            value = cache.get(key, _MISSING)
            if value is _MISSING:
                value = build(spark, sf_dir, *args)
                with guard:
                    for d in (cache, locks):
                        for stale in [k for k in d if k[0] != key[0]]:
                            del d[stale]
                    cache[key] = value
        return value

    return fixture


# ---------------------------------------------------------------------------
# Session-portable write confs (r11)
#
# The engine must produce spec-legal parquet under ANY SparkSession, not
# just get_spark's: the correctness driver (and any downstream user)
# hands query code its own vanilla session, where Spark's default
# spark.sql.parquet.outputTimestampType=INT96 applies. INT96 timestamp
# chunks carry NO footer statistics (min/max absent), so the manifest
# stats fold publishes no bounds and temporal column-bounds pruning
# silently degrades to full scan — and INT96 is not a legal Iceberg
# parquet encoding for timestamps at all (the spec mandates int64
# micros), so external readers would reject the files. Every engine
# parquet-write path therefore pins these confs around its own write
# instead of trusting the ambient session (r10 post-mortem:
# iceberg_timestamp_window_scan went driver-red while the get_spark
# gate stayed green).

_PINNED_WRITE_CONFS = {
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # field ids from StructField metadata -> real parquet field ids
    # (writer._with_parquet_field_ids): Spark's default is already true,
    # but a session that disabled it would silently strip the id-based
    # resolution contract external Iceberg readers depend on
    "spark.sql.parquet.fieldId.write.enabled": "true",
}

_PIN_LOCK = threading.Lock()
# per-SparkSession pin state: id(session) -> [depth, {conf: saved}]
_PIN_STATE: dict[int, list] = {}


class pinned_write_confs:
    """Context manager: set the engine's load-bearing parquet write
    confs on ``spark`` for the duration of a write, restoring the
    caller's values after. Re-entrant and thread-safe within a process
    (a per-session depth counter — all pins set identical values, so
    overlapping writers on the same session compose); restore happens
    only when the last writer on that session exits, so a concurrent
    write never sees the confs flip mid-action."""

    def __init__(self, spark):
        self._spark = spark

    def __enter__(self):
        with _PIN_LOCK:
            state = _PIN_STATE.get(id(self._spark))
            if state is None:
                saved: dict[str, str | None] = {}
                for k, v in _PINNED_WRITE_CONFS.items():
                    try:
                        saved[k] = self._spark.conf.get(k, None)
                    except Exception:
                        saved[k] = None
                    self._spark.conf.set(k, v)
                _PIN_STATE[id(self._spark)] = [1, saved]
            else:
                state[0] += 1
        return self._spark

    def __exit__(self, *exc):
        with _PIN_LOCK:
            state = _PIN_STATE.get(id(self._spark))
            if state is None:  # unbalanced exit; nothing to restore
                return False
            state[0] -= 1
            if state[0] == 0:
                del _PIN_STATE[id(self._spark)]
                for k, old in state[1].items():
                    try:
                        if old is None:
                            self._spark.conf.unset(k)
                        else:
                            self._spark.conf.set(k, old)
                    except Exception:
                        pass
        return False
