"""Central query registry.

Every operator the engine claims (SURVEY.md §2) registers here:
a Spark callable ``(spark, sf_dir) -> DataFrame`` and, when
SQL-expressible, an equivalent DuckDB oracle SQL string. The driver
runs both sides at sf0.01 and hash-compares (order-insensitive,
columns sorted by name) — so Spark aliases and SQL ``AS`` names MUST
match exactly.

Portability rules used throughout the operator modules (so that the
same values hash identically from Spark and DuckDB):

- money/quantity aggregates: cast to DECIMAL *before* arithmetic/SUM
  (double sums differ in ulps between engines; decimal sums are exact);
- **never output DECIMAL**: Spark emits ``Decimal`` objects where
  DuckDB→pandas emits ``float64`` — numerically equal, hash-different.
  Keep decimal internal, emit minor-unit BIGINT via :func:`minor_units`
  / :func:`minor_units_sql` (suffix the column ``_e{{scale}}``);
- integer division: ``FLOOR(x / c.0)`` + cast BIGINT (DuckDB ``/`` on
  ints yields double, Spark yields double too — floor both);
- no raw TIMESTAMP or DATE outputs (Spark→pandas gives datetime.date /
  µs objects, DuckDB→pandas gives datetime64[ns]) — emit ISO strings
  (``CAST(d AS VARCHAR)`` / ``.cast("string")``), BIGINT sums of window
  sums get an explicit outer CAST (DuckDB SUM(BIGINT)→HUGEINT→float64);
- hashing of content: ``md5`` hex strings (identical in both engines);
- float similarity scores are never output raw — ranks are output, with
  ordering on ``round(sim, N)`` plus a deterministic id tiebreak.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def minor_units(col, scale: int):
    """Decimal aggregate → minor-unit BIGINT output (the hash-portable
    form: Spark `Decimal` vs DuckDB→pandas `float64` render differently
    even when numerically equal, int64 renders identically).

    The tight DECIMAL(25,s) re-cast keeps the multiply inside DECIMAL(38)
    on both engines, so the conversion is exact end-to-end.
    """
    return (col.cast(f"decimal(25,{scale})") * (10**scale)).cast("bigint")


def minor_units_sql(expr: str, scale: int) -> str:
    """DuckDB-side twin of :func:`minor_units`."""
    return f"CAST(CAST({expr} AS DECIMAL(25,{scale})) * {10**scale} AS BIGINT)"


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query; ``oracle`` is DuckDB SQL or None (rows-only check)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def lineage_cut(df: DataFrame) -> DataFrame:
    """Materialize a shared intermediate and TRUNCATE its lineage
    (``localCheckpoint``) instead of ``.cache()``-ing it with the full
    upstream plan attached.

    Why (optimization guide §3.3/§5): a ``.cache()``d DataFrame keeps
    its entire logical plan; every consumer query re-embeds — and the
    driver re-analyzes/re-canonicalizes — that tree on every run. The
    shared caches here sit on top of deep pipelines (LSH: scan → token
    explode → 8-hash signatures → bands → verify joins), so a consumer
    as small as a 3-round PageRank was paying seconds of driver-side
    planning over a ~12 KiB graph (measured sf0.1: 4.0 s → 0.8 s warm
    after the cut). ``localCheckpoint`` materializes the partitions on
    the executors (persisted, spillable) and replaces the plan with a
    compact scan of them.

    DURABILITY caveat (ADVICE r13): localCheckpoint partitions are
    stored NON-REPLICATED with the lineage discarded — on a real
    cluster, losing an executor permanently fails every consumer of
    the cache instead of recomputing, where ``.cache()`` would rebuild
    from lineage. That is the right trade in a single-JVM local
    session (there is no separate executor to lose) and the wrong one
    at 1000 executors, so the mode is env-selectable:

    ``SPARK_GRAFT_SHARED_CACHE_MODE``
      - ``localCheckpoint`` (default): plan truncation + executor
        storage, local-mode posture;
      - ``persist``: ``.persist(MEMORY_AND_DISK)`` — keeps lineage
        (recomputable after executor loss) at the cost of consumers
        re-embedding the full upstream plan;
      - ``checkpoint``: reliable checkpoint to
        ``spark.sparkContext.setCheckpointDir``'s location — plan
        truncation AND durability, at the cost of writing the
        partitions to the checkpoint filesystem. With no checkpoint
        dir set, a ``local`` master falls back to an automatic temp
        dir; any other master raises ``ValueError``, because a temp
        dir on the driver is not reachable from remote executors.

    Same session-lifetime semantics in all modes: storage lives and
    dies with the SparkSession, nothing persists across processes/runs.
    Every mode materializes EAGERLY here (one job) rather than lazily
    on first action, so a ``session.session_fixture`` builder runs its
    upstream — and any side effects in it — exactly once, under the
    fixture's lock, however many consumers act on the result.
    """
    import os
    import tempfile

    mode = os.environ.get("SPARK_GRAFT_SHARED_CACHE_MODE", "localCheckpoint")
    if mode == "persist":
        from pyspark import StorageLevel

        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        df.count()  # fills every partition's block, as the checkpoints do
        return df
    if mode == "checkpoint":
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            if not (sc.master == "local" or sc.master.startswith("local[")):
                raise ValueError(
                    "SPARK_GRAFT_SHARED_CACHE_MODE=checkpoint on master "
                    f"{sc.master!r} needs a checkpoint dir every executor "
                    "can reach: call spark.sparkContext.setCheckpointDir first"
                )
            sc.setCheckpointDir(
                tempfile.mkdtemp(prefix="spark-graft-checkpoint-")
            )
        return df.checkpoint()
    if mode != "localCheckpoint":
        raise ValueError(
            "SPARK_GRAFT_SHARED_CACHE_MODE must be one of "
            f"localCheckpoint|persist|checkpoint, got {mode!r}"
        )
    return df.localCheckpoint()
