"""`session.session_fixture`: one build per (session, sf_dir, *args)
key under concurrency, nothing cached on failure, and dead-session
eviction. A fake session stands in for Spark, so no JVM is started."""

from __future__ import annotations

import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from types import SimpleNamespace

import pytest

from tiered_storage_for_apache_kafka_spark.session import session_fixture


def _session(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def test_concurrent_first_calls_build_once():
    calls = []

    @session_fixture
    def build(spark, sf_dir):
        calls.append(sf_dir)
        time.sleep(0.2)  # hold the lock while the other threads arrive
        return object()

    spark = _session("app-1")
    barrier = threading.Barrier(8)

    def first_call(_):
        barrier.wait(timeout=10)
        return build(spark, "sfA")

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            got = list(pool.map(first_call, range(8), timeout=30))
    finally:
        sys.setswitchinterval(old)
    assert calls == ["sfA"]
    assert all(v is got[0] for v in got)


def test_distinct_extra_args_build_distinct_entries():
    calls = []

    @session_fixture
    def build(spark, sf_dir, snapshot_id):
        calls.append((sf_dir, snapshot_id))
        return (sf_dir, snapshot_id)

    spark = _session("app-1")
    assert build(spark, "sfA", 1) == ("sfA", 1)
    assert build(spark, "sfA", 2) == ("sfA", 2)
    assert build(spark, "sfB", 1) == ("sfB", 1)
    assert build(spark, "sfA", 1) == ("sfA", 1)
    assert calls == [("sfA", 1), ("sfA", 2), ("sfB", 1)]


def test_failed_build_caches_nothing_and_releases_the_lock():
    attempts = []

    @session_fixture
    def build(spark, sf_dir):
        attempts.append(sf_dir)
        if len(attempts) == 1:
            raise RuntimeError("upload failed")
        return "built"

    spark = _session("app-1")
    with pytest.raises(RuntimeError, match="upload failed"):
        build(spark, "sfA")
    # a rebuild from another thread must not block on the failed one
    with ThreadPoolExecutor(max_workers=1) as pool:
        assert pool.submit(build, spark, "sfA").result(timeout=10) == "built"
    assert build(spark, "sfA") == "built"
    assert attempts == ["sfA", "sfA"]


def test_new_session_evicts_dead_session_entries():
    calls = []

    @session_fixture
    def build(spark, sf_dir):
        calls.append((spark.sparkContext.applicationId, sf_dir))
        return object()

    old, new = _session("app-1"), _session("app-2")
    a = build(old, "sfA")
    b = build(old, "sfB")
    assert build(old, "sfA") is a and build(old, "sfB") is b
    build(new, "sfA")
    # every app-1 entry (a dead JVM context) is gone: asking again rebuilds
    assert build(old, "sfB") is not b
    assert calls == [
        ("app-1", "sfA"),
        ("app-1", "sfB"),
        ("app-2", "sfA"),
        ("app-1", "sfB"),
    ]
