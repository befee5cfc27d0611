from __future__ import annotations

import contextlib

import pytest

from tiered_storage_for_apache_kafka_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="tests", master="local[8]", shuffle_partitions=8)
    yield spark
    spark.stop()


@contextlib.contextmanager
def join_form_attach():
    """Force every merge-on-read per-file metadata attach into its
    broadcast-join form (attach budget 0) for the duration of the
    block. Yields the list of attach calls made, so a caller can
    assert that the form really ran."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import scan

    calls = []
    attach = scan._attach_file_meta

    def counted(*args, **kwargs):
        calls.append(args[2])
        return attach(*args, **kwargs)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(scan, "_ATTACH_PROBES", 0)
        mp.setattr(scan, "_attach_file_meta", counted)
        yield calls


@pytest.fixture
def join_form():
    """:func:`join_form_attach` over a whole test."""
    with join_form_attach() as calls:
        yield calls


@pytest.fixture
def join_form_block():
    """:func:`join_form_attach` itself, for a test that runs only some
    of its reads in the join form."""
    return join_form_attach
