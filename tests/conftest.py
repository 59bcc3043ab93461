"""Shared fixtures: one session-scoped SparkSession (local mode, small
shuffle fan-out for test speed) and the fixture directories (TESTDATA.md)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_TINY = "/root/testdata/sf0.001"
SF_SMALL = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from debezium_emr_hudi_deltastreamer_sample_spark.session import get_spark

    # One JVM serves the whole suite: bound its heap (local mode
    # otherwise caps it at 48 GB, and the heap only grows) so a full run
    # fits a 16 GB host.
    spark = get_spark(
        app_name="tests",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "6g"},
    )
    yield spark


@pytest.fixture(scope="session")
def sf_tiny():
    return SF_TINY


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL
