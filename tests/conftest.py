"""Shared pytest fixtures: one SparkSession for the whole test run."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from multi_threaded_mapreduce_framework_spark.session import get_spark
from multi_threaded_mapreduce_framework_spark.streaming.protoshim import ensure_protobuf

# Must run BEFORE the first SparkSession: the vendored protobuf runtime
# (transformWithStateInPandas transport) reaches Spark's Python workers
# via PYTHONPATH, which the JVM snapshots at launch.
ensure_protobuf()

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    # Few shuffle partitions: test data is tiny; AQE coalesces anyway but
    # a small static number keeps tiny-stage scheduling overhead down.
    s = get_spark("mtmrf-tests", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture
def memo_get(spark):
    """Look up this session's ``session_memo`` value for ``key`` (the
    latest input version's); ``None`` when nothing is memoized."""
    from multi_threaded_mapreduce_framework_spark.sources import fixtures

    def get(key):
        app = spark.sparkContext.applicationId
        hits = [v for (a, k, _), v in fixtures._MEMO.items() if (a, k) == (app, key)]
        return hits[-1] if hits else None

    return get
