from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # tests: small local parallelism

from parquet_rewriter_spark.operators.util import cache_scope
from parquet_rewriter_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="prs-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(autouse=True)
def _test_cache_scope():
    """Each test owns the caches it makes: they are released when it
    ends, so no test reads or pays for another's executor storage."""
    with cache_scope():
        yield
