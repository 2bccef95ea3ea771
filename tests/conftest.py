from __future__ import annotations

import os

import pytest

from flechasdb_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# The suite runs in one driver JVM. Under the library's 48g default heap
# that JVM grew to 14-15 GB of RSS in the streaming tests on a 15 GB,
# 4-core host and was killed by the kernel's OOM killer; a bounded heap
# is collected instead of grown. Set SPARK_DRIVER_MEM to override.
os.environ.setdefault("SPARK_DRIVER_MEM", "6g")


def pytest_collection_modifyitems(config, items):
    """Certification-suite split (VERDICT r10 #2): every test is marked
    either `oracle` (the per-row DuckDB sweep in tests/test_oracle.py,
    the shard that grows linearly with the registry) or `fast`
    (everything else). The two shards are exhaustive and disjoint so
    `-m fast` + `test_oracle.py` together equal the full suite; see
    pytest.ini for the two-command certification recipe."""
    for item in items:
        if item.fspath.basename == "test_oracle.py":
            item.add_marker(pytest.mark.oracle)
        else:
            item.add_marker(pytest.mark.fast)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="flechasdb_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
