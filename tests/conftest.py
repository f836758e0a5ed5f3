from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("LSD2_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from lsd2_spark.session import get_spark

    # the suite's data is small, but the JVM grows to whatever heap it
    # is given: with the library's 8 GB default it passed 8 GB resident
    # over a full run (4 GB: 5 GB resident) and, beside DuckDB's oracle
    # scans, the run was OOM-killed
    s = get_spark(
        app_name="lsd2_spark_tests",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "2g"},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
