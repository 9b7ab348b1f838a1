from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from minoan_athenaeum_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

# The reference's golden-test fixtures (the cities/countries tables and
# the example-1..3 queries): the reference checkout where it is present,
# else the copy transcribed from FIXTURES.md §A into the repo. The
# vendored copy holds expected row sets (example-N.rows.json) in place of
# the reference's byte-exact example-N.out files.
VENDORED_REFERENCE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "goldens", "reference"
)
REFERENCE_FIXTURES = (
    "/root/reference" if os.path.isdir("/root/reference") else VENDORED_REFERENCE
)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="mas-tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def sf01_dir(sf_dir):
    """The sf0.01 test data, which sits beside the sf0.001 data."""
    return os.path.join(os.path.dirname(sf_dir), "sf0.01")


@pytest.fixture
def jobs_run(spark):
    """``jobs_run(fn)``: the number of Spark jobs ``fn()`` runs, counted
    in a job group of its own."""
    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
