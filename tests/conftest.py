from __future__ import annotations

import hashlib
import os
import shutil
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
    """The session's SparkSession. At teardown it deletes the warehouse
    entries the session created for the throwaway sf dirs tests write
    under ``tmp_path``: every new entry whose name holds neither the
    sf0.001 nor the sf0.01 data's tag (index_family.warehouse_index_path
    names derived data ``<prefix>_<md5(sf_dir)[:8]>...``). Entries that
    were there before the session are left alone, and so are the test
    data's, which later sessions reuse."""
    s = get_spark(app_name="mas-tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    wh = s.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    before = set(os.listdir(wh)) if os.path.isdir(wh) else set()
    data = os.path.dirname(SF_DIR)
    tags = {
        hashlib.md5(d.encode()).hexdigest()[:8]
        for d in (SF_DIR, os.path.join(data, "sf0.001"), os.path.join(data, "sf0.01"))
    }
    yield s
    s.stop()
    for name in set(os.listdir(wh) if os.path.isdir(wh) else ()) - before:
        if not any(tag in name for tag in tags):
            shutil.rmtree(os.path.join(wh, name), ignore_errors=True)


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
