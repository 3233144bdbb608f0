from __future__ import annotations

import itertools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from kaylee_spark.session import get_spark

    s = get_spark("kaylee_tests", cpus=os.environ.get("KAYLEE_TEST_CPUS", "8"))
    yield s


@pytest.fixture(scope="session")
def at_width(spark):
    """``at_width(n)``: a new session on the shared context whose
    ``spark.sql.shuffle.partitions`` is ``n``. A pinned loop over a
    frame of unknown size (``createDataFrame``) runs at its session's
    width, so a test compares two widths by building its input on two
    such sessions. The operator's own pin holds the same conf key, so
    a ``scoped_conf`` around the call on one session would raise."""

    def make(n: int):
        s = spark.newSession()
        s.conf.set("spark.sql.shuffle.partitions", str(n))
        return s

    return make


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def build_jobs(spark):
    """``build_jobs(build)``: the number of Spark jobs started while
    ``build()`` runs, read from the status tracker by job group."""

    groups = itertools.count()

    def count(build) -> int:
        sc = spark.sparkContext
        group = f"build-jobs-{next(groups)}"
        sc.setJobGroup(group, group)
        try:
            build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
