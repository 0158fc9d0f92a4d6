from __future__ import annotations

import os
import uuid
from contextlib import contextmanager

import pytest

from apache_iceberg_tables_migration_tool_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MID = "/root/testdata/sf0.01"

#: The FULL suite outgrew the driver's pytest budget (r14: ~48 min,
#: killed at ~65% with zero failures — VERDICT r14 action #1). Tests
#: marked ``full`` are the deep-soak tier (Hypothesis fuzz suites,
#: recall-at-scale sweeps, exhaustive per-query replicas); they are
#: SKIPPED by default and run with ``SPARK_GRAFT_FULL_TESTS=1``.
#: The default suite keeps at least one functional test per operator
#: and the complete oracle pin of every registered query, and
#: completes well inside the budget. The round-gate full sweeps
#: (sf0.01 driver replica + SPARK_GRAFT_FULL_TESTS=1 pytest) still
#: run before every round close — see OPTIMIZATION_r15.md.
RUN_FULL = bool(os.environ.get("SPARK_GRAFT_FULL_TESTS"))


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "full: deep-soak tier, skipped unless SPARK_GRAFT_FULL_TESTS=1",
    )


def pytest_collection_modifyitems(config, items):
    if RUN_FULL:
        return
    skip = pytest.mark.skip(
        reason="full-tier test (set SPARK_GRAFT_FULL_TESTS=1 to run)"
    )
    for item in items:
        if "full" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[8]", extra_conf={
        "spark.sql.shuffle.partitions": "8",
        "spark.driver.memory": "4g",
    })
    yield s


@contextmanager
def job_group(spark):
    """Run the block under a fresh Spark job group; yields a callable
    returning the ids of the jobs started in this thread since."""
    sc = spark.sparkContext
    group = f"test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        yield lambda: list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
