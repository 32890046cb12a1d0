from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from project_final_parquet_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pytest")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def jobs_run_by(spark):
    """``jobs_run_by(fn)`` -> (number of Spark jobs ``fn`` ran, its
    result), counted under a job group of its own."""
    import uuid

    def run(fn):
        sc = spark.sparkContext
        group = f"jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            result = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group)), result

    return run
