from __future__ import annotations

import sys
import uuid
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bootleg_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="bootleg-spark-tests",
        cores=4,
        extra_conf={"spark.sql.shuffle.partitions": "4"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def pipe(spark):
    """The default ``KgPipeline`` on the smoke corpus, built once; a
    test needing another encoder, dim or corpus builds its own."""
    from bootleg_spark.plans.pipeline import KgPipeline

    return KgPipeline(spark, SF_SMOKE)


def count_jobs(spark, fn):
    """Run ``fn()`` under a fresh Spark job group; return ``(result,
    n_jobs)`` read from the status tracker (starts no job of its own)."""
    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))
