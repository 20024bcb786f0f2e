from __future__ import annotations

import pytest

from ocr_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="ocr_spark_tests", master="local[4]",
                  shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture
def jobs_in_group(spark):
    """``count(group, fn)``: run ``fn()`` under Spark job group
    ``group`` and return how many jobs it submitted."""
    def count(group: str, fn) -> int:
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))
    return count
