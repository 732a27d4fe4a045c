"""The job census must see a known job run under a group.

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

pyspark = pytest.importorskip("pyspark")

from census import census_by_group, next_job_id  # noqa: E402


@pytest.fixture(scope="module")
def sc():
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[2]")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .getOrCreate())
    yield spark.sparkContext
    spark.stop()


def test_grouped_tiny_job_is_counted(sc):
    start = next_job_id(sc)
    sc.setJobGroup("census-test", "tiny job")
    try:
        assert sc.parallelize(range(100), 4).map(lambda x: x * 2).sum() == 9900
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc.parallelize(range(10), 2).count()  # a job outside every group
    by_group, untagged = census_by_group(sc, ["census-test"], since_job_id=start)
    c = by_group["census-test"]
    assert c.jobs >= 1
    assert c.stages >= 1
    assert c.tasks >= 4
    assert c.job_busy_s > 0
    assert c.exec_run_s >= 0
    assert untagged == 1


def test_shuffle_job_counts_both_stages(sc):
    start = next_job_id(sc)
    sc.setJobGroup("census-shuffle", "map and reduce stages")
    try:
        pairs = sc.parallelize(range(100), 4).map(lambda x: (x % 3, 1))
        assert sorted(pairs.reduceByKey(lambda a, b: a + b).collect()) == [
            (0, 34), (1, 33), (2, 33)]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    by_group, _ = census_by_group(sc, ["census-shuffle"], since_job_id=start)
    c = by_group["census-shuffle"]
    assert (c.jobs, c.stages) == (1, 2)
    assert c.shuffle_write_bytes > 0 and c.shuffle_read_bytes > 0


def test_unknown_group_reports_no_jobs(sc):
    by_group, _ = census_by_group(sc, ["never-used"], since_job_id=next_job_id(sc))
    assert by_group["never-used"].jobs == 0
    assert by_group["never-used"].tasks == 0
