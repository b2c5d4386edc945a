"""Job attribution by job-id interval, against a real Spark session."""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import pytest


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from railgun_spark.session import get_spark

    return get_spark("perfbench_tests", extra_conf={"spark.ui.showConsoleProgress": "false"})


def test_jobs_from_a_thread_pool_inside_the_call_are_counted(spark):
    from perfbench.sparkstore import StatusStore

    store = StatusStore(spark)
    df = spark.range(1000)
    spark.sparkContext.setJobGroup("timed-call", "only the caller's thread is in this group")
    lo = store.next_job_id()
    df.count()  # on the calling thread
    with ThreadPoolExecutor(2) as ex:  # pool threads escape the job group
        list(ex.map(lambda k: df.filter(df.id % 7 == k).count(), range(3)))
    hi = store.next_job_id()
    spark.sparkContext.setJobGroup("other", "after the call")
    spark.range(10).count()  # after the call: must not be counted

    usage = store.usage(lo, hi)
    assert usage.jobs == hi - lo >= 4
    assert usage.stages >= 4 and usage.tasks >= usage.stages
    grouped = spark.sparkContext._jsc.sc().statusTracker().getJobIdsForGroup("timed-call")
    assert len(grouped) < usage.jobs  # the job group alone misses the pool's jobs
    wall = [(min(s for s, _ in usage.stage_intervals), max(e for _, e in usage.stage_intervals))]
    assert usage.stage_wall_s() <= wall[0][1] - wall[0][0] + 1e-9
    assert usage.driver_gap_s(wall) >= 0.0
