from __future__ import annotations

import os
import re

from pyspark.sql import functions as F


def _compile_count(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_reuses_compiled_plans(spark):
    """A long-lived session compiles each query shape once. 60 plans that
    differ only by an inlined literal generate 2 classes each (120, more
    than Spark's default cache of 100), so at the default size the second
    round recompiles most of them (95 of 120 measured); sized by
    get_spark it recompiles none."""

    def run_round():
        for i in range(60):
            spark.range(8).select((F.col("id") * i + 7).alias("v")).filter(
                F.col("v") > i
            ).collect()

    before = _compile_count(spark)
    run_round()
    first = _compile_count(spark) - before
    assert first > 0, "round 1 must compile fresh classes"

    before = _compile_count(spark)
    run_round()
    assert _compile_count(spark) - before == 0

    from railgun_spark.session import CODEGEN_CACHE_ENTRIES

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )


def test_overlap_jobs_keep_caller_job_group(spark, tmp_path):
    """Jobs that `session.overlap` runs on pool threads carry the
    caller's job group: every job a tiny `lsh_recall_report` starts
    under setJobGroup is listed for that group, none lands ungrouped
    (pinned-thread mode does not hand local properties to a plain pool
    thread)."""
    from railgun_spark.operators.dedup import lsh_recall_report

    spark.createDataFrame(
        [
            (1, "en", "the quick brown fox jumps over the lazy dog"),
            (2, "en", "the quick brown fox jumps over the lazy cat"),
            (3, "en", "something else entirely written here today"),
        ],
        ["doc_id", "lang", "text"],
    ).write.parquet(f"{tmp_path}/documents.parquet")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("overlap-attribution", "lsh recall under one job group")
    try:
        lsh_recall_report(spark, str(tmp_path)).collect()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert tracker.getJobIdsForGroup("overlap-attribution")
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()


def _jobs_in_group(spark, group, thunk):
    """(thunk's result, ids of the jobs it ran) under a fresh job group;
    the caller's local properties are left as they were."""
    sc = spark.sparkContext
    prior = {k: sc.getLocalProperty(k) for k in ("spark.jobGroup.id", "spark.job.description")}
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = thunk()
    finally:
        for k, v in prior.items():
            sc.setLocalProperty(k, v)
    return out, sorted(sc.statusTracker().getJobIdsForGroup(group))


def _job_description(spark, job_id):
    return spark.sparkContext._jsc.sc().statusStore().job(job_id).description().get()


def test_pin_is_one_job_named_after_its_site(spark):
    """An eager pin runs exactly one job, described `pin:<site>`, and hands
    the caller's description back afterwards."""
    from railgun_spark.session import pin

    sc = spark.sparkContext
    sc.setJobDescription("caller's own job")
    try:
        _, jobs = _jobs_in_group(
            spark, "pin-eager", lambda: pin(spark.range(10), "tests.eager")
        )
        assert sc.getLocalProperty("spark.job.description") == "caller's own job"
    finally:
        sc.setLocalProperty("spark.job.description", None)
    assert len(jobs) == 1
    assert _job_description(spark, jobs[0]) == "pin:tests.eager"


def test_pin_leaves_an_unset_description_unset(spark):
    from railgun_spark.session import pin

    sc = spark.sparkContext
    sc.setLocalProperty("spark.job.description", None)
    pin(spark.range(10), "tests.unset")
    assert sc.getLocalProperty("spark.job.description") is None


def test_gated_pin_skips_a_small_frame(spark):
    """Below PIN_MIN_BYTES a gated pin is the frame itself, and runs no job."""
    from railgun_spark.session import pin

    df = spark.range(10)
    out, jobs = _jobs_in_group(spark, "pin-gated-small", lambda: pin(df, "tests.small", gated=True))
    assert out is df
    assert jobs == []


def test_gated_pin_pins_a_frame_of_unknown_size(spark):
    """A frame over a Python RDD has no statistics; Catalyst's default
    estimate (8 EiB) counts as big, so a gated pin pins it, tiny or not."""
    from railgun_spark.session import pin

    df = spark.createDataFrame(spark.sparkContext.parallelize([(1,), (2,)]), "a INT")
    est = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    assert est == 2**63 - 1  # spark.sql.defaultSizeInBytes, not a measured size
    out, jobs = _jobs_in_group(spark, "pin-gated-unknown", lambda: pin(df, "tests.unknown", gated=True))
    assert out is not df
    assert [_job_description(spark, j) for j in jobs] == ["pin:tests.unknown"]
    assert sorted(r.a for r in out.collect()) == [1, 2]


def test_railgun_spark_pins_only_through_session_pin():
    """Every pin in the engine goes through `session.pin`: one checkpoint
    call in the package, inside session.py, and neither the retired
    size-gated helper nor the lazy checkpoint form anywhere."""
    pkg = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "railgun_spark")
    calls, retired = [], []
    for root, _, files in os.walk(pkg):
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path) as f:
                    src = f.read()
                rel = os.path.relpath(path, pkg)
                calls += [rel] * len(re.findall(r"\.localCheckpoint\(", src))
                if "pin_if_big" in src or re.search(r"eager\s*=\s*False", src):
                    retired.append(rel)
    assert calls == ["session.py"]
    assert retired == []
