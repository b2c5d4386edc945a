from __future__ import annotations

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
