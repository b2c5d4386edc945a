"""Regression guards for tools/audit_plans.py's red-flag detector.

The audit is the structural defense against the scale-bug classes found
in prior rounds (row-at-a-time Python, single-partition windows, and —
since r12 — the O(n^2) UnboundedFollowingWindowFunctionFrame that cost
asof_join_forward x18.9 at sf1 in r11). Each test plants the bad plan
shape in a real physical plan and asserts the audit flags it, so the
detector can't silently rot.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

from pyspark.sql import Window
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))
from audit_plans import flags_for  # noqa: E402


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_quadratic_window_frame_flagged(spark):
    """(currentRow, unboundedFollowing) — the O(n^2) re-aggregating frame —
    must be flagged even on a partitioned (non-SinglePartition) window."""
    df = spark.range(100).withColumn("g", F.col("id") % 10)
    bad = Window.partitionBy("g").orderBy("id").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    flags = flags_for("planted_bad", _plan(df.withColumn("x", F.first("id").over(bad))))
    assert "QuadraticWindowFrame" in flags

    # a bounded-preceding lower bound is still the quadratic frame class
    also_bad = Window.partitionBy("g").orderBy("id").rowsBetween(
        -2, Window.unboundedFollowing
    )
    flags = flags_for(
        "planted_bad2", _plan(df.withColumn("x", F.sum("id").over(also_bad)))
    )
    assert "QuadraticWindowFrame" in flags


def test_linear_window_frames_not_flagged(spark):
    """The O(n) frames — running (unboundedPreceding, currentRow) and the
    once-per-partition full frame (unboundedPreceding, unboundedFollowing)
    — must stay clean."""
    df = spark.range(100).withColumn("g", F.col("id") % 10)
    running = Window.partitionBy("g").orderBy("id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    flags = flags_for(
        "running", _plan(df.withColumn("x", F.sum("id").over(running)))
    )
    assert "QuadraticWindowFrame" not in flags

    full = Window.partitionBy("g").orderBy("id").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    flags = flags_for("full", _plan(df.withColumn("x", F.max("id").over(full))))
    assert "QuadraticWindowFrame" not in flags


def test_quadratic_frame_composite_lower_bound():
    """A lower-bound EXPRESSION containing commas (cast/coalesce in the
    formatted plan) must still match — [^,]* silently let it escape
    (ADVICE r12); and the tempered dot must not cross a frame boundary
    into a benign full-partition frame later on the same line."""
    flagged = (
        "specifiedwindowframe(RangeFrame, "
        "coalesce(cast(ts#5 as bigint), 0), unboundedfollowing$())"
    )
    assert "QuadraticWindowFrame" in flags_for("planted_composite", flagged)

    # two frames on one line: a benign bounded frame followed by a benign
    # full-partition frame — the lazy match must NOT bridge them
    benign_pair = (
        "specifiedwindowframe(RowFrame, currentrow$(), currentrow$()), "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), "
        "unboundedfollowing$())"
    )
    assert "QuadraticWindowFrame" not in flags_for("planted_pair", benign_pair)

    # but a REAL quadratic frame second on the line still flags
    bad_pair = (
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$()), "
        "specifiedwindowframe(RowFrame, currentrow$(), unboundedfollowing$())"
    )
    assert "QuadraticWindowFrame" in flags_for("planted_badpair", bad_pair)


def test_single_partition_window_flagged(spark):
    """The pre-existing global-window red flag still fires (and respects
    its allowlist only by name)."""
    df = spark.range(100)
    w = Window.orderBy("id")
    plan = _plan(df.withColumn("r", F.row_number().over(w)))
    assert "WindowOverSinglePartition" in flags_for("planted_global", plan)
    # allowlisted names pass the same plan
    assert "WindowOverSinglePartition" not in flags_for("lsh_recall_report", plan)


def test_batch_eval_python_flagged(spark):
    """Row-at-a-time Python UDFs are never acceptable on the data path."""
    from pyspark.sql.types import LongType

    slow = F.udf(lambda x: x + 1, LongType(), useArrow=False)
    plan = _plan(spark.range(10).withColumn("y", slow("id")))
    assert "BatchEvalPython" in flags_for("planted_udf", plan)
