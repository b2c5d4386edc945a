"""Physical-plan audit: every suite query's formatted explain output is
scanned for 100-TB red flags:

- CartesianProduct / BroadcastNestedLoopJoin: all-pairs joins. Allowed only
  where a documented broadcast of a single-row/tiny frame makes it the
  right plan (ALLOW_NESTED_LOOP).
- BatchEvalPython: row-at-a-time Python UDF in the plan — never acceptable
  (ArrowEvalPython / MapInPandas, the Arrow-batched forms, are fine).
- InMemoryTableScan on the data path (cache leaks into suite queries).
- Quadratic window frames: any frame whose upper bound is
  unboundedfollowing with a lower bound OTHER than unboundedpreceding
  executes as UnboundedFollowingWindowFunctionFrame, which re-aggregates
  the remaining frame FOR EVERY ROW — O(n^2) per partition (cost
  asof_join_forward x18.9 at sf1 in r11). The full-partition
  (unboundedpreceding, unboundedfollowing) frame is the O(n)
  UnboundedWindowFunctionFrame and stays allowed. Rewrite offenders as
  the descending-sort running mirror over
  (unboundedPreceding, currentRow).

Usage: python tools/audit_plans.py [query ...]; exits 1 on violations.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"

# queries whose nested-loop join is a broadcast of a provably tiny side
ALLOW_NESTED_LOOP = {
    "knn_brute_force",  # crossJoin vs broadcast single query vector
    "ann_lsh_topk",  # broadcast single (query vector, bucket) row
    "below_avg_quantity_revenue",  # scalar aggregate broadcast to the filter
    "revenue_range_filter",  # scalar bound broadcast
    "promo_revenue_ratio",  # scalar ratio over one aggregated row
    "agg_global_stats",  # single-row aggregate
    "key_skew_report_events",  # crossJoin of two single-row aggregates
    "dormant_customer_balances",  # scalar avg-balance broadcast to the filter
    "important_part_stock",  # Q11: 1-row global-total broadcast to the filter
}

RED_FLAGS = ("CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython")

# A Window fed by Exchange SinglePartition moves its WHOLE input through
# one task — a scale-killer when the input tracks the corpus (that shape
# hid in two queries until r8; see operators/rank.py for the distributed
# replacement). Allowed only where the windowed frame is bounded BY
# CONSTRUCTION, never corpus-sized:
ALLOW_GLOBAL_WINDOW = {
    "lsh_recall_report",  # windows over the single-row counter frame
    "mixture_sample_tokens",  # per-language aggregate (bounded languages)
    "mixture_temperature_shares",  # per-language aggregate
    "daily_revenue_gapfill",  # date spine (bounded calendar days)
    "vocab_coverage_curve",  # vocab-sized word-count aggregate
    "token_length_histogram",  # power-of-two bucket frame (<64 rows)
    "repeat_purchase_interval",  # distinct gap-day values (calendar-bounded)
}

# Frames whose upper bound is unboundedfollowing but lower bound is NOT
# unboundedpreceding run as the O(n^2)-per-partition
# UnboundedFollowingWindowFunctionFrame. Allowed only where the window's
# input partition is provably tiny by construction (none today — every
# prior use was rewritten to the descending running mirror).
ALLOW_UNBOUNDED_FOLLOWING: set[str] = set()

# NB: literal ", " separators (Spark's formatted output is stable); a \s*
# there would backtrack past the negative lookahead and match the benign
# full-partition frame too. The lower bound is matched by a TEMPERED dot
# (anything that does not start a new frame spec) so composite bound
# expressions containing commas — cast(...), coalesce(a, b) — still
# match, while a benign (unboundedpreceding, unboundedfollowing) frame
# later on the same line cannot be reached across a frame boundary.
_QUAD_FRAME_RE = re.compile(
    r"specifiedwindowframe\(\w+Frame, (?!unboundedpreceding\$)"
    r"(?:(?!specifiedwindowframe\().)*?, unboundedfollowing\$\(\)\)"
)


def flags_for(name: str, plan: str) -> list[str]:
    """All red flags present in one query's formatted plan (allowlists
    applied) — split out so tests can plant a bad plan shape directly."""
    flags = [f for f in RED_FLAGS if f in plan]
    if "BroadcastNestedLoopJoin" in flags and name in ALLOW_NESTED_LOOP:
        flags.remove("BroadcastNestedLoopJoin")
    if "CartesianProduct" in flags and name in ALLOW_NESTED_LOOP:
        flags.remove("CartesianProduct")
    if (
        "Window" in plan
        and "SinglePartition" in plan
        and name not in ALLOW_GLOBAL_WINDOW
    ):
        flags.append("WindowOverSinglePartition")
    if _QUAD_FRAME_RE.search(plan) and name not in ALLOW_UNBOUNDED_FOLLOWING:
        flags.append("QuadraticWindowFrame")
    return flags


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> int:
    import __spark_entry__ as e
    from railgun_spark.session import get_spark

    from railgun_spark import suite

    only = set(sys.argv[1:])
    spark = get_spark("audit_plans")
    bad = 0
    audited = dict(e.queries())
    # EXTRA entries are held to the same plan bar as the driver registry
    audited.update((n, s.fn) for n, s in suite.extra_specs().items())
    for name, fn in audited.items():
        if only and name not in only:
            continue
        try:
            plan = plan_of(fn(spark, SF_DIR))
        except Exception as ex:
            print(f"ERROR {name}: {ex}")
            bad += 1
            continue
        flags = flags_for(name, plan)
        n_exchanges = plan.count("Exchange")
        if flags:
            print(f"FLAG {name}: {flags} (exchanges={n_exchanges})")
            bad += 1
        else:
            print(f"ok   {name} (exchanges={n_exchanges})")
    print(f"\n{'CLEAN' if not bad else f'{bad} flagged'}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
