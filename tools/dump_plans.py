"""Dump .explain("formatted") for suite queries to plans/<round>/<name>_<tag>.txt.

The optimization-round judge cannot run Spark; these files are the
committed evidence for every plan-shape claim in OPTIMIZATION_r{N}.md
(Exchange counts, join strategies, PushedFilters, Python-eval nodes).

Usage: python tools/dump_plans.py <tag> [query ...]
  tag: "before" / "after" (file suffix)
  with no query list: every registered query (REGISTRY + EXTRA).
Plans are captured at the bench scale (sf0.1 by default,
$SPARK_GRAFT_SF_DIR overrides) so they match the measured numbers.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

OUT_DIR = os.path.join(
    REPO, "plans", os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r18")
)


def main() -> None:
    from railgun_spark import suite
    from railgun_spark.session import get_spark

    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    wanted = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("dump_plans")
    qs = suite.all_queries()
    names = wanted or list(qs)
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}")
        sys.exit(1)
    os.makedirs(OUT_DIR, exist_ok=True)
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
        except Exception as e:  # plan capture must not die on one query
            text = f"ERROR building plan: {type(e).__name__}: {e}\n"
        path = os.path.join(OUT_DIR, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(f"== {name} ({tag}, sf_dir={sf_dir}) ==\n{text}")
        print(f"wrote {path} ({len(text)} bytes)")


if __name__ == "__main__":
    main()
