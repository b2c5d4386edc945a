"""Full-registry two-point scale sweep: EVERY registered query
(REGISTRY + EXTRA + the prepare pipeline) timed once at sf0.1 and once
at the sf1-shaped dataset built by tools/sf1_probe.py (10x organic
keyspaces — see that module's construction notes).

This closes the perf-evidence gap the per-round curated bench leaves
open: the curated set and the 15-query sf1 probe cover the known
heavyweights, but a super-linear constant hiding in any of the other
~120 queries (a broadcast-threshold crossing, a shuffle-partition
misfit, an accidental all-pairs) only shows up when THAT query runs at
10x. One iteration per side — the verdict is about scaling class, not
microseconds.

Verdict per query: ``ok`` when the sf0.1->sf1 wall ratio stays under
the query's expected-class bound (linear 13x = 10x rows + 30% slack;
quadratic-arith 130x for exact all-pairs legs over 10x vectors), OR
when the sf1 wall is under ABS_FLOOR_S — sub-3s at sf1 means fixed
session/scan overhead dominates the measurement and the ratio is
noise, not a scale hazard (a 0.2s -> 2.8s "x14" is JVM warmup, while a
30s -> 400s x13 is real). Misses print by name and land in the JSON.

Usage: python tools/sf1_all.py [--out SF1_ALL.json] [query ...]
Env: SPARK_GRAFT_SF1_DIR (default /tmp/sf1_probe) — reused if the
completion marker exists.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.sf1_probe import SRC, _build_sf1, _run  # noqa: E402

ABS_FLOOR_S = 3.0
BOUNDS = {"linear": 13.0, "quadratic-arith": 130.0}

# Queries whose exact legs do all-pairs ARITHMETIC (blocked BLAS or
# Sum(df^2) candidate verification): 10x vectors = 100x multiply-adds,
# by design — the lossy siblings are the scale path, these are the
# certification legs. Everything else is expected linear.
QUADRATIC = {
    "semantic_dedup_pairs",
    "semantic_dedup_survivors",
    "embedding_near_dup_pairs",
    "embedding_neardup_exact_pairs",
    "embedding_lsh_recall_report",
    "lsh_recall_report",
    "containment_recall_report",
    "ann_bruteforce_topk",
}


def main() -> None:
    import os

    from railgun_spark import suite
    from railgun_spark.session import get_spark

    out_path = "SF1_ALL.json"
    names = []
    args = sys.argv[1:]
    while args:
        a = args.pop(0)
        if a == "--out":
            out_path = args.pop(0)
        else:
            names.append(a)

    spark = get_spark("sf1_all")
    sf1_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/sf1_probe")
    _build_sf1(spark, sf1_dir)

    everything = ["prepare_end_to_end"] + sorted(suite.all_queries())
    targets = [n for n in everything if not names or n in names]

    results: dict[str, dict] = {}
    misses: list[str] = []
    errors: list[str] = []
    for i, name in enumerate(targets):
        kind = "quadratic-arith" if name in QUADRATIC else "linear"
        try:
            s01, r01 = _run(spark, name, SRC)
            s1, r1 = _run(spark, name, sf1_dir)
        except Exception as exc:  # record, keep sweeping
            errors.append(name)
            results[name] = {"err": f"{type(exc).__name__}: {exc}"[:300]}
            print(f"[{i+1}/{len(targets)}] {name:40s} ERR {exc}", flush=True)
            continue
        ratio = s1 / s01 if s01 > 0 else float("inf")
        ok = ratio <= BOUNDS[kind] or s1 < ABS_FLOOR_S
        if not ok:
            misses.append(name)
        results[name] = {
            "sf0.1_s": round(s01, 2), "sf1_s": round(s1, 2),
            "ratio": round(ratio, 2), "rows_sf0.1": r01, "rows_sf1": r1,
            "expected": kind, "ok": ok,
        }
        print(
            f"[{i+1}/{len(targets)}] {name:40s} {s01:7.2f}s ->{s1:9.2f}s "
            f"x{ratio:6.2f} [{kind}] {'ok' if ok else 'MISS'}",
            flush=True,
        )

    payload = {
        "metric": "sf1_full_sweep",
        "n_queries": len(targets),
        "n_misses": len(misses),
        "n_errors": len(errors),
        "abs_floor_s": ABS_FLOOR_S,
        "bounds": BOUNDS,
        "misses": misses,
        "errors": errors,
        "queries": results,
    }
    with open(out_path, "w") as f:
        json.dump(payload, f, indent=1)
    print(json.dumps({k: payload[k] for k in
                      ("metric", "n_queries", "n_misses", "n_errors",
                       "misses", "errors")}))


if __name__ == "__main__":
    main()
