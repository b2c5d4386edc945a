"""Full-registry two-point scale sweep: EVERY registered query
(REGISTRY + EXTRA + the prepare pipeline) timed once at sf0.1 and once
at an sf1-shaped dataset: 10x rows with naturally extended keyspaces, so
it catches the constants a row-duplicating blow-up misses — shuffle
partition counts, broadcast-threshold crossings, file-split granularity,
per-partition memory at 10x organic cardinality.

Dataset construction (deterministic, seeded by copy index i = 0..9):
- fact/dim keys shift by i * 10^8 so every join keeps its exact
  semantics while key cardinality grows 10x (orders<->lineitem,
  part/supplier/customer joins all stay consistent within a copy);
- document texts are token-salted per copy (every token prefixed
  ``c{i}``) so text workloads grow LINEARLY — cross-copy similarity is
  zero by construction, matching organic corpus growth;
- embeddings flip the sign of ~1/5 of dimensions per copy (pattern
  (7*idx + 13*i) % 5 == 0), preserving norms while pushing cross-copy
  cosine far below every near-dup threshold;
- events shift user_id and event_id; timestamps keep their window so
  time-windowed density grows 10x (the realistic shape for larger SF).

This closes the perf-evidence gap the per-round curated bench leaves
open: the curated set covers the known heavyweights, but a super-linear
constant hiding in any of the other ~120 queries (a broadcast-threshold
crossing, a shuffle-partition misfit, an accidental all-pairs) only
shows up when THAT query runs at 10x. One iteration per side — the verdict is about scaling class, not
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

from pyspark.sql import functions as F  # noqa: E402

SRC = "/root/testdata/sf0.1"
K = 10
SHIFT = 10**8
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


def _build_sf1(spark, out_dir: str) -> None:
    marker = os.path.join(out_dir, "_SF1_COMPLETE")
    if os.path.exists(marker):
        return
    os.makedirs(out_dir, exist_ok=True)

    def copies(df, build):
        parts = [build(df, i) for i in range(K)]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    t0 = time.time()
    # small dims pass through untouched (25 nations / 5 regions at any SF)
    for t in ("nation", "region"):
        spark.read.parquet(f"{SRC}/{t}.parquet").write.mode("overwrite").parquet(
            f"{out_dir}/{t}.parquet"
        )

    orders = spark.read.parquet(f"{SRC}/orders.parquet")
    copies(orders, lambda df, i: df.select(
        (F.col("o_orderkey") + i * SHIFT).alias("o_orderkey"),
        (F.col("o_custkey") + i * SHIFT).alias("o_custkey"),
        "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority",
    )).write.mode("overwrite").parquet(f"{out_dir}/orders.parquet")

    li = spark.read.parquet(f"{SRC}/lineitem.parquet")
    copies(li, lambda df, i: df.select(
        (F.col("l_orderkey") + i * SHIFT).alias("l_orderkey"),
        (F.col("l_partkey") + i * SHIFT).alias("l_partkey"),
        (F.col("l_suppkey") + i * SHIFT).alias("l_suppkey"),
        "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
        "l_tax", "l_returnflag", "l_linestatus", "l_shipdate",
    )).write.mode("overwrite").parquet(f"{out_dir}/lineitem.parquet")

    cust = spark.read.parquet(f"{SRC}/customer.parquet")
    copies(cust, lambda df, i: df.select(
        (F.col("c_custkey") + i * SHIFT).alias("c_custkey"),
        F.concat("c_name", F.lit(f"#{i}")).alias("c_name"),
        "c_nationkey", "c_acctbal", "c_mktsegment",
    )).write.mode("overwrite").parquet(f"{out_dir}/customer.parquet")

    part = spark.read.parquet(f"{SRC}/part.parquet")
    copies(part, lambda df, i: df.select(
        (F.col("p_partkey") + i * SHIFT).alias("p_partkey"),
        "p_name", "p_brand", "p_type", "p_size", "p_retailprice",
    )).write.mode("overwrite").parquet(f"{out_dir}/part.parquet")

    sup = spark.read.parquet(f"{SRC}/supplier.parquet")
    copies(sup, lambda df, i: df.select(
        (F.col("s_suppkey") + i * SHIFT).alias("s_suppkey"),
        F.concat("s_name", F.lit(f"#{i}")).alias("s_name"),
        "s_nationkey", "s_acctbal",
    )).write.mode("overwrite").parquet(f"{out_dir}/supplier.parquet")

    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    # token-salting: every token prefixed per copy -> zero cross-copy
    # token overlap, linear near-dup workload, n_chars recomputed
    def doc_copy(df, i):
        salted = F.array_join(
            F.transform(F.split("text", " "), lambda t: F.concat(F.lit(f"c{i}"), t)),
            " ",
        )
        return df.select(
            (F.col("doc_id") + i * SHIFT).alias("doc_id"),
            salted.alias("text"),
            "lang",
            F.concat("source", F.lit(f"_{i}")).alias("source"),
            F.length(salted).cast("long").alias("n_chars"),
        )
    copies(docs, doc_copy).write.mode("overwrite").parquet(
        f"{out_dir}/documents.parquet"
    )

    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    def emb_copy(df, i):
        if i == 0:
            flipped = F.col("embedding")
        else:
            flipped = F.transform(
                "embedding",
                lambda x, idx: F.when(
                    (idx * 7 + i * 13) % 5 == 0, -x
                ).otherwise(x),
            )
        return df.select(
            (F.col("vec_id") + i * SHIFT).alias("vec_id"),
            flipped.alias("embedding"),
            "label",
        )
    copies(emb, emb_copy).write.mode("overwrite").parquet(
        f"{out_dir}/embeddings.parquet"
    )

    from railgun_spark.sources.tables import load_events

    ev = load_events(spark, SRC)
    copies(ev, lambda df, i: df.select(
        (F.col("event_id") + i * SHIFT).alias("event_id"),
        "ts",
        (F.col("user_id") + i * SHIFT).alias("user_id"),
        "event_type", "value", "props",
    )).write.mode("overwrite").parquet(f"{out_dir}/events.parquet")

    with open(marker, "w") as f:
        f.write(json.dumps({"built_s": round(time.time() - t0, 1), "k": K}))
    print(f"sf1 dataset built in {time.time() - t0:.0f}s at {out_dir}")


def _run(spark, name, sf_dir):
    from railgun_spark import suite

    if name == "prepare_end_to_end":
        import shutil
        import tempfile

        from railgun_spark.operators.corpus import prepare_training_shards

        out = tempfile.mkdtemp(prefix="sf1_prepare_")
        t0 = time.time()
        try:
            prepare_training_shards(spark, sf_dir, out)
        finally:
            shutil.rmtree(out, ignore_errors=True)
        return time.time() - t0, -1
    fn = suite.all_queries()[name]
    t0 = time.time()
    rows = len(fn(spark, sf_dir).collect())
    return time.time() - t0, rows


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
