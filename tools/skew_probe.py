"""Skew probe: measure the two-stage salted top-k against the direct
window on a deliberately skewed corpus.

Construction: the sf0.1 orders table replicated `blow` times, then ~97%
of rows collapsed onto ONE group key — the pathological case for
PARTITION BY windows, where the hot group serializes onto a single
reducer. The salted form first takes top-k per (group, salt) across
balanced reducers, then re-ranks the <= k x SALT survivors.

Both forms are asserted EQUAL row-for-row before timing (the salted
rewrite is exact, not approximate — same guarantee its oracle encodes).

MEASURED FINDING (local[32], 2026-08-13): the direct window WINS —
blow=16 (2.4M rows, 80% in one group): direct 0.43 s vs salted 0.67 s;
blow=64 (9.6M rows): direct 0.92 s vs salted 1.46 s. The plan explains
it: Spark 4 rewrites filter(rank<=k)-over-window into Partial+Final
`WindowGroupLimit` — a MAP-SIDE per-partition top-k before the shuffle,
which is exactly the two-stage salted strategy, implemented natively by
Catalyst. Only <= k rows per group per input partition ever reach the
hot reducer, so the skew the salt was guarding against never
materializes for rank-filter top-k.

Consequence, recorded where it matters: `window_topk_salted` is the
right EXPLICIT pattern for engines/paths without WindowGroupLimit and
for non-rank window aggregates (running sums, percent_rank over the
full group) where the rewrite does not apply — but on Spark 4, prefer
the direct rank-filter form and let Catalyst de-skew it. "Measure,
don't guess": the manual salt costs ~1.5x here, it does not save 3x.

The same holds for salted AGGREGATION (`--agg`): on 1.6M skewed events
(one hot event_type), direct groupBy + count_distinct beats the manual
two-stage salt 0.31 s vs 0.40 s — Spark's distinct-aggregate rewrite
shuffles on (group, user_id) first (Expand + two-phase agg), so the hot
GROUP key never concentrates a reducer, and plain count/sum de-skew via
map-side partial aggregation. Manual salting earns its keep only for
non-decomposable aggregates Spark cannot rewrite (exact medians,
collect_list order statistics) on engines without these rewrites.

Usage: python tools/skew_probe.py [blow_factor] [--agg]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.window import Window  # noqa: E402

K = 3
SALT = 16


def probe_agg(spark, blow: int) -> None:
    base = spark.read.parquet("/root/testdata/sf0.1/events.parquet").select(
        "event_type", "user_id"
    )
    parts = [
        base.withColumn("user_id", F.col("user_id") + F.lit(i * 10_000_000))
        for i in range(blow)
    ]
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    df = df.withColumn(
        "event_type",
        F.when(F.col("event_type") == "view", "view").otherwise(F.lit("HOT")),
    ).localCheckpoint()
    print(f"agg probe rows={df.count()}")

    def direct():
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"), F.count_distinct("user_id").alias("u")
        )

    def salted():
        s = df.withColumn("_s", F.pmod(F.hash("user_id"), F.lit(SALT)))
        p = s.groupBy("event_type", "_s").agg(
            F.count(F.lit(1)).alias("pn"), F.count_distinct("user_id").alias("pu")
        )
        return p.groupBy("event_type").agg(
            F.sum("pn").alias("n"), F.sum("pu").alias("u")
        )

    assert sorted(map(tuple, direct().collect())) == sorted(
        map(tuple, salted().collect())
    )
    for name, fn in (("direct", direct), ("salted", salted)):
        ts = []
        for _ in range(3):
            t0 = time.time()
            fn().collect()
            ts.append(time.time() - t0)
        print(f"agg {name}: min={min(ts):.2f}s median={sorted(ts)[1]:.2f}s")


def main() -> None:
    from railgun_spark.session import get_spark

    args = [a for a in sys.argv[1:] if a != "--agg"]
    blow = int(args[0]) if args else 16
    spark = get_spark("skew_probe")
    if "--agg" in sys.argv[1:]:
        probe_agg(spark, blow)
        return
    base = spark.read.parquet("/root/testdata/sf0.1/orders.parquet").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    )
    parts = [
        base.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(i * 100_000_000))
        for i in range(blow)
    ]
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    # collapse all but one priority onto a single hot group (~97% of rows)
    skewed = df.withColumn(
        "grp",
        F.when(F.col("o_orderpriority") == "1-URGENT", F.col("o_orderpriority"))
        .otherwise(F.lit("HOT")),
    ).localCheckpoint()
    n = skewed.count()
    hot = skewed.filter(F.col("grp") == "HOT").count()
    print(f"rows={n} hot_group_share={hot / n:.2%}")

    def direct():
        w = Window.partitionBy("grp").orderBy(F.desc("o_totalprice"), "o_orderkey")
        return (
            skewed.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= K)
            .select("grp", "o_orderkey", "o_totalprice", "rn")
        )

    def salted():
        w1 = Window.partitionBy("grp", "_salt").orderBy(
            F.desc("o_totalprice"), "o_orderkey"
        )
        survivors = (
            skewed.withColumn("_salt", F.pmod(F.hash("o_orderkey"), F.lit(SALT)))
            .withColumn("_rn1", F.row_number().over(w1))
            .filter(F.col("_rn1") <= K)
            .drop("_salt", "_rn1")
        )
        w2 = Window.partitionBy("grp").orderBy(F.desc("o_totalprice"), "o_orderkey")
        return (
            survivors.withColumn("rn", F.row_number().over(w2))
            .filter(F.col("rn") <= K)
            .select("grp", "o_orderkey", "o_totalprice", "rn")
        )

    a = sorted(map(tuple, direct().collect()))
    b = sorted(map(tuple, salted().collect()))
    assert a == b, "salted rewrite must be exact"
    print(f"equal top-{K} rows per group: {len(a)}")

    for name, fn in (("direct", direct), ("salted", salted)):
        ts = []
        for _ in range(3):
            t0 = time.time()
            fn().collect()
            ts.append(time.time() - t0)
        print(f"{name}: min={min(ts):.2f}s median={sorted(ts)[1]:.2f}s")


if __name__ == "__main__":
    main()
