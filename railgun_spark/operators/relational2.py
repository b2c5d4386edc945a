"""Second wave of relational coverage: subqueries (semi-join, correlated
scalar), conditional aggregation, string-prefix measures, sessionization.

These complete the relational surface a reference user migrating real
workloads needs (SURVEY §2.4/§2.5 note the reference has no joins/windows;
the engine provides the full family). All plans: filter pushdown, partial
aggregation, broadcast-able dimensions, single-shuffle sessionization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from railgun_spark.sources.tables import load_events
from railgun_spark.suite import extra_query, query


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # route through load_table so "events" always gets timestamp-normalized
    from railgun_spark.sources.tables import load_table

    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# EXISTS semi-join (TPC-H Q4 shape).
# --------------------------------------------------------------------------
@extra_query(
    "semi_join_priority_orders",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="EXISTS => left_semi join; lineitem side pre-filtered before the "
    "shuffle so the semi-join input is minimal.",
    tags=("join", "subquery"),
)
def semi_join_priority_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (li.l_orderkey == orders.o_orderkey) & (li.l_shipdate > orders.o_orderdate)
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# Correlated scalar subquery over an aggregate (TPC-H Q17 shape).
# --------------------------------------------------------------------------
@extra_query(
    "below_avg_quantity_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#13'
      AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2
                        WHERE l2.l_partkey = lineitem.l_partkey)
    """,
    doc="Correlated avg subquery == per-key avg join (groupBy + join back); "
    "avoids Catalyst's rewrite ambiguity and is the plan you'd hand-write "
    "at scale. part scales with SF — AQE picks its join strategy.",
    tags=("join", "subquery", "agg"),
)
def below_avg_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#13").select("p_partkey")
    avg_by_part = li.groupBy("l_partkey").agg((F.avg("l_quantity") * 0.2).alias("thresh"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(avg_by_part.withColumnRenamed("l_partkey", "ap_key"), F.col("l_partkey") == F.col("ap_key"))
        .filter(F.col("l_quantity") < F.col("thresh"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


# --------------------------------------------------------------------------
# Conditional aggregation (TPC-H Q12 shape): CASE WHEN inside sum.
# --------------------------------------------------------------------------
@extra_query(
    "conditional_agg_priority",
    oracle="""
    SELECT l_returnflag,
           sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)::BIGINT
             AS high_line_count,
           sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)::BIGINT
             AS low_line_count
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="Conditional sums fold into one pass — no per-branch scans.",
    tags=("agg",),
)
def conditional_agg_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# Ratio measure with string predicate (TPC-H Q14 shape).
# --------------------------------------------------------------------------
@query(
    "promo_revenue_ratio",
    oracle="""
    SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1995-04-01 00:00:00'
    """,
    doc="Single scan of the filtered lineitem range; part scales with SF, "
    "so AQE chooses broadcast vs shuffle join at runtime.",
    tags=("join", "agg"),
)
def promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-04-01 00:00:00").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(F.round(F.lit(100.0) * F.sum(promo) / F.sum(rev), 4).alias("promo_pct"))
    )


# --------------------------------------------------------------------------
# Sessionization: gap-based session ids via lag + cumulative sum — the
# batch twin of stateful streaming sessions (SURVEY §2.10; the reference
# has no event-time semantics, this is the engine superset).
# --------------------------------------------------------------------------
SESSION_GAP_MIN = 30


@query(
    "sessionize_events",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL '{SESSION_GAP_MIN} minutes'
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, event_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING)::BIGINT AS session_id
      FROM marked
    )
    SELECT user_id, session_id, count(*) AS n_events,
           min(ts) AS session_start
    FROM sessions
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
    doc=f"Gap-based sessionization ({SESSION_GAP_MIN}min): one shuffle on "
    "user_id serves both windows and the final per-session agg.",
    tags=("window", "streaming"),
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    # unix_micros (not unix_timestamp) — the oracle compares exact intervals
    # and second-truncation can flip a session boundary on sub-second data.
    gap_us = F.lit(SESSION_GAP_MIN * 60 * 1_000_000)
    new_session = F.when(
        prev_ts.isNull()
        | (F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts) > gap_us),
        1,
    ).otherwise(0)
    sessions = (
        ev.select("user_id", "event_id", "ts")
        .withColumn("new_session", new_session)
        .withColumn(
            "session_id",
            F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.min("ts").alias("session_start"))
        .orderBy("user_id", "session_id")
    )


# --------------------------------------------------------------------------
# As-of join: each order matched to the latest preceding event of its
# customer-as-user (an operator family the reference lacks entirely;
# standard in time-series engines). Implemented as union + window
# last_value — ONE shuffle, no range-join explosion.
# --------------------------------------------------------------------------
@query(
    "asof_join_orders_events",
    oracle="""
    WITH ev AS (
      SELECT user_id AS uid, ts AS ev_ts, event_id FROM events
    ), ord AS (
      SELECT o_orderkey, o_custkey % 150 AS uid, o_orderdate + INTERVAL 30 YEAR AS o_ts
      FROM orders
    ), u AS (
      SELECT uid, ev_ts AS ts, event_id, NULL::BIGINT AS o_orderkey, 0 AS is_order FROM ev
      UNION ALL
      SELECT uid, o_ts AS ts, NULL, o_orderkey, 1 FROM ord
    ), filled AS (
      SELECT uid, ts, o_orderkey, is_order,
             max(CASE WHEN is_order = 0 THEN event_id END)
               OVER (PARTITION BY uid ORDER BY ts, is_order, coalesce(event_id, o_orderkey)
                     ROWS UNBOUNDED PRECEDING) AS last_event_id
      FROM u
    )
    SELECT o_orderkey, uid, last_event_id
    FROM filled WHERE is_order = 1
    ORDER BY o_orderkey
    """,
    doc="As-of join via union + running max over event ids: one shuffle on "
    "the key, no O(n*m) range join. (Events are keyed to orders through a "
    "derived uid; orderdates shifted +30y into the events' epoch.)",
    tags=("join", "asof"),
)
def asof_join_orders_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir).select(
        F.col("user_id").alias("uid"), F.col("ts"), F.col("event_id"),
        F.lit(None).cast("bigint").alias("o_orderkey"), F.lit(0).alias("is_order"),
    )
    orders = _t(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 150).alias("uid"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 YEAR")).alias("ts"),
        F.lit(None).cast("bigint").alias("event_id"),
        F.col("o_orderkey"),
        F.lit(1).alias("is_order"),
    )
    u = ev.unionByName(orders)
    w = (
        Window.partitionBy("uid")
        .orderBy("ts", "is_order", F.coalesce("event_id", "o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = u.withColumn(
        "last_event_id",
        F.max(F.when(F.col("is_order") == 0, F.col("event_id"))).over(w),
    )
    return (
        filled.filter(F.col("is_order") == 1)
        .select("o_orderkey", "uid", "last_event_id")
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# Ranking / navigation window functions (SURVEY §2.5: absent in the
# reference; full family exposed here).
# --------------------------------------------------------------------------
@extra_query(
    "window_rank_functions",
    oracle="""
    SELECT o_custkey, o_orderkey,
           rank()       OVER wp AS price_rank,
           dense_rank() OVER wp AS price_dense_rank,
           round(percent_rank() OVER wp, 6) AS price_pct_rank,
           ntile(4)     OVER wp AS price_quartile,
           lag(o_totalprice)  OVER wt AS prev_price,
           lead(o_totalprice) OVER wt AS next_price
    FROM orders
    WHERE o_custkey < 100
    WINDOW wp AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey),
           wt AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, o_orderkey
    """,
    doc="rank/dense_rank/percent_rank/ntile/lag/lead share one shuffle on "
    "o_custkey; both window specs have the same partitioning key.",
    tags=("window",),
)
def window_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    wp = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    wt = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(wp).alias("price_rank"),
        F.dense_rank().over(wp).alias("price_dense_rank"),
        F.round(F.percent_rank().over(wp), 6).alias("price_pct_rank"),
        F.ntile(4).over(wp).alias("price_quartile"),
        F.lag("o_totalprice").over(wt).alias("prev_price"),
        F.lead("o_totalprice").over(wt).alias("next_price"),
    ).orderBy("o_custkey", "o_orderkey")


# --------------------------------------------------------------------------
# CUBE aggregation (rollup's sibling; SURVEY §2.3 notes the reference has
# no grouping sets at all — Spark provides them natively).
# --------------------------------------------------------------------------
@query(
    "cube_lineitem_flags",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_rows,
           round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    doc="CUBE = one shuffle with grouping-set expansion map-side; partial "
    "aggregation still applies per grouping set.",
    tags=("agg", "grouping-sets"),
)
def cube_lineitem_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
        .orderBy(F.asc_nulls_first("l_returnflag"), F.asc_nulls_first("l_linestatus"))
    )


# --------------------------------------------------------------------------
# Interval/range join via time bucketing — the scale-correct plan for
# "events of the same user within the next N minutes". A naive theta-join
# on (user, ts BETWEEN ...) degenerates to a per-user cross product; the
# bucketed form is an equi-join on (user, bucket): the left side fans out
# to the <=2 buckets its window can overlap, the right side stays 1 row.
# --------------------------------------------------------------------------
RANGE_JOIN_WINDOW_S = 600  # 10 minutes


@query(
    "range_join_event_bursts",
    oracle=f"""
    SELECT a.event_id,
           count(b.event_id) AS n_following
    FROM (SELECT * FROM events WHERE user_id < 20) a
    LEFT JOIN (SELECT * FROM events WHERE user_id < 20) b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL {RANGE_JOIN_WINDOW_S} SECONDS
    GROUP BY a.event_id
    ORDER BY a.event_id
    """,
    doc=f"Range join ({RANGE_JOIN_WINDOW_S}s window) as a bucketed "
    "equi-join: left rows replicate to the two bucket cells their window "
    "overlaps, exact range predicate filters after the hash join — "
    "no per-key cross product at any scale.",
    tags=("join", "range"),
)
def range_join_event_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    win_us = RANGE_JOIN_WINDOW_S * 1_000_000  # microsecond precision throughout
    ev = load_events(spark, sf_dir).filter(F.col("user_id") < 20).select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us")
    )
    # left side: one row per overlapped bucket (exactly 2 since win == bucket)
    a = ev.select(
        F.col("event_id").alias("a_event_id"),
        F.col("user_id").alias("a_user_id"),
        F.col("ts_us").alias("a_ts_us"),
        F.explode(
            F.array(F.floor(F.col("ts_us") / win_us), F.floor((F.col("ts_us") + win_us) / win_us))
        ).alias("bucket"),
    ).distinct()  # window edge exactly on a boundary -> same bucket twice
    b = ev.select(
        F.col("event_id").alias("b_event_id"),
        F.col("user_id").alias("b_user_id"),
        F.col("ts_us").alias("b_ts_us"),
        F.floor(F.col("ts_us") / win_us).alias("bucket"),
    )
    pairs = a.join(
        b,
        (F.col("a_user_id") == F.col("b_user_id"))
        & (a.bucket == b.bucket)
        & (F.col("b_ts_us") > F.col("a_ts_us"))
        & (F.col("b_ts_us") <= F.col("a_ts_us") + win_us),
    ).groupBy("a_event_id").agg(F.count(F.lit(1)).alias("n_following"))
    return (
        ev.join(pairs, ev.event_id == pairs.a_event_id, "left")
        .select(
            "event_id",
            F.coalesce("n_following", F.lit(0)).alias("n_following"),
        )
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# Exact grouped percentiles, rank-based (engine superset).
#
# Why not F.percentile: the exact `percentile` aggregate buffers every
# group's values inside a single aggregation buffer — with 3 return-flag
# groups over 100 TB that's an executor OOM by construction. The rank-based
# form below never materializes a group in memory: row_number over a sorted
# window is computed by Spark's EXTERNAL sort (spills to disk), the count
# join is a 3-row broadcast, and the final agg is an ordinary partial-agg
# groupBy. Nearest-rank semantics (value at rank ceil(p*n)) are written
# identically in the DuckDB oracle, so the hash compare is exact — no
# interpolation, no engine-specific quantile definition.
#
# The pure-streaming-partials alternative is approx_percentile (mergeable
# Greenwald-Khanna / t-digest sketches, map-side combinable) — exposed as
# `revenue_percentiles_approx` below and tolerance-tested against this exact
# form in tests/test_suite_registry.py; its sketch outputs are not
# bit-reproducible across engines, hence the exact form holds the gate slot.
# --------------------------------------------------------------------------
PCT_POINTS = (("p25", 0.25), ("p50", 0.50), ("p75", 0.75))


@query(
    "revenue_percentiles",
    oracle="""
    WITH ranked AS (
      SELECT l_returnflag, l_extendedprice,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY l_extendedprice) AS rn
      FROM lineitem
    ), counts AS (
      SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag
    )
    SELECT r.l_returnflag,
           round(max(CASE WHEN rn = CAST(ceil(0.25 * n) AS BIGINT)
                          THEN l_extendedprice END), 4) AS p25,
           round(max(CASE WHEN rn = CAST(ceil(0.50 * n) AS BIGINT)
                          THEN l_extendedprice END), 4) AS p50,
           round(max(CASE WHEN rn = CAST(ceil(0.75 * n) AS BIGINT)
                          THEN l_extendedprice END), 4) AS p75
    FROM ranked r JOIN counts c USING (l_returnflag)
    GROUP BY r.l_returnflag
    ORDER BY r.l_returnflag
    """,
    doc="Exact nearest-rank percentiles per group with bounded memory: "
    "external-sort window (spills) + broadcast count join + partial-agg "
    "reduce. No per-group value buffering anywhere in the plan.",
    tags=("agg",),
)
def revenue_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    counts = li.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    ranked = li.withColumn("rn", F.row_number().over(w))

    def at_rank(alias: str, p: float):
        # ceil(p*n): exact binary fractions (.25/.5/.75), no float drift.
        target = F.ceil(F.lit(p) * F.col("n")).cast("bigint")
        picked = F.when(F.col("rn") == target, F.col("l_extendedprice"))
        return F.round(F.max(picked), 4).alias(alias)

    return (
        ranked.join(F.broadcast(counts), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(*[at_rank(a, p) for a, p in PCT_POINTS])
        .orderBy("l_returnflag")
    )


def revenue_percentiles_approx(
    spark: SparkSession, sf_dir: str, accuracy: int = 10000
) -> DataFrame:
    """The 100 TB path: approx_percentile sketches are mergeable partials
    (map-side combine, no sort, no window) — one narrow shuffle of 3 sketch
    rows total. Rank error is bounded by n/accuracy; not bit-reproducible
    across engines, so gated by a tolerance pytest instead of the hash gate.
    """
    li = _t(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice")
    return (
        li.groupBy("l_returnflag")
        .agg(
            *[
                F.round(F.percentile_approx(price, F.lit(p), F.lit(accuracy)), 4).alias(a)
                for a, p in PCT_POINTS
            ]
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# Skew-safe two-stage (salted) aggregation. A low-cardinality or skewed
# group key (5 event types across everything) funnels whole partitions to
# few reducers; salting fans stage 1 across SALT buckets (balanced), then
# stage 2 reduces SALT rows per key (trivial). Same result as a direct
# groupBy — the oracle is the plain count.
# --------------------------------------------------------------------------
AGG_SALT = 16


@query(
    "agg_salted_two_stage",
    oracle="""
    SELECT event_type, count(*)::BIGINT AS n, count(DISTINCT user_id)::BIGINT AS n_users
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc=f"Two-stage salted aggregation over a skewed 5-value key: stage 1 "
    f"groups on (key, salt mod {AGG_SALT}) — {AGG_SALT}x the reducers, "
    "balanced; stage 2 merges the partials. count(distinct) stays exact by "
    "salting on the distinct column itself (user_id), so each (key, salt) "
    "bucket owns disjoint users. Measured caveat (SURVEY.md, \"Skew "
    "probe\"): Spark 4's own distinct-agg rewrite shuffles on (key, user_id) "
    "first, so the direct form wins (~1.3x) here; keep this explicit "
    "pattern for non-decomposable aggregates and engines without the "
    "rewrite.",
    tags=("agg", "skew"),
)
def agg_salted_two_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    # salt by the distinct-counted column: per-user rows land in exactly one
    # bucket, so stage-2 sums of per-bucket distincts stay exact
    salted = ev.withColumn("_salt", F.pmod(F.hash("user_id"), F.lit(AGG_SALT)))
    partial = salted.groupBy("event_type", "_salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.count_distinct(F.col("user_id")).alias("pu"),
    )
    return (
        partial.groupBy("event_type")
        .agg(F.sum("pn").alias("n"), F.sum("pu").alias("n_users"))
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Skew-proof top-k per group: the two-stage salted form of
# window_topk_per_group. A window over PARTITION BY group sends every row
# of a group through ONE reducer's sort — with 5 priority groups over
# 100 TB that's 5 reducers sorting 20 TB each. Salting fans stage 1 over
# (group, salt) buckets: each bucket's local top-k is cheap, and a group's
# TRUE top-k rows are each in their own bucket's top-k (a row beaten by
# fewer than k rows globally is beaten by fewer than k in its bucket), so
# stage 2 only re-ranks k x SALT survivors per group. Result provably
# identical to the direct window — the oracle IS the direct form.
# --------------------------------------------------------------------------
TOPK_SALT = 16


@extra_query(
    "window_topk_salted",
    oracle="""
    SELECT o_orderpriority, o_orderkey, o_totalprice, rn
    FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) t
    WHERE rn <= 3
    ORDER BY o_orderpriority, rn
    """,
    doc=f"Two-stage salted top-k: stage 1 keeps top-k per (group, "
    f"salt mod {TOPK_SALT}) — balanced reducers; stage 2 re-ranks the "
    f"<= k x {TOPK_SALT} survivors per group. Identical output to the "
    "direct window (the oracle is the direct form). Measured caveat "
    "(SURVEY.md, \"Skew probe\"): Spark 4 already plans filter(rank<=k) as "
    "Partial+Final WindowGroupLimit — a native map-side top-k — so on "
    "this engine the direct form wins (~1.5x); keep this explicit "
    "pattern for engines without that rewrite and for non-rank window "
    "aggregates it cannot cover.",
    tags=("window", "topk", "skew"),
)
def window_topk_salted(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    )
    salted = orders.withColumn("_salt", F.pmod(F.hash("o_orderkey"), F.lit(TOPK_SALT)))
    w1 = Window.partitionBy("o_orderpriority", "_salt").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    )
    survivors = (
        salted.withColumn("_rn1", F.row_number().over(w1))
        .filter(F.col("_rn1") <= k)
        .drop("_salt", "_rn1")
    )
    w2 = Window.partitionBy("o_orderpriority").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        survivors.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= k)
        .orderBy("o_orderpriority", "rn")
    )


# --------------------------------------------------------------------------
# Rolling distinct actives (DAU / 7-day WAU). Rolling COUNT(DISTINCT) does
# not decompose into window partials, so the scale shape is: dedup to
# (day, user) once — the big shuffle, corpus-proportional — then a bounded
# map-side 7x explode of each (day, user) into the target days it serves,
# a broadcast EQUI semi-join against the tiny day dimension (drops target
# days with no data, e.g. past the corpus edge), and one distinct-count
# shuffle over the already-day-deduped fan-out. No range join, no
# nested-loop: every join in the plan is a broadcast hash join.
# --------------------------------------------------------------------------
@extra_query(
    "rolling_active_users",
    oracle="""
    WITH daily AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ), days AS (
      SELECT DISTINCT day FROM daily
    )
    SELECT d.day,
           count(DISTINCT CASE WHEN a.day = d.day THEN a.user_id END) AS dau,
           count(DISTINCT a.user_id) AS wau
    FROM days d JOIN daily a
      ON a.day <= d.day AND a.day >= d.day - INTERVAL '6 days'
    GROUP BY d.day
    ORDER BY d.day
    """,
    doc="DAU + trailing-7-day WAU: one (day,user) dedup shuffle, then a "
    "bounded 7x range join against the day dimension.",
    tags=("agg", "window", "distinct"),
)
def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load_events(spark, sf_dir)
        .select(F.to_date("ts").alias("a_day"), "user_id")
        .distinct()
    )
    days = daily.select(F.col("a_day").alias("day")).distinct()
    fanout = daily.select(
        F.explode(F.sequence(F.col("a_day"), F.date_add(F.col("a_day"), 6))).alias("day"),
        "a_day",
        "user_id",
    )
    return (
        fanout.join(F.broadcast(days), "day", "semi")
        .groupBy("day")
        .agg(
            F.count_distinct(
                F.when(F.col("a_day") == F.col("day"), F.col("user_id"))
            ).alias("dau"),
            F.count_distinct("user_id").alias("wau"),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# Pivot (long -> wide). Spark's pivot with an EXPLICIT value list is a
# single-pass conditional aggregation (one shuffle, no second job to
# discover values — always pass the list at 100 TB); the oracle writes the
# same CASE WHEN form directly.
# --------------------------------------------------------------------------
ORDER_STATUSES = ("F", "O", "P")


@extra_query(
    "pivot_status_by_priority",
    oracle="""
    SELECT o_orderpriority,
           sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT AS F,
           sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)::BIGINT AS O,
           sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)::BIGINT AS P
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="Long->wide pivot with an explicit value list: one-pass conditional "
    "agg, no value-discovery job.",
    tags=("agg", "pivot"),
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", list(ORDER_STATUSES))
        .agg(F.count(F.lit(1)))
        .na.fill(0, list(ORDER_STATUSES))
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# TPC-H Q21 shape (sole problem supplier in multi-supplier orders),
# adapted to this schema: the testdata lineitem has no commit/receipt
# dates, so "problem" = a returned line (l_returnflag = 'R'). The classic
# formulation is EXISTS(other supplier in the order) AND NOT EXISTS(other
# supplier also late) — two correlated subqueries that execution engines
# rewrite into joins. The Spark-first form computes both conditions in
# ONE aggregate over lineitem (distinct suppliers / distinct R-flagged
# suppliers per order), replacing a 3-way self-join of the fact table
# with a single map-side-combining groupBy; the dim join (supplier name)
# broadcasts. At 100 TB that is one shuffle of (orderkey) keys instead of
# two fact-fact shuffles.
# --------------------------------------------------------------------------
@extra_query(
    "sole_return_supplier_ranking",
    oracle="""
    WITH per_order AS (
      SELECT l_orderkey,
             count(DISTINCT l_suppkey) AS ns,
             count(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS nr
      FROM lineitem
      GROUP BY l_orderkey
    ), sole AS (
      SELECT l.l_suppkey, count(*) AS numwait
      FROM lineitem l
      JOIN per_order p ON l.l_orderkey = p.l_orderkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey AND o.o_orderstatus = 'F'
      WHERE l.l_returnflag = 'R' AND p.ns >= 2 AND p.nr = 1
      GROUP BY l.l_suppkey
    )
    SELECT s.s_name, sole.numwait
    FROM sole JOIN supplier s ON s.s_suppkey = sole.l_suppkey
    ORDER BY numwait DESC, s.s_name
    LIMIT 10
    """,
    doc="Q21-shaped sole-problem-supplier ranking: EXISTS/NOT-EXISTS "
    "collapsed into one per-order aggregate (distinct vs distinct-flagged "
    "suppliers), fact joined once, supplier dim broadcast.",
    tags=("join", "subquery"),
)
def sole_return_supplier_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("ns"),
        F.countDistinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("nr"),
    )
    fixed_orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    sole = (
        li.filter(F.col("l_returnflag") == "R")
        .join(per_order.filter((F.col("ns") >= 2) & (F.col("nr") == 1)), "l_orderkey")
        .join(fixed_orders, "l_orderkey", "left_semi")
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_name"
    )
    return (
        sole.join(F.broadcast(sup), "l_suppkey")
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_name")
        .limit(10)
    )


# --------------------------------------------------------------------------
# FORWARD as-of join — the direction twin of asof_join_orders_events
# (pandas merge_asof direction='forward'): each order matched to the
# EARLIEST FOLLOWING event of its user. Same union + single window
# shuffle. Same-timestamp events sort before the order row and therefore
# attach BACKWARD (documented tie policy, consistent with the backward
# twin where same-ts events count as preceding).
#
# Execution note (caught by the r11 full-registry sf1 sweep at x18.9):
# the natural frame — first_value IGNORE NULLS over (CURRENT ROW,
# UNBOUNDED FOLLOWING), which the SQL oracle still uses — is quadratic
# per partition in Spark: UnboundedFollowingWindowFunctionFrame
# re-aggregates the whole remaining frame for every row, O(n^2) on the
# skewed 150-key uid space. The Spark side therefore flips the sort
# DESCENDING and takes a null-skipping last() over (UNBOUNDED PRECEDING,
# CURRENT ROW) — the running-aggregate frame Spark maintains
# incrementally, O(n) — which selects the identical row: the frame is
# the same "sorts at-or-after me ascending" set, and last-non-null in
# descending frame order is the ascending-minimal event.
# --------------------------------------------------------------------------
@extra_query(
    # r14 rotation: demoted to EXTRA (capability twin — backward as-of is
    # driver-certified by asof_join_orders_events; the O(n) descending
    # running frame got its driver certification in r12/r13) to make gate
    # room for the r14 flagships (wide phash + offset-tolerant video).
    "asof_join_forward",
    oracle="""
    WITH ev AS (
      SELECT user_id AS uid, ts AS ev_ts, event_id FROM events
    ), ord AS (
      SELECT o_orderkey, o_custkey % 150 AS uid, o_orderdate + INTERVAL 30 YEAR AS o_ts
      FROM orders
    ), u AS (
      SELECT uid, ev_ts AS ts, event_id, NULL::BIGINT AS o_orderkey, 0 AS is_order FROM ev
      UNION ALL
      SELECT uid, o_ts AS ts, NULL, o_orderkey, 1 FROM ord
    ), filled AS (
      SELECT uid, ts, o_orderkey, is_order,
             first_value(CASE WHEN is_order = 0 THEN event_id END IGNORE NULLS)
               OVER (PARTITION BY uid ORDER BY ts, is_order, coalesce(event_id, o_orderkey)
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_event_id
      FROM u
    )
    SELECT o_orderkey, uid, next_event_id
    FROM filled WHERE is_order = 1
    ORDER BY o_orderkey
    """,
    doc="Forward as-of join (merge_asof direction='forward'): union + one "
    "window shuffle with a null-skipping first_value over the FOLLOWING "
    "frame — no range-join explosion, same plan family as the backward "
    "twin.",
    tags=("join", "asof"),
)
def asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir).select(
        F.col("user_id").alias("uid"), F.col("ts"), F.col("event_id"),
        F.lit(None).cast("bigint").alias("o_orderkey"), F.lit(0).alias("is_order"),
    )
    orders = _t(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 150).alias("uid"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 YEAR")).alias("ts"),
        F.lit(None).cast("bigint").alias("event_id"),
        F.col("o_orderkey"),
        F.lit(1).alias("is_order"),
    )
    u = ev.unionByName(orders)
    w = (
        Window.partitionBy("uid")
        .orderBy(
            F.desc("ts"),
            F.desc("is_order"),
            F.desc(F.coalesce("event_id", "o_orderkey")),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = u.withColumn(
        "next_event_id",
        F.last(
            F.when(F.col("is_order") == 0, F.col("event_id")), ignorenulls=True
        ).over(w),
    )
    return (
        filled.filter(F.col("is_order") == 1)
        .select("o_orderkey", "uid", "next_event_id")
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# Bidirectional trade volume (TPC-H Q7 shape): lineitem resolves its
# SUPPLIER nation and, through orders->customer, its CUSTOMER nation;
# only the two directions of one nation pair survive. At 100 TB the two
# nation joins broadcast (25 rows); supplier/customer scale with SF so
# AQE picks their strategy; the single big shuffle is lineitem|><|orders
# on orderkey. The year comes out of the shipdate, not a calendar table.
# --------------------------------------------------------------------------
@extra_query(
    "nation_trade_volume_by_year",
    oracle="""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           year(l_shipdate) AS l_year,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation sn ON sn.n_nationkey = s_nationkey
      JOIN nation cn ON cn.n_nationkey = c_nationkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
        OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
    doc="TPC-H Q7 shape: both nation joins broadcast; one orderkey "
    "shuffle joins the two fact legs; the pair filter prunes before the "
    "aggregate so the groupBy carries only the surviving directions.",
    tags=("join", "agg"),
)
def nation_trade_volume_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# --------------------------------------------------------------------------
# Market share (TPC-H Q8 shape): a region's PROMO order volume per year,
# split into the focal nation's suppliers vs everyone — share-of-total as
# one conditional aggregate (no self-join, no second pass). The rounding
# happens AFTER the ratio so both engines divide the same full-precision
# sums.
# --------------------------------------------------------------------------
@query(
    # driver-gated from the start (r8): the Q8 share-of-total shape is a
    # new capability row, not a twin of an existing gate entry
    "market_share_by_year",
    oracle="""
    SELECT year(o_orderdate) AS o_year,
           round(sum(CASE WHEN sn.n_name = 'NATION_2'
                          THEN l_extendedprice * (1 - l_discount)
                          ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share,
           count(*) AS n_lines
    FROM lineitem
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation cn ON cn.n_nationkey = c_nationkey
      JOIN region   ON r_regionkey = cn.n_regionkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation sn ON sn.n_nationkey = s_nationkey
      JOIN part     ON p_partkey = l_partkey
    WHERE r_name = 'ASIA' AND p_type = 'PROMO'
    GROUP BY 1 ORDER BY 1
    """,
    doc="TPC-H Q8 shape: share-of-total inside one aggregate via a "
    "conditional sum; nation/region broadcast, part prefilters to PROMO "
    "before the join, one orderkey shuffle carries the fact legs.",
    tags=("join", "agg"),
)
def market_share_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    focal = F.when(F.col("supp_nation") == "NATION_2", vol).otherwise(F.lit(0.0))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(
            F.broadcast(region), F.col("cn_region") == F.col("r_regionkey")
        )
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(F.sum(focal) / F.sum(vol), 6).alias("mkt_share"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("o_year")
    )


# --------------------------------------------------------------------------
# Large-volume orders (TPC-H Q18 shape): a HAVING-over-sum threshold on
# the fact table selects the qualifying order keys, then a semi-join
# pulls the order/customer detail — the aggregate runs ONCE, map-side
# combined, and only the tiny qualifying key set joins back (never a
# correlated re-aggregate per order). At 100 TB: one orderkey shuffle
# for the groupBy, broadcast of the qualifying keys.
# --------------------------------------------------------------------------
@extra_query(
    "large_volume_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey, sum(l_quantity) AS total_qty
      FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 300
    )
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           round(total_qty, 2) AS total_qty
    FROM big
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
    doc="TPC-H Q18 shape: HAVING sum(qty) > 300 computed once on the "
    "fact table; the qualifying key set (tiny by construction) joins "
    "back for detail — top-k by order value via TakeOrdered.",
    tags=("join", "agg", "topk"),
)
def large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__qty"))
        .filter(F.col("__qty") > 300)
        .select("l_orderkey", F.round("__qty", 2).alias("total_qty"))
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "o_totalprice", "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Returned-item reporting (TPC-H Q10 shape): customers ranked by revenue
# lost to returns in one quarter. The returnflag + date filters prune the
# fact scan BEFORE the joins; customer detail attaches after the
# per-customer aggregate, so the wide columns never ride the big shuffle.
# --------------------------------------------------------------------------
@extra_query(
    "returned_item_customers",
    oracle="""
    WITH lost AS (
      SELECT o_custkey,
             round(sum(l_extendedprice * (1 - l_discount)), 0) AS revenue
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      WHERE l_returnflag = 'R'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY 1
    )
    SELECT c_custkey, c_name, c_acctbal, n_name, revenue
    FROM lost
      JOIN customer ON c_custkey = o_custkey
      JOIN nation   ON n_nationkey = c_nationkey
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10 shape: filters reach the scans before the orderkey "
    "shuffle; customer/nation detail joins AFTER the per-customer "
    "aggregate (the top-k candidate set), nation broadcast.",
    tags=("join", "agg", "topk"),
)
def returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    lost = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            # whole-dollar revenue: a ~100-term float sum can land within
            # 1e-8 of a cent's .xx5 rounding boundary and flip between
            # engines' summation orders (it did, at sf0.01); at 0 decimals
            # the flip window is 5000x narrower than the per-term noise
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 0
            ).alias("revenue")
        )
    )
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        lost.join(cust, lost.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select("c_custkey", "c_name", "c_acctbal", "n_name", "revenue")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Customer order-count distribution (TPC-H Q13 shape): LEFT join so
# zero-order customers survive into the 0 bucket, then a histogram of
# the per-customer counts — two shuffles total (custkey, then the
# count-sized distribution groupBy).
# --------------------------------------------------------------------------
@extra_query(
    "customer_order_distribution",
    oracle="""
    WITH per_cust AS (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    SELECT c_count, count(*) AS custdist
    FROM per_cust
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    doc="TPC-H Q13 shape: left join keeps customers with no qualifying "
    "orders (count 0); count(o_orderkey) ignores the NULLs the left "
    "join manufactures; second groupBy is count-cardinality-sized.",
    tags=("join", "agg"),
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# --------------------------------------------------------------------------
# Disjunctive multi-predicate join (TPC-H Q19 shape): three OR-branches
# of (brand, size, quantity) conditions. The join itself stays a pure
# partkey equi-join — the disjunction is a post-join FILTER, so Catalyst
# keeps the hash join instead of degrading to a nested loop; the shared
# part-side prefilter (union of the brands/sizes) pushes into the scan.
# --------------------------------------------------------------------------
@extra_query(
    "brand_quantity_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 21)
       OR (p_brand = 'Brand#22' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 40)
    """,
    doc="TPC-H Q19 shape: equi-join on partkey with the OR-of-ANDs as a "
    "post-join filter (hash join preserved); the brand-membership "
    "prefilter pushes to the part scan.",
    tags=("join", "agg"),
)
def brand_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#13", "Brand#22", "Brand#34")
    ).select("p_partkey", "p_brand", "p_size")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    cond = (
        (
            (F.col("p_brand") == "Brand#13")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 21)
        )
        | (
            (F.col("p_brand") == "Brand#22")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 40)
        )
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# --------------------------------------------------------------------------
# Dormant high-balance customers (TPC-H Q22 shape): acctbal above the
# positive-balance average AND no URGENT orders (the testdata generator
# gives every customer SOME order, so the classic no-orders-at-all
# predicate is vacuously empty at small SFs — the filtered anti-join
# keeps the Q22 shape AND a non-trivial result). The scalar average
# broadcasts; NOT EXISTS is a left_anti join — never a correlated
# re-scan per customer.
# --------------------------------------------------------------------------
@extra_query(
    "dormant_customer_balances",
    oracle="""
    WITH avg_bal AS (
      SELECT avg(c_acctbal) AS a FROM customer WHERE c_acctbal > 0.0
    )
    SELECT substr(c_name, 10, 2) AS cntry, count(*) AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
    FROM customer, avg_bal
    WHERE c_acctbal > a
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderpriority = '1-URGENT')
    GROUP BY 1 ORDER BY 1
    """,
    doc="TPC-H Q22 shape: scalar positive-balance average broadcast into "
    "the filter; NOT EXISTS as left_anti against the urgent-orders "
    "subset; group key is a name-derived code (substr).",
    tags=("join", "subquery", "agg"),
)
def dormant_customer_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("a")
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy(F.substring("c_name", 10, 2).alias("cntry"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("cntry")
    )


# --------------------------------------------------------------------------
# Minimum-cost-supplier (TPC-H Q2 shape): the classic correlated-scalar-
# subquery decorrelation. The reference engine has no joins or subqueries
# (SURVEY.md §2.4) — this is engine-superset coverage of the decorrelation
# pattern: the correlated `cost = (SELECT min(cost) ... WHERE same part)`
# becomes a per-part aggregate joined back as an equi-join. The testdata
# star schema has no partsupp table, so the part<->supplier bridge is
# derived from lineitem (min observed unit price per (part, supplier) —
# one fact shuffle), exactly the argmin-decorrelation physical shape.
# --------------------------------------------------------------------------
@query(
    "min_cost_supplier",
    oracle="""
    WITH ps AS (
      SELECT l_partkey AS pk, l_suppkey AS sk,
             min(l_extendedprice / l_quantity) AS cost
      FROM lineitem GROUP BY 1, 2
    ), f AS (
      SELECT pk, sk, cost, s_acctbal, s_name, n_name
      FROM ps
        JOIN supplier ON s_suppkey = sk
        JOIN nation   ON n_nationkey = s_nationkey
        JOIN region   ON r_regionkey = n_regionkey
        JOIN part     ON p_partkey = pk
      WHERE r_name = 'ASIA' AND p_size <= 15 AND p_type = 'ECONOMY'
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
           round(cost, 2) AS supply_cost
    FROM f
      JOIN part ON p_partkey = f.pk
    WHERE cost = (SELECT min(f2.cost) FROM f f2 WHERE f2.pk = f.pk)
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
    doc="TPC-H Q2 shape (no partsupp in the testdata; lineitem-derived "
    "supply cost): correlated per-part min decorrelated into a groupBy + "
    "broadcast join-back; all dims broadcast; ONE fact shuffle on "
    "(partkey, suppkey).",
    tags=("join", "subquery", "decorrelation"),
)
def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    # one shuffle: the (part, supplier) bridge with its min unit price
    ps = li.groupBy(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    ).agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("cost"))

    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 15) & (F.col("p_type") == "ECONOMY")
    )
    # all dims broadcast: the filters prune BEFORE the per-part min so the
    # correlated aggregate only sees region-eligible suppliers of eligible
    # parts (Q2's subquery scoping)
    f = (
        ps.join(F.broadcast(sup), ps.sk == sup.s_suppkey)
        .join(F.broadcast(nat), F.col("s_nationkey") == nat.n_nationkey)
        .join(F.broadcast(reg), F.col("n_regionkey") == reg.r_regionkey)
        .join(F.broadcast(part.select("p_partkey", "p_name")), ps.pk == F.col("p_partkey"))
        .select("pk", "cost", "s_acctbal", "s_name", "n_name", "p_partkey", "p_name")
    )
    # decorrelation: per-part min as a tiny aggregate broadcast back — the
    # equality is over identical doubles on both sides, so tie membership
    # is engine-deterministic
    mins = f.groupBy(F.col("pk").alias("mpk")).agg(F.min("cost").alias("mc"))
    return (
        f.join(F.broadcast(mins), (f.pk == F.col("mpk")) & (f.cost == F.col("mc")))
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_name",
            F.round("cost", 2).alias("supply_cost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


# --------------------------------------------------------------------------
# Small-quantity-order revenue (TPC-H Q17 shape): the second classic
# decorrelation — a correlated per-part AVERAGE broadcast back into the
# fact filter (`l_quantity < 0.2 * avg(l_quantity) for the same part`).
# --------------------------------------------------------------------------
@extra_query(
    "small_quantity_revenue",
    oracle="""
    WITH b AS (
      SELECT p_partkey FROM part WHERE p_brand = 'Brand#4'
    ), a AS (
      SELECT l_partkey AS pk, avg(l_quantity) AS avg_qty
      FROM lineitem JOIN b ON p_partkey = l_partkey
      GROUP BY 1
    )
    SELECT count(*) AS n_small,
           round(sum(l_extendedprice) / 7.0, 0) AS avg_yearly
    FROM lineitem JOIN a ON pk = l_partkey
    WHERE l_quantity < 0.2 * avg_qty
    """,
    doc="TPC-H Q17 shape: per-part avg(l_quantity) decorrelated into a "
    "brand-pruned aggregate broadcast back into the fact filter. "
    "l_quantity is integral in the testdata, so the avg is an exact "
    "rational and the 0.2*avg comparison is engine-deterministic; the "
    "final float sum is round(.., 0) per the Q10 discipline.",
    tags=("join", "subquery", "decorrelation", "agg"),
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    brand = _t(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#4"
    ).select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    # brand prune FIRST (broadcast): the per-part aggregate only shuffles
    # the ~5% of the fact that can qualify
    branded = li.join(F.broadcast(brand), li.l_partkey == brand.p_partkey)
    avg_qty = branded.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    # the avg table is brand-sized — broadcast it back into the fact
    # filter instead of re-shuffling the fact
    return (
        branded.join(F.broadcast(avg_qty), branded.l_partkey == F.col("pk"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            F.count(F.lit(1)).alias("n_small"),
            F.round(F.sum("l_extendedprice") / 7.0, 0).alias("avg_yearly"),
        )
    )


# --------------------------------------------------------------------------
# Dominant-shipper suppliers (TPC-H Q20 shape): the nested-EXISTS chain
# (supplier IN (... part IN (...) HAVING sum > correlated sum)) lowered to
# a semi-join ladder. Without partsupp.ps_availqty, "excess availability"
# becomes "shipped the majority of a part's volume in the window" — the
# same correlated-HAVING-over-correlated-total physical shape.
# --------------------------------------------------------------------------
@extra_query(
    "dominant_part_suppliers",
    oracle="""
    WITH fl AS (
      SELECT l_partkey AS pk, l_suppkey AS sk, sum(l_quantity) AS qty
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE 'small%'
        AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY 1, 2
    ), tot AS (
      SELECT pk, sum(qty) AS total_qty FROM fl GROUP BY 1
    )
    SELECT s_name, s_acctbal, n_name
    FROM supplier
      JOIN nation ON n_nationkey = s_nationkey
      JOIN region ON r_regionkey = n_regionkey
    WHERE r_name = 'EUROPE'
      AND s_suppkey IN (
        SELECT sk FROM fl JOIN tot USING (pk) WHERE qty > 0.5 * total_qty
      )
    ORDER BY s_name
    """,
    doc="TPC-H Q20 shape: nested EXISTS chain as a semi-join ladder — "
    "name-filtered parts broadcast into the date-pruned fact, one "
    "(part, supplier) shuffle, per-part totals derived from that same "
    "aggregate (no second fact pass), majority filter, then LEFT SEMI "
    "into supplier with nation/region broadcast. Integral quantities "
    "keep the 0.5*total comparison exact.",
    tags=("join", "subquery", "semi", "decorrelation"),
)
def dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").filter(
        F.col("p_name").like("small%")
    ).select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    ).select("l_partkey", "l_suppkey", "l_quantity")
    fl = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk"))
        .agg(F.sum("l_quantity").alias("qty"))
    )
    # per-part totals fold the SAME aggregate — map-side-combinable and
    # tiny; broadcast back for the majority test
    tot = fl.groupBy(F.col("pk").alias("tpk")).agg(F.sum("qty").alias("total_qty"))
    dominant = (
        fl.join(F.broadcast(tot), fl.pk == F.col("tpk"))
        .filter(F.col("qty") > 0.5 * F.col("total_qty"))
        .select("sk")
        .distinct()
    )
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    return (
        sup.join(F.broadcast(dominant), sup.s_suppkey == dominant.sk, "left_semi")
        .join(F.broadcast(nat), F.col("s_nationkey") == nat.n_nationkey)
        .join(F.broadcast(reg), F.col("n_regionkey") == reg.r_regionkey)
        .select("s_name", "s_acctbal", "n_name")
        .orderBy("s_name")
    )
