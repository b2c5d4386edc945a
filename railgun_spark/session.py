"""SparkSession factory tuned for the engine.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the configs are
chosen to also be the right defaults on a multi-executor cluster at the 100 TB
design point:

- AQE on (runtime coalesce, skew-join splitting) so shuffle partition counts
  self-tune as data volume scales 1000x.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real cluster
  AQE's coalesce makes the initial number a ceiling, not a commitment.
- Arrow enabled: every Python-side operator in this repo is a Pandas UDF /
  mapInPandas (Arrow batches), never a row-at-a-time Python UDF.
- 128 MiB file split size — big enough to amortize task overhead on parquet
  scans, small enough that a 100 TB table still yields ~800k tasks that AQE
  coalesces after pushdown pruning.
- Generated-code cache sized to the engine's working set
  (``CODEGEN_CACHE_ENTRIES``). Spark's default keeps 100 compiled classes per
  JVM, but one pass over the perfbench batch slate needs 169 and the
  registry queries on those tables need 1374, so a long-lived session (CLI
  loop, server, bench) recompiled ~125-150 classes with Janino on every pass
  (~18 ms each, then JIT-compiled again). Measured at 4 cores, settled
  passes: ~18 s -> ~10 s process CPU and ~7 s -> ~2 s JIT compile per slate
  pass, 0 Janino compiles.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


_EXCLUDED_RULES = "spark.sql.optimizer.excludedRules"
_BUILTIN_EXCLUDED_RULES = (
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
)

# spark.sql.codegen.cache.maxEntries: holds every registry query's classes
# (1374 on the perfbench tables, ~2.5 KB bytecode each) with headroom, plus
# 3 per distinct data tile the server has filtered on Spark: tiles with a
# user dfl and tiles of layers over spark.sql.autoBroadcastJoinThreshold
# (the others are answered from a driver-side snapshot, geo/serving.py).
CODEGEN_CACHE_ENTRIES = 4096


def _excluded_rules(extra: str | None = None) -> str:
    """The session's optimizer exclusions: the built-in ones plus a
    caller's comma-separated list, comma-joined and de-duplicated in
    order."""
    rules = [*_BUILTIN_EXCLUDED_RULES, *(extra or "").split(",")]
    return ",".join(dict.fromkeys(r.strip() for r in rules if r.strip()))


def get_spark(app_name: str = "railgun_spark", extra_conf: dict | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # pandas/pyarrow writes timestamp[us] with isAdjustedToUTC=false;
        # without this, Spark 4 infers TIMESTAMP_NTZ which breaks
        # unix_micros()/withWatermark(). Session tz is pinned UTC above, so
        # reading as TIMESTAMP preserves the wall-clock values the DuckDB
        # oracle sees.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # InferFiltersFromGenerate synthesizes `size(e) > 0 AND
        # isnotnull(e)` below every explode(e); PushDownPredicate then
        # inlines e's whole expression tree into that Filter. For the
        # text operators here e is an interpreted higher-order shingle/
        # tokenize chain, so every exploded corpus row paid the chain
        # 2-3x (plan evidence: plans/r18/decontaminate_ngram_overlap —
        # 12 zip_with instances before, 4 after). The inferred filter
        # buys nothing in this engine at ANY scale: every Generate sits
        # directly above its producing projection (explode already
        # drops empty arrays in the same stage), and array-size
        # predicates cannot push into parquet scans. Scale-independent:
        # the duplicated work is per-row CPU, which only grows at 100 TB.
        # a caller's extra_conf exclusions MERGE with this one (see
        # _excluded_rules) instead of silently re-enabling the rule
        .config(
            _EXCLUDED_RULES,
            _excluded_rules((extra_conf or {}).get(_EXCLUDED_RULES)),
        )
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # static SQL conf: fixed when the JVM's first session starts
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        if k != _EXCLUDED_RULES:
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def spread_scan(df, heavy: bool = False, min_bytes: int = 32 << 20):
    """Spread a CPU-bound narrow scan across the session's cores.

    Per-row-expensive map stages (codec decode, shingling, window
    hashing, tokenization) must not be bounded by input FILE SPLITS: a
    single small parquet file scans as ONE partition, so one core does
    all the compute while the rest idle (guide §2.5 input skew). Narrow
    inputs are repartitioned up to ``defaultParallelism``; the explicit
    partition count keeps AQE from coalescing the tiny exchange back to
    one partition. Three cases skip the shuffle:

    - the frame already carries >= defaultParallelism partitions (any
      real scan at 100 TB) — the exchange buys nothing;
    - the frame is streaming — micro-batch parallelism follows the
      ingest file splits; a per-batch shuffle has no stable benefit;
    - ``heavy`` is False and Catalyst's size estimate is under
      ``min_bytes`` — light per-row work over a few MB is faster on one
      core than the round-trip shuffle.

    ``heavy=True`` marks stages whose per-row CPU dominates any shuffle
    at any size (real codecs; corpus-wide crypto-hash/shingle passes).
    Unknown stats (Catalyst's 8-EiB default) count as big — the safe
    direction.
    """
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    if not heavy:
        est = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        if est < min_bytes:
            return df
    return df.repartition(target)


# pin(..., gated=True) skips frames Catalyst estimates under this size
PIN_MIN_BYTES = 64 << 20


def pin(df, site: str, *, gated: bool = False):
    """The engine's one pin: materialize a frame consumed more than once
    (self-join sides, loop state, values several actions must agree on)
    by an eager checkpoint whose jobs are described ``pin:<site>``, then
    restore the caller's ``spark.job.description`` (or its absence). ``site`` is a
    dotted name unique to the call site, e.g. ``"dedup.sets_frame"``.

    Pinning trades a blocking job now for not planning — and executing —
    the frame's subtree once per consumer. That trade flips with size: at
    100 TB the subtree is a corpus pass and recomputing it per consumer
    dwarfs the pin write, but at bench scale the pin job can cost more
    than the saved recompute (r17 bench: dedup_ngram_jaccard x0.74,
    dedup_containment_exact x0.69, pagerank_word_graph x0.80 from
    unconditional pins; r18 A/B at sf0.1/local[32], 7 iters: no-pin
    5.13 s vs eager 5.73 s vs lazy 5.99 s on the two prefix queries). So
    ``gated=True`` pins only at an estimate of ``PIN_MIN_BYTES`` or more
    and otherwise returns ``df`` itself, running no job; Catalyst's
    unknown-stats default (8 EiB) counts as big, the safe direction at
    scale. The default pins always: frames far cheaper to store than to
    recompute at any scale, and loop state whose lineage must not grow.
    There is no lazy form (materialized inside the first consumer job):
    at its last two sites it won no row against eager in every pair of a
    same-window A/B (sf0.1, 4 cores, 4 pairs), and gating those sites
    lost 1.2-1.8x on the prefix joins. A site's policy changes only with
    a same-window A/B."""
    if gated:
        est = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        if est < PIN_MIN_BYTES:
            return df
    sc = df.sparkSession.sparkContext
    prior = sc.getLocalProperty("spark.job.description")
    sc.setLocalProperty("spark.job.description", f"pin:{site}")
    try:
        return df.localCheckpoint()
    finally:
        sc.setLocalProperty("spark.job.description", prior)


def overlap(spark: SparkSession, *thunks):
    """Run independent thunks (each driving its own Spark jobs)
    concurrently and return their results in order (guide §2.6: one
    branch's straggler tail backfills with the others' tasks). Each runs
    through `inheritable_thread_target`, so its jobs carry the caller's
    local properties — job group, description, scheduler pool — which
    pinned-thread mode otherwise leaves behind on a pool thread."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    def carry(t):
        wrap = inheritable_thread_target(spark)
        # pinned-thread mode off: the session comes back unchanged
        return t if wrap is spark else wrap(t)

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(carry(t)) for t in thunks]
        return [f.result() for f in futures]


def local_df(spark: SparkSession, rows: list, schema: str):
    """Tiny driver-side rows as a SINGLE-partition DataFrame.

    spark.createDataFrame(list) spreads even one row over
    defaultParallelism Python-RDD partitions, so every evaluation runs a
    32-task Python-worker job (~3-5 s in local[32]; measured — a 1-row
    index-metadata write cost 5 s and dominated the IVF-PQ build wall).
    One slice makes the same evaluation ~0.3 s. Only for quantizer/
    codebook/weights/metadata-sized data, never corpus rows."""
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
