"""Distributed global rank — the scale-correct replacement for
`Window.orderBy(...)` with no partition spec, which Spark executes by
moving EVERY row into a single partition (WindowExec warns, and at 100 TB
it simply does not run).

The classic construction: range-partition by the sort key, sort within
partitions (both distributed), pin the partitioning, then one tiny count
pass yields each partition's global offset; a mapInPandas sweep assigns
consecutive ranks per partition starting at its offset. Shuffle cost is
one range exchange — the same as any global sort — and nothing ever
funnels.

`ntile_from_rank` reproduces SQL NTILE(n) semantics exactly (first
`total % n` buckets get one extra row), so queries keep their DuckDB
ntile oracles: the single-node window function cross-checks this
distributed implementation per round.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from railgun_spark.session import pin


def with_global_rank(
    df: DataFrame, cols: list[str], rank_col: str = "__rank", partitions: int | None = None
) -> tuple[DataFrame, int]:
    """Add a 0-indexed global rank by `cols` (must be a total order —
    include a unique tiebreaker) without a single-partition window.
    Returns (ranked_df, total_rows). The frame is localCheckpoint-pinned
    so the offset pass and the assignment pass see identical partitions
    (repartitionByRange samples boundaries; two evaluations could
    otherwise disagree)."""
    import pandas as pd

    spark = df.sparkSession
    parts = partitions or spark.sparkContext.defaultParallelism
    rp = pin(
        df.repartitionByRange(parts, *[F.col(c) for c in cols])
        .sortWithinPartitions(*cols)
        .withColumn("__pid", F.spark_partition_id()),
        "rank.range_partitions",
    )
    pid_counts = {r["__pid"]: r["count"] for r in rp.groupBy("__pid").count().collect()}
    offsets = {}
    acc = 0
    for pid in sorted(pid_counts):
        offsets[pid] = acc
        acc += pid_counts[pid]
    total = acc
    out_schema = T.StructType(rp.schema.fields + [T.StructField(rank_col, T.LongType())])

    def assign(batches):
        seen = 0
        for pdf in batches:
            if pdf.empty:
                continue
            start = offsets[int(pdf["__pid"].iloc[0])] + seen
            pdf = pdf.copy()
            pdf[rank_col] = pd.RangeIndex(start, start + len(pdf))
            seen += len(pdf)
            yield pdf

    return rp.mapInPandas(assign, out_schema).drop("__pid"), total


def ntile_from_rank(rank_col: str, n: int, total: int) -> Column:
    """SQL NTILE(n) bucket (1-indexed) from a 0-indexed global rank:
    the first `total % n` buckets hold `total // n + 1` rows, the rest
    `total // n` — byte-for-byte the semantics DuckDB/Spark ntile use."""
    rank = F.col(rank_col)
    small = total // n
    n_big = total % n
    if small == 0:  # fewer rows than buckets: one row per bucket
        return (rank + 1).cast("int")
    cutoff = (small + 1) * n_big
    return (
        F.when(rank < cutoff, F.floor(rank / (small + 1)))
        .otherwise(n_big + F.floor((rank - cutoff) / small))
        .cast("int")
        + 1
    )
