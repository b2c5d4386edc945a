"""Streaming decontamination: stream-static join inside foreachBatch.

The batch operator (`operators/dedup.py decontaminate_ngram_overlap`)
broadcasts the eval-set shingles and joins the corpus against them. The
streaming form is the same join run per micro-batch via foreachBatch —
the idiomatic Structured Streaming pattern when each unit of work (a
document) is fully contained in one input row: no streaming aggregation
state is needed, because the groupBy(doc_id) inside the handler is plain
batch semantics over that micro-batch only. The static eval side is
computed once and broadcast to every batch.

At scale this is how an ingest pipeline keeps new crawl shards clean:
files land, each micro-batch flags contaminated docs against the pinned
benchmark set, clean rows flow to the corpus sink.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from railgun_spark.operators.dedup import (
    EVAL_MOD,
    neardup_contamination,
    pooled_contamination,
    shingle_pool,
    shingle_sets,
)
from railgun_spark.session import pin
from railgun_spark.streaming.ingest import _drain_availablenow


def _refuse_fresh_checkpoint_over_used_sink(checkpoint_dir: str, flags_sink: str) -> None:
    """Per-batch overwrite is idempotent only while the batch-id -> files
    mapping is stable, i.e. within ONE checkpoint lineage. A FRESH
    checkpoint may batch the files differently and strand the old run's
    higher-numbered partitions as phantom flags — refuse loudly."""
    import os

    if not os.path.exists(checkpoint_dir) and os.path.exists(flags_sink):
        if any(not e.startswith((".", "_")) for e in os.listdir(flags_sink)):
            raise ValueError(
                f"flags_sink {flags_sink!r} already holds partitions but "
                f"checkpoint_dir {checkpoint_dir!r} is fresh: a new "
                "checkpoint may assign different batch ids and strand the "
                "old run's partitions as phantom flags. Resume with the "
                "original checkpoint, or point the fresh run at an empty "
                "sink."
            )


def _drain_to_flags(
    spark: SparkSession,
    schema: StructType,
    source_dir: str,
    checkpoint_dir: str,
    flags_sink: str,
    max_files_per_trigger: int,
    flags_of,
    empty_schema: str,
) -> DataFrame:
    """Drain `source_dir` (documents of `schema`; availableNow, through
    ingest's scaffold and its refusal of nested shard dirs): each micro-batch overwrites its own
    ``ingest_batch=<id>`` partition of `flags_sink` with
    ``flags_of(batch_df)``. Returns the sink read back."""

    def gate(batch_df: DataFrame, batch_id: int) -> int:
        # empty batches still write their (empty) partition: idempotent
        # either way, and the sink then records that the batch was examined
        flags_of(batch_df).write.mode("overwrite").parquet(
            f"{flags_sink}/ingest_batch={batch_id}"
        )
        return 0

    _drain_availablenow(
        spark, source_dir, schema, checkpoint_dir, max_files_per_trigger, gate
    )
    try:
        return spark.read.option("basePath", flags_sink).parquet(flags_sink)
    except AnalysisException as e:
        # zero micro-batches ran (empty source dir): no sink was created.
        # ONLY that case maps to empty — an unreadable/corrupt sink must
        # raise, not silently report zero contamination (same discipline
        # as dedup._read_index_or_none).
        from railgun_spark.errors import is_path_not_found

        if is_path_not_found(e):
            return spark.createDataFrame([], empty_schema)
        raise


def stream_decontaminate_availablenow(
    spark: SparkSession,
    sf_dir: str,
    source_dir: str,
    checkpoint_dir: str,
    flags_sink: str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Run document shards landing in `source_dir` through the streaming
    path to completion (availableNow) and return the flagged docs as a
    DataFrame ``(doc_id, ingest_batch)`` read from `flags_sink` — the
    batch-twin harness used by tests to prove stream/batch equivalence.
    (File stream sources take a directory of arriving shards; the eval set
    and schema come from the pinned sf_dir table.)

    Flags are WRITTEN, not collected: on a contaminated slice of a 100 TB
    corpus the flag set is itself big data, so each micro-batch overwrites
    its own ``ingest_batch=<id>`` partition of the parquet sink (the same
    replay-idempotent discipline as ingest.py `_write_sink`) and the
    driver never holds a row. A crash-replayed batch recomputes identical
    flags (the join has no cross-batch state) and overwrites the same
    partition, so restarts never duplicate or lose flags."""
    _refuse_fresh_checkpoint_over_used_sink(checkpoint_dir, flags_sink)
    static_docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # materialize the eval pool ONCE: without this, every micro-batch
    # re-executes the whole scan/shingle/explode/distinct subtree before
    # broadcasting — "computed once" must mean the work, not just the plan
    ev_docs = static_docs.filter(F.col("doc_id") % EVAL_MOD == 0)
    pool = pin(shingle_pool(shingle_sets(ev_docs)), "decontam.eval_pool")

    def flags_of(batch_df: DataFrame) -> DataFrame:
        tr = shingle_sets(batch_df.filter(F.col("doc_id") % EVAL_MOD != 0), "doc_id")
        return pooled_contamination(tr, pool).select("doc_id")

    return _drain_to_flags(
        spark, static_docs.schema, source_dir, checkpoint_dir, flags_sink,
        max_files_per_trigger, flags_of, "doc_id BIGINT, ingest_batch INT",
    )


def stream_neardup_decontaminate_availablenow(
    spark: SparkSession,
    sf_dir: str,
    source_dir: str,
    checkpoint_dir: str,
    flags_sink: str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Streaming twin of decontaminate_neardup_eval (operators/dedup.py):
    each arriving shard's training docs run the lossless cross-table
    prefix-filter join against the pinned eval set, and every doc within
    Jaccard >= NEARDUP_CONTAM threshold of some eval doc is flagged with
    its best-matching eval doc — per-item leak attribution at ingest
    time, not a pooled-shingle score.

    Per-batch semantics are complete (the eval side is static and each
    doc lives in exactly one micro-batch), so the per-batch best match
    equals the batch operator's global best match — the batch-twin test
    asserts the exact (doc_id, eval_doc_id, jaccard) set. Flags land in
    the replay-idempotent ``ingest_batch=<id>`` partition layout; the
    driver never holds a flag row."""
    _refuse_fresh_checkpoint_over_used_sink(checkpoint_dir, flags_sink)
    static_docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # pinned eval side: hashed shingle sets, materialized once
    ev_docs = static_docs.filter(F.col("doc_id") % EVAL_MOD == 0)
    ev = pin(shingle_sets(ev_docs, "doc_id", hashed=True), "decontam.eval_sets")

    def flags_of(batch_df: DataFrame) -> DataFrame:
        tr = shingle_sets(
            batch_df.filter(F.col("doc_id") % EVAL_MOD != 0), "doc_id", hashed=True
        )
        return neardup_contamination(tr, ev)

    return _drain_to_flags(
        spark, static_docs.schema, source_dir, checkpoint_dir, flags_sink,
        max_files_per_trigger, flags_of,
        "doc_id BIGINT, eval_doc_id BIGINT, jaccard DOUBLE, ingest_batch INT",
    )
