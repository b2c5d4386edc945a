"""Streaming corpus ingestion with incremental dedup: foreachBatch over a
file stream, gated by the persisted fingerprint index (operators/dedup.py
`dedup_against_index`).

This is the continual-pretraining ingest loop: crawl shards land in a
directory, each micro-batch dedups (a) within itself and (b) against every
previously admitted document — WITHOUT rescanning the corpus, because the
seen-set is the append-only 8-bytes/row fingerprint index. Survivors flow
to the corpus sink and their fingerprints append to the index, so the gate
is exactly-once per content hash across the whole stream's lifetime.

foreachBatch (not a stateful operator) is the right Spark shape here: the
state (the index) must outlive the query, be shared with batch backfills,
and hold billions of entries — a parquet/Delta table beats stream state
store for all three. The per-batch work is the same two joins as the batch
operator, so stream and batch paths provably admit the same content set
(order decides only WHICH copy of a duplicate survives; the test asserts
content-set equality).

At 100 TB: the index join is an equi-join on a uniform 60-bit hash —
bucket the index by hash to make it a zero-shuffle co-located join; the
sink append is partitioned by ingest date. localCheckpoint pins each
batch's survivor set so sink-write and index-append see the same rows
(the index append must not invalidate the survivor computation mid-batch).
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession

from railgun_spark.operators.dedup import append_to_index, dedup_against_index
from railgun_spark.session import pin

if TYPE_CHECKING:
    from railgun_spark.operators.phash import SignatureFamily


def _write_sink(survivors: DataFrame, sink_path: str, batch_id: int | None) -> int:
    """Write a batch's survivors. Streaming batches write to an
    `ingest_batch=<id>` partition dir with OVERWRITE, making the
    foreachBatch replay after a crash idempotent:

    - crash before the sink write: replay regates, same survivors, same
      partition overwritten once;
    - crash between sink write and index append: replay re-admits (index
      has no entry yet) and overwrites the SAME partition — no duplicate
      sink rows (the window the plain append left open);
    - crash after index append: replay's gate rejects everything, and the
      empty batch SKIPS the write below so the already-written partition
      survives — no data loss.

    Batch backfills (batch_id None) APPEND under the reserved
    `ingest_batch=-1` partition so a sink fed by both modes keeps ONE
    uniform partition layout (files at the sink root alongside
    ingest_batch=<id> dirs would make the whole sink unreadable). Streaming
    batch ids are non-negative, so -1 never collides; backfills have no
    replay window (no checkpoint), hence append, not overwrite.
    """
    n = survivors.count()
    if batch_id is None:
        _reject_legacy_root_files(sink_path)
        survivors.write.mode("append").parquet(f"{sink_path}/ingest_batch=-1")
    elif n > 0:
        survivors.write.mode("overwrite").parquet(
            f"{sink_path}/ingest_batch={batch_id}"
        )
    return n


def _partition_committed(sink_path: str, batch_id: int) -> bool:
    """True iff the batch's sink partition holds a COMMITTED write (the
    job-level _SUCCESS marker — a crash mid-write leaves the dir without
    it, and the replay must then rewrite)."""
    import os

    return os.path.isfile(
        os.path.join(sink_path, f"ingest_batch={batch_id}", "_SUCCESS")
    )


def _write_media_sink(
    survivors: DataFrame, has_gateable: bool, sink_path: str, batch_id: int | None
) -> int:
    """Media-gate variant of `_write_sink`. Media batches carry
    PASS-THROUGH rows (non-matching kind, decode-refused) that survive
    every gate unconditionally, so — unlike the text/embedding gates —
    a replay after the index append is NOT an empty batch: it is exactly
    the pass-through rows. Overwriting the partition with them would
    drop the previously admitted decodable rows from the sink while
    their bands stay indexed (unrecoverable: they can never re-admit).

    `has_gateable` = some survivor produced band rows (i.e. a decodable
    row of the gated kind survived). The replay-after-append signature
    is therefore `not has_gateable` AND the partition already committed:
    every decodable row was rejected by its own index entries, and the
    partition already holds the batch's full original survivor set —
    skip the write. A FIRST write of an all-pass-through batch has no
    committed partition yet and still writes normally."""
    if batch_id is None:
        return _write_sink(survivors, sink_path, batch_id)
    if not has_gateable and _partition_committed(sink_path, batch_id):
        return 0
    n = survivors.count()
    if n > 0:
        survivors.write.mode("overwrite").parquet(
            f"{sink_path}/ingest_batch={batch_id}"
        )
    return n


def _reject_legacy_root_files(sink_path: str) -> None:
    """A sink written by the pre-partitioned backfill layout has part-files
    at the root; appending an ingest_batch=-1 partition NEXT to them would
    create the mixed layout that makes the whole sink unreadable. Refuse
    with a migration hint instead of corrupting a working sink."""
    import os

    if not os.path.isdir(sink_path):
        return
    root_files = [
        e
        for e in os.listdir(sink_path)
        if not e.startswith((".", "_")) and not os.path.isdir(os.path.join(sink_path, e))
    ]
    if root_files:
        raise ValueError(
            f"sink {sink_path!r} holds data files at its root (legacy "
            "unpartitioned backfill layout); adding an ingest_batch=-1 "
            "partition beside them would make the sink unreadable. Migrate "
            "first: move the root files into an ingest_batch=-1/ "
            f"subdirectory (e.g. seen {root_files[:3]})."
        )


def ingest_batch(
    batch_df: DataFrame,
    index_path: str,
    sink_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    batch_id: int | None = None,
    span_index_path: str | None = None,
    minhash_index_path: str | None = None,
) -> int:
    """Gate one batch through the index: write survivors to the sink,
    commit their fingerprints. Returns the number admitted. Usable
    directly for batch backfills — the streaming path calls exactly this
    (with its foreachBatch batch_id, for replay-idempotent sink writes).

    With `span_index_path`, exact-dedup survivors additionally pass the
    incremental exact-substring filter (span_dup_against_index): docs
    assembled mostly from k-word spans already in history — different
    content hash, so invisible to the exact gate — are rejected, and
    admitted docs commit their window hashes alongside their content
    hashes. Rejected docs commit NEITHER index entry, so an identical
    retry is re-judged consistently.

    With `minhash_index_path`, survivors of the previous gates also pass
    the MinHash LSH band gate (dedup.near_dup_against_index): near-dup
    rewrites with a different hash AND different window spans are
    rejected against the band history. Commit order is content ->
    window -> band hashes, so every crash window between appends
    degrades to lost COVERAGE for that one batch (the replay's exact
    gate rejects the whole batch, later near-dups of its docs pass the
    later gates), never to duplicate sink rows — the same documented
    trade as the span gate's."""
    from railgun_spark.operators.dedup import (
        append_bands_to_index,
        append_window_hashes_to_index,
        near_dup_against_index,
        span_dup_against_index,
    )

    if span_index_path is not None or minhash_index_path is not None:
        from pyspark.sql.types import BinaryType

        if isinstance(batch_df.schema[text_col].dataType, BinaryType):
            # the span/minhash gates word-split text; an implicit
            # binary->string cast would hash meaningless "words" from
            # media bytes
            raise ValueError(
                f"span/minhash index paths require a text column; "
                f"{text_col!r} is BINARY (only the exact content-hash "
                "gate is binary-safe)"
            )
    survivors = dedup_against_index(batch_df, index_path, text_col=text_col, id_col=id_col)
    survivors = pin(survivors, "ingest.exact_survivors")
    if span_index_path is not None:
        flagged = span_dup_against_index(
            survivors, span_index_path, text_col=text_col, id_col=id_col
        ).select(id_col)
        survivors = pin(survivors.join(flagged, id_col, "left_anti"), "ingest.span_survivors")
    if minhash_index_path is not None:
        survivors = near_dup_against_index(
            survivors, minhash_index_path, text_col=text_col, id_col=id_col
        )
        survivors = pin(survivors, "ingest.minhash_survivors")
    n = _write_sink(survivors.drop("__h"), sink_path, batch_id)
    if n > 0:
        append_to_index(survivors, index_path)
        if span_index_path is not None:
            append_window_hashes_to_index(
                survivors, span_index_path, text_col=text_col, id_col=id_col
            )
        if minhash_index_path is not None:
            append_bands_to_index(
                survivors, minhash_index_path, text_col=text_col, id_col=id_col
            )
    return n


def ingest_embeddings_batch(
    batch_df: DataFrame,
    index_path: str,
    sink_path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    batch_id: int | None = None,
    dim: int | None = None,
) -> int:
    """Embedding-modality twin of `ingest_batch`: gate one batch of vectors
    through the sign-LSH band index (similarity.embedding_dedup_against_index),
    write survivors, commit their bands. Same exactly-once-per-near-dup-class
    discipline; the index grows GATE_BANDS ints per admitted vector."""
    from railgun_spark.operators.similarity import (
        append_embedding_bands_to_index,
        embedding_dedup_against_index,
    )

    from railgun_spark.operators.similarity import EMB_DIM

    d = dim if dim is not None else EMB_DIM
    survivors = embedding_dedup_against_index(
        batch_df, index_path, vec_col=vec_col, id_col=id_col, dim=d
    )
    survivors = pin(survivors, "ingest.embedding_survivors")
    n = _write_sink(survivors, sink_path, batch_id)
    if n > 0:
        append_embedding_bands_to_index(
            survivors, index_path, vec_col=vec_col, id_col=id_col, dim=d
        )
    return n


def ingest_media_batch(
    batch_df: DataFrame,
    index_path: str,
    sink_path: str,
    family: SignatureFamily,
    id_col: str = "media_id",
    batch_id: int | None = None,
    every_n: int = 10,
    offset_tolerant: bool = False,
    coarse: bool = False,
) -> int:
    """Media twin of `ingest_batch`: gate one MEDIA_SCHEMA batch through
    the `family`'s perceptual band index (phash.media_gate_with_bands —
    verified hamming, zero false rejects; positional families vote over
    frames or chunks, and `offset_tolerant` also rejects trimmed/padded
    copies against the same index), write survivors, commit their bands.
    Hashes are decoded ONCE per batch (the append reuses the gate's band
    rows). Use one index path per family — the mod tag refuses a mixed
    index loudly; `every_n` (video) must stay constant for one index's
    lifetime.

    Same crash-window discipline as the other gates: a crash between
    sink write and index append replays to the identical survivor set
    (overwriting the same partition); a crash after the append replays
    to a batch whose only survivors are PASS-THROUGH rows (other kind /
    decode-refused — they survive every gate and are never indexed),
    which `_write_media_sink` detects (no survivor band rows + partition
    already committed) and skips, so the admitted decodable rows stay in
    the sink."""
    from railgun_spark.operators.phash import _append_band_rows, media_gate_with_bands

    survivors, surv_bands = media_gate_with_bands(
        batch_df, index_path, family, every_n=every_n, id_col=id_col,
        offset_tolerant=offset_tolerant, coarse=coarse,
    )
    has_gateable = bool(surv_bands.limit(1).count())
    n = _write_media_sink(survivors, has_gateable, sink_path, batch_id)
    if has_gateable and n > 0:
        _append_band_rows(surv_bands, index_path, family)
    return n


def stream_ingest_media_availablenow(
    spark: SparkSession,
    source_dir: str,
    index_path: str,
    sink_path: str,
    checkpoint_dir: str,
    family: SignatureFamily,
    max_files_per_trigger: int = 1,
    id_col: str = "media_id",
    every_n: int = 10,
    offset_tolerant: bool = False,
) -> int:
    """Drain `source_dir` of MEDIA_SCHEMA shards through the `family`'s
    band gate (availableNow, `ingest_media_batch` per micro-batch);
    returns the total media admitted."""
    from railgun_spark.operators.multimodal import MEDIA_SCHEMA

    return _drain_availablenow(
        spark,
        source_dir,
        MEDIA_SCHEMA,
        checkpoint_dir,
        max_files_per_trigger,
        lambda batch_df, batch_id: ingest_media_batch(
            batch_df, index_path, sink_path, family,
            id_col=id_col, batch_id=batch_id, every_n=every_n,
            offset_tolerant=offset_tolerant,
        ),
    )


def _drain_availablenow(
    spark: SparkSession,
    source_dir: str,
    schema,
    checkpoint_dir: str,
    max_files_per_trigger: int,
    gate,
) -> int:
    """Shared availableNow scaffold: file stream -> foreachBatch(gate) ->
    drain to completion. `gate(batch_df, batch_id) -> admitted count`.

    Refuses a source dir whose only parquet lives inside subdirectories:
    the file stream source lists PLAIN files (no recursion, and key=value
    dirs are partition columns), so a directory of Spark-written shard
    DIRECTORIES would silently drain zero batches — ingestion reporting
    success while admitting nothing."""
    import os

    if os.path.isdir(source_dir):
        entries = [e for e in os.listdir(source_dir) if not e.startswith((".", "_"))]
        top_files = [e for e in entries if os.path.isfile(os.path.join(source_dir, e))]
        nested_parquet = [
            e
            for e in entries
            if os.path.isdir(os.path.join(source_dir, e))
            and "=" not in e
            and any(
                f.endswith(".parquet")
                for f in os.listdir(os.path.join(source_dir, e))
            )
        ]
        if not top_files and nested_parquet:
            raise ValueError(
                f"source_dir {source_dir!r} holds parquet only inside "
                f"subdirectories ({nested_parquet[:3]}...): the file stream "
                "source does not recurse, so this run would silently ingest "
                "NOTHING. Point source_dir at a directory of plain parquet "
                "files (e.g. the part files themselves)."
            )
    admitted = [0]
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        admitted[0] += gate(batch_df, batch_id)

    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return admitted[0]


def stream_ingest_embeddings_availablenow(
    spark: SparkSession,
    source_dir: str,
    schema,
    index_path: str,
    sink_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> int:
    """Drain `source_dir` of embedding shards through the band-index gate
    (availableNow); returns total vectors admitted."""
    return _drain_availablenow(
        spark,
        source_dir,
        schema,
        checkpoint_dir,
        max_files_per_trigger,
        lambda batch_df, batch_id: ingest_embeddings_batch(
            batch_df, index_path, sink_path,
            vec_col=vec_col, id_col=id_col, batch_id=batch_id,
        ),
    )


def stream_ingest_dedup_availablenow(
    spark: SparkSession,
    source_dir: str,
    schema,
    index_path: str,
    sink_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_index_path: str | None = None,
    minhash_index_path: str | None = None,
) -> int:
    """Drain `source_dir` through the dedup gate (availableNow) and return
    the total number of admitted documents. `span_index_path` adds the
    incremental exact-substring filter (see ingest_batch). Replay
    semantics with the span gate: content hashes append BEFORE window
    hashes, so a crash between the two appends makes the replay's exact
    gate reject the whole batch (empty batch skips the write — sink
    intact) and the batch's window hashes are then never committed.
    That trade is deliberate: the hard invariant (no duplicate sink
    rows) survives every crash window, at the cost of span-index
    COVERAGE for that one batch — later copies of its spans pass the
    span gate instead of being rejected. The reverse append order would
    close that window but let a replayed batch span-reject its own docs
    and, for sub-window-length docs, re-admit true duplicates."""
    return _drain_availablenow(
        spark,
        source_dir,
        schema,
        checkpoint_dir,
        max_files_per_trigger,
        lambda batch_df, batch_id: ingest_batch(
            batch_df, index_path, sink_path,
            text_col=text_col, id_col=id_col, batch_id=batch_id,
            span_index_path=span_index_path,
            minhash_index_path=minhash_index_path,
        ),
    )


def stream_append_ivf_availablenow(
    spark: SparkSession,
    source_dir: str,
    index_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    pq: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Continual ANN-index maintenance: drain `source_dir` of embedding
    shards (id/vec[/label] columns) and append every micro-batch to a
    persistent IVF (or IVF-PQ with `pq`) index with its STORED quantizer
    — the index must exist (similarity.build_index). Appends are
    AT-LEAST-ONCE: a crash between an append and its checkpoint replays
    the batch and duplicates its rows; searches fold identical
    candidates before ranking, and similarity.compact_ivf_index reclaims
    the storage. Returns total vectors appended."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from railgun_spark.operators import similarity

    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField(vec_col, T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )

    def gate(batch_df: DataFrame, batch_id: int) -> int:
        vecs = batch_df.select(
            F.col(id_col).alias("vec_id"),
            F.col("label"),
            similarity.to_double(F.col(vec_col)).alias("v"),
        )
        return similarity.append_to_index(vecs, index_path, pq=pq)

    return _drain_availablenow(
        spark, source_dir, schema, checkpoint_dir, max_files_per_trigger, gate
    )
