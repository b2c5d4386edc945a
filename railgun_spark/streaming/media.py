"""Streaming twin of the media feature-extraction path: binary media
rows arrive as parquet files, decode through the SAME Arrow-batched
``extract_features`` stage (mapInPandas is stateless, so it lifts onto a
streaming DataFrame unchanged), and land as a feature parquet sink with
checkpointed exactly-once file progress.

This is the media-modality member of the streaming-ingest family
(``streaming/ingest.py`` content-hash / band gates,
``streaming/decontam.py``): at 100 TB a media corpus arrives
continuously, and the decode stage must be restart-safe — a re-run over
the same checkpoint must not duplicate features. The test drives two
file batches through availableNow triggers with a restart between them
and pins the streamed features against the batch decode of the same
rows.

Scale shape: stateless map only — no watermark, no state store; file
progress is the checkpoint. Decode parallelism inside each micro-batch
follows the input file splits (per-batch repartitioning of a stream
needs no shuffle service locally; keep ingest files sized to the
cluster's cores — the batch path's repartition note in
``operators/multimodal.py`` applies to the files the producer writes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from railgun_spark.operators.multimodal import (
    FEATURE_SCHEMA,
    MEDIA_SCHEMA,
    MEDIA_STATUS_SCHEMA,
    extract_features,
    media_decode_status,
)
from railgun_spark.session import spread_scan


def stream_media_features_availablenow(
    spark: SparkSession,
    media_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    decoder=None,
    require_real: bool = False,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Drain every unprocessed media parquet file under ``media_dir``
    (availableNow), decode features, append to ``sink_dir``; returns the
    sink as a batch frame. Restart-safe: the checkpoint records file
    progress, so a crash-and-rerun (or a later call over new files)
    never re-emits features for already-processed files."""
    stream = (
        spark.readStream.schema(MEDIA_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(media_dir)
    )
    # shared decode-spread policy: no-op on streams (micro-batch
    # parallelism follows ingest file splits), conditional on batch
    feats = extract_features(
        spread_scan(stream), decoder=decoder, require_real=require_real
    )
    q = (
        feats.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.schema(FEATURE_SCHEMA).parquet(sink_dir)


def stream_media_decode_status_availablenow(
    spark: SparkSession,
    media_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Streaming twin of the decode-coverage path over the FULL codec
    matrix: drain every unprocessed media parquet file (availableNow)
    through the per-row ``media_decode_status`` pass — refusal classes
    included, since a refusal is a recorded row here, not an exception —
    and append (media_id, kind, reason) to ``sink_dir``. The batch
    coverage report (``media_decode_coverage``) is a deterministic
    aggregation of exactly these rows, so stream and batch provably
    classify the same corpus identically (the test pins per-row equality
    over the whole crafted 22-class corpus, animated GIF89a and
    MJPEG-AVI included). Restart-safe via checkpointed file progress."""
    stream = (
        spark.readStream.schema(MEDIA_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(media_dir)
    )
    status = media_decode_status(spread_scan(stream))
    q = (
        status.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.schema(MEDIA_STATUS_SCHEMA).parquet(sink_dir)
