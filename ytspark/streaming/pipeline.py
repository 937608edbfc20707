"""Micro-batch ingestion pipeline (SURVEY §2 O1–O3).

``run_microbatch_ingest`` is the Spark-native equivalent of the
reference's `extract ≫ load` DAG chain (``dags/extract.py:196-217``):
each micro-batch runs the same pure transform the batch path uses
(``ingest.transform_responses``) and lands it in bronze parquet under
one ``ingest_batch=<id>`` partition per micro-batch — one code path,
two execution modes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ytspark import schemas
from ytspark.ingest import transform_responses


def write_batch_idempotent(
    batch_df: DataFrame, batch_id: int, bronze_path: str
) -> None:
    """foreachBatch sink body with effectively-once semantics.

    foreachBatch itself is at-least-once: a crash after the write but
    before the checkpoint commit replays the batch. A plain
    ``mode("append")`` would duplicate the replayed rows; instead each
    batch lands under its own ``ingest_batch=<batch_id>`` partition via
    DYNAMIC partition overwrite, so a replay overwrites exactly the
    partition it wrote before — idempotent, hence effectively-once
    end to end (deterministic source replay + idempotent sink).

    The batch is the only partition level: each write task emits one
    file, so a single-file poll tick lands as ONE file rather than one
    per channel. A ``channel_key`` sub-level would prune nothing — a
    per-channel read still opens one file per batch — while multiplying
    the files every later scan opens by the channel count.
    ``channel_key`` stays a data column.
    """
    from pyspark.sql import functions as F

    (
        batch_df.withColumn("ingest_batch", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_batch")
        .parquet(bronze_path)
    )


def read_payload_stream(spark: SparkSession, payload_dir: str) -> DataFrame:
    """File-source stream of API-response JSON files (one poll tick per
    file drop — the S3-landing pattern the reference polls)."""
    return (
        spark.readStream.schema(schemas.API_RESPONSE)
        .option("maxFilesPerTrigger", 64)
        .json(payload_dir)
    )


def run_source_stream_ingest(
    spark: SparkSession,
    bronze_path: str,
    checkpoint_dir: str,
    *,
    channels: str | None = None,
    list_policy: str = "drop",
    processing_time: str = "0 seconds",
) -> StreamingQuery:
    """The fully-streaming form of the reference pipeline: the custom
    streaming DataSource (``ytspark.sources.youtube_datasource``, one
    poll tick per micro-batch, offsets = ticks) feeds the SAME pure
    transform the batch path uses, writing to the same batch-partitioned
    bronze (one file per source partition, i.e. per channel, each
    tick) — fetch ≫ flatten ≫ stamp ≫ write, no external scheduler
    (contrast: the reference re-runs a batch DAG on a cron,
    ``dags/optimized_extract.py:118``). Effectively-once: offsets make
    the source replay deterministic and ``write_batch_idempotent``
    makes the sink replay-safe.
    """
    from pyspark.sql import functions as F

    from ytspark import schemas as _schemas
    from ytspark.sources.youtube_datasource import register_youtube_source

    register_youtube_source(spark)
    reader = spark.readStream.format("youtube")
    if channels:
        reader = reader.option("channels", channels)
    raw = reader.load()
    parsed = raw.select(
        F.from_json(F.col("payload_json"), _schemas.API_RESPONSE).alias("resp")
    ).select("resp.*")
    bronze = transform_responses(parsed, list_policy=list_policy)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        write_batch_idempotent(batch_df, batch_id, bronze_path)

    return (
        bronze.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(processingTime=processing_time)
        .start()
    )


def run_microbatch_ingest(
    spark: SparkSession,
    payload_dir: str,
    bronze_path: str,
    checkpoint_dir: str,
    *,
    list_policy: str = "drop",
    processing_time: str | None = None,
) -> StreamingQuery:
    """extract ≫ load as a streaming query.

    ``processing_time=None`` → ``availableNow`` (process backlog, stop):
    the O2 external-scheduler cadence. ``processing_time="5 minutes"``
    → the optimized DAG's continuous micro-batch mode
    (``dags/optimized_extract.py:118``).
    """
    stream = read_payload_stream(spark, payload_dir)
    bronze = transform_responses(stream, list_policy=list_policy)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # O1 task chain body: the load stage of the reference DAG.
        write_batch_idempotent(batch_df, batch_id, bronze_path)

    writer = (
        bronze.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if processing_time:
        writer = writer.trigger(processingTime=processing_time)
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()
