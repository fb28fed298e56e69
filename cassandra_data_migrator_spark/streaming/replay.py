"""Structured Streaming tail of the commitlog/WAL.

The lake's ingest path is ``jobs.ingest``: it plans the WAL's epochs
and commits each under data-named ``partition:batch_epoch`` keys, so
repeated calls over a growing WAL tail it exactly once. This module
holds what the streaming jobs (``streaming.dedup``,
``streaming.stateful``) share: the WAL's streaming schema and
``drain_wal``, which tails the same epoch-partitioned WAL directory as
a streaming file source and hands each micro-batch to ``foreachBatch``.
Spark's checkpoint gives at-least-once foreachBatch invocations whose
``batch_id`` is stable only together with that checkpoint. Both jobs
write their ``batch_id=`` outputs through ``write_batch``.

Also provides a watermarked windowed aggregation over the stream
(late-data-tolerant url activity counts) to cover the
streaming-operator surface CDM lacks (SURVEY §2.7).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import EngineConfig

WAL_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("op", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("batch_epoch", T.LongType()),  # partition dir column
    ]
)


def drain_wal(
    spark: SparkSession,
    cfg: EngineConfig,
    checkpoint_dir: str,
    apply_batch: Callable[[DataFrame, int], None],
    max_files_per_trigger: int,
    timeout_sec: int,
    shape: Callable[[DataFrame], DataFrame] = lambda events: events,
    output_mode: str = "append",
):
    """Tail the WAL directory as a streaming file source and run
    ``apply_batch`` on each micro-batch of ``shape(stream)`` under
    Trigger.AvailableNow (drain what exists, then stop). Returns only
    once the query has stopped — on timeout it is stopped first — so no
    foreachBatch commit is in flight afterwards."""
    stream = (
        spark.readStream.schema(WAL_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(cfg.changelog_path)
    )
    q = (
        shape(stream).writeStream.foreachBatch(apply_batch)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        q.stop()
        q.awaitTermination()
    return q


def write_batch(df: DataFrame, batch_id: int, out_dir: str) -> None:
    """Write one micro-batch's output into the ``batch_id=`` partition
    of ``out_dir`` with dynamic partition overwrite: a foreachBatch
    retry or a checkpointed rerun rewrites that partition instead of
    duplicating it."""
    (
        df.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(out_dir)
    )


def windowed_url_activity(
    events: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked tumbling-window counts per key partition — the
    late-data-tolerant streaming aggregation (works on readStream or
    batch DataFrames alike)."""
    return (
        events.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("win"), F.col("partition"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.approx_count_distinct("url").alias("approx_urls"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "partition",
            "n_events",
            "approx_urls",
        )
    )
