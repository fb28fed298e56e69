"""Structured Streaming replay of the commitlog/WAL.

The batch replayer (jobs.ingest) drives epochs itself; this module
tails the same epoch-partitioned WAL directory as a streaming file
source and applies each micro-batch through ``foreachBatch`` into the
lake table.

Exactly-once: Spark's checkpoint gives at-least-once foreachBatch
invocations with a stable ``batch_id``; the lake commit keyed by
``stream:<batch_id>`` makes the apply idempotent, so retries and
checkpoint-resume never double-apply — the streaming analog of the
reference's rerun-pending-ranges protocol
(``job/BasePartitionJob.scala:41-58``).

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
from ..features import apply_features
from ..jobs import _ensure_lake, origin_rows
from ..operators.lww import lww_dedup_skinny
from ..sources.lake import LakeTable

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
    shape: Callable[[DataFrame], DataFrame] = lambda stream: stream,
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


def stream_ingest(
    spark: SparkSession,
    cfg: EngineConfig,
    checkpoint_dir: str,
    max_files_per_trigger: int = 4,
    timeout_sec: int = 600,
):
    """Tail the WAL directory and apply micro-batches into the lake.

    Uses Trigger.AvailableNow: processes everything present, in bounded
    micro-batches, then stops — rerunning resumes from the checkpoint
    AND from the lake's applied commit keys (belt and braces).
    """
    lake_holder: dict[str, LakeTable] = {}

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        if "lake" not in lake_holder:
            lake_holder["lake"] = _ensure_lake(batch.sparkSession, cfg, batch)
        # the batch ingest row path: origin filters + guardrail skip, the
        # skinny LWW fold (winner agg + semi join — measured 5.5x faster
        # than max_by at big epochs), then the feature steps
        rows = origin_rows(batch, cfg).drop("partition", "batch_epoch")
        winners = lww_dedup_skinny(rows, cfg.key_col, cfg.ts_col, cfg.seq_col)
        lake_holder["lake"].append_mor(apply_features(winners, cfg), [f"stream:{batch_id}"])

    # the drain has stopped before compacting: the manifest's optimistic
    # swap must not see a concurrent foreachBatch commit
    q = drain_wal(spark, cfg, checkpoint_dir, apply_batch, max_files_per_trigger, timeout_sec)
    if "lake" in lake_holder:
        lake_holder["lake"].compact()
    return q


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
