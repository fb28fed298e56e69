"""Streaming incremental near-dup detection over the CDC WAL.

The batch-side operator (``operators.dedup.incremental_lsh_pairs``)
pairs one arriving epoch against the accumulated signature index; this
module runs the same shape continuously: tail the WAL as a streaming
file source, and per micro-batch

1. read the batch through ``jobs.origin_rows`` (the run's filters) and
   LWW-collapse it to one live row per key (deletes dropped),
2. MinHash-sign the batch's documents (map-side, zero shuffle),
3. emit candidate pairs against the signatures of every EARLIER batch
   (broadcast left-semi bucket prune — the index is never re-paired
   with itself),
4. append the batch's signatures to the index.

Idempotent without a transactional sink: both outputs are written
with dynamic partition overwrite into a ``batch_id=`` partition
(``replay.write_batch``), so a foreachBatch retry or a rerun with the
same checkpoint rewrites the same partitions byte-identically instead
of duplicating. ``batch_id``
is stable only together with the checkpoint: after a lost checkpoint
the micro-batches are cut afresh, and the outputs are not idempotent.
The index read filters ``batch_id < current`` (partition-pruned), so a
retried batch never pairs against its own half-written output.

At 10^10 docs the index side is exactly the lake-bucketed banded store
described in ``operators/dedup.py``; here it is a parquet directory —
the per-batch cost model (O(batch x bucket occupancy)) is identical.

Reference analog: none — CDM has no streaming surface; this extends
the SURVEY §2.7 streaming family with the training-data dedup the
webtext tier needs.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..config import EngineConfig
from ..jobs import origin_rows
from ..operators import dedup
from ..operators.lww import is_live, lww_dedup_skinny
from .replay import drain_wal, write_batch


def stream_dedup(
    spark: SparkSession,
    cfg: EngineConfig,
    checkpoint_dir: str,
    index_dir: str,
    pairs_dir: str,
    num_hashes: int = 16,
    bands: int = 8,
    max_bucket_size: int | None = 1000,
    max_files_per_trigger: int = 4,
    timeout_sec: int = 600,
):
    """Tail the WAL; per micro-batch emit near-dup candidate pairs of
    the batch's live documents vs all earlier batches, then append the
    batch's signatures to the index. Trigger.AvailableNow: drains what
    exists, then stops; rerunning resumes from the checkpoint and
    rewrites (not duplicates) any replayed batch."""

    def apply_batch(batch, batch_id: int) -> None:
        s = batch.sparkSession
        live = lww_dedup_skinny(
            origin_rows(batch, cfg), cfg.key_col, cfg.ts_col, cfg.seq_col
        ).where(is_live(cfg.op_col) & F.col("text").isNotNull())
        new_sig = dedup.minhash_signature(
            live, "text", cfg.key_col, num_hashes=num_hashes, hash_mode="fast"
        )
        # read-and-fallback, not a directory-existence check: object
        # stores have no directories, so probe by attempting the read
        # (a missing/empty prefix raises AnalysisException)
        try:
            index_all = s.read.parquet(index_dir)
            index_all.schema  # force analysis now, inside the try
        except AnalysisException:
            index_all = None
        if index_all is not None:
            index_sig = (
                index_all
                .where(F.col("batch_id") < batch_id)
                .drop("batch_id")
            )
            pairs = dedup.incremental_lsh_pairs(
                index_sig, new_sig, cfg.key_col,
                num_hashes=num_hashes, bands=bands,
                max_bucket_size=max_bucket_size,
            )
        else:
            # first batch: no index yet — pairs are batch-internal only
            pairs = dedup.lsh_candidate_pairs(
                new_sig, cfg.key_col,
                num_hashes=num_hashes, bands=bands,
                max_bucket_size=max_bucket_size,
            )
        write_batch(pairs, batch_id, pairs_dir)
        write_batch(new_sig, batch_id, index_dir)

    return drain_wal(spark, cfg, checkpoint_dir, apply_batch, max_files_per_trigger, timeout_sec)
