"""Last-writer-wins deduplication of a change batch.

The reference resolves row versions implicitly via Cassandra's
writetime LWW (`PKFactory.java:106-133` builds the row timestamp as the
max column writetime, `WritetimeTTL.java:235-258`; `writetimeIncrement`
is the tie-break, `WritetimeTTL.java:244`). Against a lake sink the
resolution must be explicit: per key, keep the event with the largest
``(ts, seq)``.

Three strategies, all pure DataFrame, all ranking by the one
``(ts, seq)`` order struct built by ``_order``:

* ``lww_dedup`` — single ``groupBy(key).agg(max_by(payload, (ts, seq)))``.
  Spark's partial aggregation merges map-side, so even a hot key
  contributes at most one row per input partition to the final shuffle.
  This is the verify fold (``jobs.expected_state``) and the lake
  table's fold (read-time resolve, compaction, CoW merge).
* ``lww_dedup_skinny`` — winner-seq aggregate + semi join; never sorts
  the payload. The ``jobs.ingest`` default.
* ``lww_dedup_salted`` — explicit two-phase (salt, key) → key fold for
  the degenerate case where a single key dominates entire input
  partitions (Zipf head at 10^10 events). Equivalent result, bounded
  per-reducer fan-in. ``jobs.ingest`` uses it under
  ``lww_strategy='auto'`` for the epochs its skew probe finds hot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _payload(df: DataFrame, *skip: str | None):
    return F.struct(*[F.col(c) for c in df.columns if c not in skip])


def _order(ts_col: str, seq_col: str, tie_col: str | None = None):
    return F.struct(*[F.col(c) for c in (ts_col, seq_col, tie_col) if c])


def is_live(op_col: str = "op"):
    """The live-row rule: a row is live unless its op is 'D'; a null op
    (e.g. a correction row) is live. The lake's resolved read, the
    verify fold and the streaming dedup all filter with this."""
    return ~F.col(op_col).eqNullSafe(F.lit("D"))


def lww_dedup(
    df: DataFrame,
    key_col: str = "url",
    ts_col: str = "warc_ts",
    seq_col: str = "seq",
    tie_col: str | None = None,
) -> DataFrame:
    """One row per key: the event with the largest (ts, seq).

    ``tie_col`` breaks exact (ts, seq) ties (ordered after seq) and is
    left out of the output. The key column is the grouping column, not a
    field of the winning struct, so a filter on the key above the fold
    pushes through it into the scan: a point lookup over pending deltas
    reads only its keys' rows."""
    win = F.max_by(_payload(df, key_col, tie_col), _order(ts_col, seq_col, tie_col))
    w = F.col("_w")
    return (
        df.groupBy(key_col)
        .agg(win.alias("_w"))
        .select(*[c if c == key_col else w[c].alias(c) for c in df.columns if c != tie_col])
    )


def lww_dedup_salted(
    df: DataFrame,
    key_col: str = "url",
    ts_col: str = "warc_ts",
    seq_col: str = "seq",
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase LWW fold: (key, salt) partial winners, then key winners.

    The salt is derived from the event's own seq (deterministic,
    uniform), so phase 1 spreads a hot key over ``salt_buckets``
    reducers; phase 2 only sees ``salt_buckets`` rows per key.
    """
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(seq_col), F.lit("salt")), F.lit(salt_buckets))
    )
    phase1 = (
        salted.groupBy(key_col, "_salt")
        .agg(F.max_by(_payload(df), _order(ts_col, seq_col)).alias("_w"))
        .select("_w.*")
    )
    return lww_dedup(phase1, key_col, ts_col, seq_col)


def lww_dedup_skinny(
    df: DataFrame,
    key_col: str = "url",
    ts_col: str = "warc_ts",
    seq_col: str = "seq",
) -> DataFrame:
    """LWW fold that never sorts or aggregates the wide payload.

    ``max_by(struct(payload), ord)`` plans as SortAggregate (struct
    buffers are not hash-aggregable), which sorts full rows twice per
    batch — html payloads included. This variant aggregates only
    ``(key, ts, seq)`` to find each key's winning seq, then inner-joins
    back on ``(key, seq)`` (seq is unique). The wide payload is shuffled
    once for the join but never sorted; AQE can skew-split the join.
    Preferred at large payload sizes."""
    winners = (
        df.select(key_col, ts_col, seq_col)
        .groupBy(key_col)
        .agg(F.max_by(F.col(seq_col), _order(ts_col, seq_col)).alias(seq_col))
    )
    # the join moves the on-columns first; restore the input column order
    return df.join(winners, on=[key_col, seq_col], how="left_semi").select(*df.columns)


def tombstone_gc(
    winners: DataFrame,
    op_col: str = "op",
    ts_col: str = "warc_ts",
    gc_grace_cutoff: str = "2024-03-01 00:00:00",
    delete_op: str = "D",
) -> DataFrame:
    """Grace-period tombstone retention over an LWW-folded frame —
    Cassandra's gc_grace_seconds semantics re-expressed as a snapshot
    filter (the reference inherits this from the server; a lake sink
    must do it explicitly). Delete winners OLDER than the cutoff are
    purged outright; newer delete winners stay visible as tombstones
    (``is_tombstone = true``) so late-arriving writes against those
    keys still lose the LWW race instead of resurrecting the row.

    Map-side row-local filter — adds nothing to the fold's shuffle.
    """
    cutoff = F.lit(gc_grace_cutoff).cast("timestamp")
    is_del = F.col(op_col) == delete_op
    return winners.where(~(is_del & (F.col(ts_col) < cutoff))).withColumn(
        "is_tombstone", is_del
    )
