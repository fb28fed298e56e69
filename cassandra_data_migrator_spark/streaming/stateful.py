"""Custom stateful streaming operator: incremental LWW change feed via
``applyInPandasWithState``.

The batch engine folds each micro-batch and lets the lake's MoR merge
resolve across batches; this operator instead keeps the per-key winner
**in streaming state**, so each micro-batch emits only the keys whose
winner CHANGED — a change-data-feed of state transitions (at most one
row per key per batch), the shape downstream incremental consumers
want. Covers the custom-stateful-operator surface of SURVEY §2.7 that
foreachBatch/windowed aggregation don't.

State per key: the winning ``(ts, seq)`` so far. An arriving event wins
iff its ``(ts, seq)`` is strictly larger — identical ordering to
``operators/lww.py`` (largest-writetime-wins, seq tie-break;
``PKFactory.java:114-125``, ``WritetimeTTL.java:235-258``).

Python boundary is Arrow-batched (pandas per key-group); the per-group
work is a vectorized idxmax, not a row loop.
"""

from __future__ import annotations

from functools import partial
from typing import Callable, Iterator, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_SCHEMA = T.StructType(
    [
        T.StructField("best_ts", T.TimestampType()),
        T.StructField("best_seq", T.LongType()),
    ]
)

# reseed callback: key value -> the sink's current (winner_ts, winner_seq)
# for that key, or None when the sink has never seen it
ReseedFn = Callable[[object], Optional[Tuple[object, int]]]


def stateful_lww_updates(
    events: DataFrame,
    key_col: str = "url",
    ts_col: str = "warc_ts",
    seq_col: str = "seq",
    state_ttl_ms: int | None = None,
    reseed: ReseedFn | None = None,
    watermark_delay: str = "0 seconds",
    timeout_mode: str = "event",
) -> DataFrame:
    """Per-key LWW state machine over a (possibly streaming) DataFrame.

    Emits, for each micro-batch, the keys whose winner improved, with
    the full winning row ("update" output mode). Streaming-only:
    ``applyInPandasWithState`` rejects batch DataFrames (use the batch
    LWW fold in ``operators/lww.py`` there).

    **State retention** (the 10^10-distinct-key regime): with
    ``state_ttl_ms`` set, cold keys are EVICTED by timeout — a key
    untouched for the TTL is dropped from the state store, bounding
    state size by the hot-key working set instead of the full key
    universe. Every touch (win or not) re-arms the timer. Two modes:

    * ``timeout_mode="event"`` — event-time timeout anchored at the
      key's last seen event time, driven by a watermark
      (``watermark_delay`` past the stream's max event time). The
      watermark's late-data filter then ALSO drops any arriving event
      older than the watermark, and eviction only fires once the
      watermark passed last-touch + TTL — so an evicted key can never
      be challenged by an event old enough to have lost to the evicted
      winner. Self-guarding, but rows with a NULL event time are
      discarded by the engine's late filter (the null-ts LWW ordering
      only applies without TTL or in processing mode).
    * ``timeout_mode="processing"`` — wall-clock timeout; no watermark,
      so arbitrarily late events still reach the operator after an
      eviction. Correctness on revisit is preserved by ``reseed``: when
      a key arrives with no state, the callback supplies the sink's
      current winner ``(ts, seq)`` so an older-than-sink event still
      loses. At scale the callback is a point lookup against the sink
      store, executed once per evicted-key revisit (never per event) on
      the executor — e.g. a bucket-pruned parquet read of the lake
      (sources/lake.py point lookup) or a Cassandra read; tests back it
      with a driver-captured dict. Without ``reseed`` an evicted key
      restarts from nothing — acceptable only when the TTL exceeds the
      source's maximum out-of-orderness.
    """
    if timeout_mode not in ("event", "processing"):
        raise ValueError("timeout_mode must be 'event' or 'processing'")
    event_mode = timeout_mode == "event"
    if state_ttl_ms is not None and event_mode:
        events = events.withWatermark(ts_col, watermark_delay)
    out_schema = events.schema

    def _ordkey(ts: object, seq: int) -> tuple:
        # batch LWW ordering: nulls-smallest on ts, seq tie-break
        t = pd.Timestamp.min if ts is None or pd.isna(ts) else pd.Timestamp(ts)
        return (t, seq)

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # cold-key eviction: watermark passed last_touch + ttl
            state.remove()
            return
        seeded: Optional[Tuple[object, int]] = None
        if state.exists:
            st_ts, st_seq = state.get
            best = _ordkey(st_ts, st_seq)
        else:
            if reseed is not None:
                seeded = reseed(key[0])
            best = _ordkey(seeded[0], int(seeded[1])) if seeded is not None else None
        best_row = None
        max_ev_ms: int | None = None
        for pdf in pdfs:
            if pdf.empty:
                continue
            if state_ttl_ms is not None:
                chunk_max = pd.to_datetime(pdf[ts_col]).max()
                if not pd.isna(chunk_max):
                    ms = int(pd.Timestamp(chunk_max).value // 1_000_000)
                    max_ev_ms = ms if max_ev_ms is None else max(max_ev_ms, ms)
            # vectorized winner of this chunk: lexicographic (ts, seq)
            # with nulls smallest — a null-ts row wins only if the chunk
            # holds nothing else, matching the batch fold's
            # nulls-smallest ordering (pandas sort_values alone would
            # place NaT LAST and wrongly crown it)
            nn = pdf.dropna(subset=[ts_col])
            if not nn.empty:
                idx = (
                    nn[[ts_col, seq_col]]
                    .sort_values([ts_col, seq_col])
                    .index[-1]
                )
            else:
                idx = pdf[seq_col].sort_values().index[-1]
            cand = pdf.loc[idx]
            cand_key = _ordkey(cand[ts_col], int(cand[seq_col]))
            if best is None or cand_key > best:
                best = cand_key
                best_row = pdf.loc[[idx]]
        if best_row is not None:
            won_ts = best_row.iloc[0][ts_col]
            state.update((
                None if pd.isna(won_ts) else pd.Timestamp(won_ts).to_pydatetime(),
                int(best[1]),
            ))
            yield best_row
        elif seeded is not None:
            # revisited evicted key whose arrivals all lost: re-install
            # the sink winner so the next arrival skips the reseed lookup
            s_ts, s_seq = seeded
            state.update((
                None if s_ts is None or pd.isna(s_ts)
                else pd.Timestamp(s_ts).to_pydatetime(),
                int(s_seq),
            ))
        if state_ttl_ms is not None and state.exists:
            if event_mode:
                # re-arm on every touch; anchored past the watermark so
                # the timestamp is always legal even for late/null-ts
                # chunks
                wm = state.getCurrentWatermarkMs()
                anchor = wm if max_ev_ms is None else max(wm, max_ev_ms)
                state.setTimeoutTimestamp(anchor + state_ttl_ms)
            else:
                state.setTimeoutDuration(state_ttl_ms)

    if state_ttl_ms is None:
        timeout_conf = GroupStateTimeout.NoTimeout
    elif event_mode:
        timeout_conf = GroupStateTimeout.EventTimeTimeout
    else:
        timeout_conf = GroupStateTimeout.ProcessingTimeTimeout

    grouped = events.groupBy(key_col)
    return grouped.applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=timeout_conf,
    )


def stream_feed(
    spark,
    cfg,
    checkpoint_dir: str,
    feed_dir: str,
    max_files_per_trigger: int = 4,
    timeout_sec: int = 600,
    state_ttl_ms: int | None = None,
    reseed: ReseedFn | None = None,
):
    """Materialize the LWW change feed: tail the WAL, read it through
    ``jobs.origin_rows`` (the run's filters), keep the per-key
    winner in streaming state, and write each micro-batch's CHANGED
    winners into a ``batch_id=`` partition of ``feed_dir`` — the
    change-data-feed table downstream incremental consumers read
    (at most one row per key per batch, strictly increasing (ts, seq)
    per key across partitions).

    Idempotent without a transactional sink: dynamic partition
    overwrite on ``batch_id`` (``replay.write_batch``) — a foreachBatch
    retry or a checkpointed rerun rewrites the same partition
    byte-identically instead of duplicating. ``batch_id`` is stable
    only together with the checkpoint, so this does not hold after a
    lost checkpoint. Trigger.AvailableNow drains what exists then
    stops; rerunning with the checkpoint emits nothing new.

    ``state_ttl_ms``/``reseed`` pass through to
    :func:`stateful_lww_updates` — NOTE processing-time eviction never
    fires under AvailableNow; use event mode (the default) here.
    """
    from ..jobs import origin_rows
    from .replay import drain_wal, write_batch

    def updates(events: DataFrame) -> DataFrame:
        return stateful_lww_updates(
            origin_rows(events, cfg), cfg.key_col, cfg.ts_col, cfg.seq_col,
            state_ttl_ms=state_ttl_ms, reseed=reseed,
        )

    return drain_wal(
        spark, cfg, checkpoint_dir, partial(write_batch, out_dir=feed_dir),
        max_files_per_trigger, timeout_sec, shape=updates, output_mode="update",
    )
