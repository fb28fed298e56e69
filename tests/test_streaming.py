"""Structured Streaming jobs over the WAL: windowed activity, the
stateful LWW change feed and incremental near-dup detection."""

from pyspark.sql import functions as F

from cassandra_data_migrator_spark.config import EngineConfig
from cassandra_data_migrator_spark.sources import changelog as wal
from cassandra_data_migrator_spark.streaming.replay import windowed_url_activity

N_EVENTS = 3_000


def test_windowed_activity_batch_semantics(spark):
    ev = wal.changelog(spark, 2_000, n_urls=100, epoch_size=500, num_partitions=4)
    agg = windowed_url_activity(ev, window="10 minutes")
    rows = agg.collect()
    assert sum(r["n_events"] for r in rows) == 2_000
    assert all(r["window_end"] > r["window_start"] for r in rows)


def test_stateful_lww_change_feed(spark, tmp_path):
    """applyInPandasWithState LWW state machine: across micro-batches,
    each key's last emitted transition equals the batch LWW winner, and
    a batch emits at most one row per key."""
    from cassandra_data_migrator_spark.operators.lww import lww_dedup
    from cassandra_data_migrator_spark.streaming.stateful import stateful_lww_updates
    from cassandra_data_migrator_spark.streaming.replay import WAL_SCHEMA

    ev = wal.changelog(spark, N_EVENTS, n_urls=200, epoch_size=500, num_partitions=4)
    wal.write_changelog(ev, str(tmp_path / "wal"))
    stream = (
        spark.readStream.schema(WAL_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(str(tmp_path / "wal"))
    )
    updates = stateful_lww_updates(stream)
    q = (
        updates.writeStream.format("memory")
        .queryName("lww_updates")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600)
    emitted = spark.sql("SELECT * FROM lww_updates")
    assert emitted.count() > 0
    # last transition per key == batch LWW winner (same (ts, seq) order)
    final = lww_dedup(emitted, "url", "warc_ts", "seq").select(
        "url", "warc_ts", "seq", "op"
    )
    expected = lww_dedup(ev.drop("partition", "batch_epoch"), "url", "warc_ts", "seq").select(
        "url", "warc_ts", "seq", "op"
    )
    assert final.exceptAll(expected).count() == 0
    assert expected.exceptAll(final).count() == 0
    # change-feed property: strictly increasing (ts, seq) per key
    from pyspark.sql import Window

    w = Window.partitionBy("url").orderBy("warc_ts", "seq")
    mono = emitted.withColumn(
        "_prev_seq", F.lag("seq").over(w)
    ).where(F.col("_prev_seq").isNotNull() & (F.col("seq") <= F.col("_prev_seq")))
    assert mono.count() == 0


def test_windowed_activity_streaming_append_with_watermark(spark, tmp_path):
    """Real streaming run: tumbling windows finalize in append mode as
    the watermark advances across micro-batches; every emitted window
    matches the batch computation of the same window."""
    from cassandra_data_migrator_spark.streaming.replay import WAL_SCHEMA

    ev = wal.changelog(spark, N_EVENTS, n_urls=200, epoch_size=500, num_partitions=4)
    wal_dir = str(tmp_path / "wal")
    half = N_EVENTS // 2 // 500  # first half of the epochs

    def run_once():
        stream = (
            spark.readStream.schema(WAL_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(wal_dir)
        )
        agg = windowed_url_activity(stream, window="10 minutes", watermark="10 minutes")
        q = (
            agg.writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(600)

    # two availableNow runs over a growing WAL: the checkpointed
    # watermark from run 1 deterministically finalizes run-1 windows in
    # run 2, independent of how the runtime slices files into batches
    wal.write_changelog(ev.where(F.col("batch_epoch") < half), wal_dir)
    run_once()
    ev.where(F.col("batch_epoch") >= half).write.mode("append").partitionBy(
        "batch_epoch"
    ).parquet(wal_dir)
    run_once()
    got = spark.read.parquet(str(tmp_path / "out")).collect()
    assert len(got) > 0
    exp = {
        (r["window_start"], r["partition"]): r["n_events"]
        for r in windowed_url_activity(ev, window="10 minutes").collect()
    }
    # append-mode contract: a finalized window holds every event EXCEPT
    # those arriving after the watermark passed it (genuine late drops)
    emitted = batch_total = 0
    for r in got:
        expected = exp[(r["window_start"], r["partition"])]
        assert r["n_events"] <= expected
        emitted += r["n_events"]
        batch_total += expected
    # late-drop fraction depends on the runtime's file pickup order, so
    # only bound it loosely; the per-window <= check above is the strict
    # contract
    assert emitted >= 0.5 * batch_total


def test_stream_dedup_incremental_index(spark, tmp_path):
    """Streaming near-dup: the union of per-micro-batch candidate pairs
    must equal a full batch recompute over all live docs, with each
    pair emitted exactly once (the index is never re-paired); a
    checkpointed rerun must change nothing."""
    import datetime

    from cassandra_data_migrator_spark.operators import dedup
    from cassandra_data_migrator_spark.streaming.dedup import stream_dedup
    from cassandra_data_migrator_spark.streaming.replay import WAL_SCHEMA

    ts = datetime.datetime(2026, 1, 1)
    base = " ".join(f"tok{j}" for j in range(40))
    rows, seq = [], 0
    for ep in range(3):
        for i in range(2):
            # family A: near-identical across every epoch (pairs must be
            # found both within a batch and vs earlier batches)
            rows.append((seq, 0, "I", f"https://a/{ep}/{i}", ts, None,
                         base + f" v{ep}{i}", "en", ep)); seq += 1
            # family B: unique text per doc (no pairs)
            rows.append((seq, 0, "I", f"https://b/{ep}/{i}", ts, None,
                         " ".join(f"u{ep}{i}x{j}" for j in range(40)), "en", ep)); seq += 1
    df = spark.createDataFrame(rows, WAL_SCHEMA)
    wal_dir = str(tmp_path / "wal")
    df.coalesce(1).write.partitionBy("batch_epoch").parquet(wal_dir)

    cfg = EngineConfig(changelog_path=wal_dir)
    index_dir, pairs_dir = str(tmp_path / "index"), str(tmp_path / "pairs")
    stream_dedup(spark, cfg, str(tmp_path / "ckpt"), index_dir, pairs_dir,
                 max_files_per_trigger=1)

    got = spark.read.parquet(pairs_dir)
    # exactly once per pair across all micro-batches
    assert got.groupBy("id_a", "id_b").count().where("count > 1").count() == 0
    # equals the full batch recompute over all live docs
    sig = dedup.minhash_signature(
        df.select("url", "text"), "text", "url", num_hashes=16, hash_mode="fast"
    )
    full = dedup.lsh_candidate_pairs(sig, "url", num_hashes=16, bands=8,
                                     max_bucket_size=1000)
    as_set = lambda d: {(r["id_a"], r["id_b"]) for r in d.collect()}  # noqa: E731
    assert as_set(got) == as_set(full)
    assert len(as_set(got)) > 0
    # family-A cross-epoch pairs were really found
    assert any(a.startswith("https://a/0/") and b.startswith("https://a/2/")
               for a, b in as_set(got))
    # index holds one signature row per live doc, partitioned by batch
    idx = spark.read.parquet(index_dir)
    assert idx.count() == 12 and idx.select("batch_id").distinct().count() == 3
    # checkpointed rerun: nothing re-emitted, index unchanged
    stream_dedup(spark, cfg, str(tmp_path / "ckpt"), index_dir, pairs_dir,
                 max_files_per_trigger=1)
    assert as_set(spark.read.parquet(pairs_dir)) == as_set(full)
    assert spark.read.parquet(index_dir).count() == 12

def test_stream_dedup_empty_preexisting_index_prefix(spark, tmp_path):
    """Object-store analog: the index 'directory' exists but holds no
    files (on S3 a prefix has no directory object at all). The first
    batch must fall back to batch-internal pairing via read-and-fallback
    rather than crash on read.parquet of an empty prefix."""
    import datetime
    import os

    from cassandra_data_migrator_spark.streaming.dedup import stream_dedup
    from cassandra_data_migrator_spark.streaming.replay import WAL_SCHEMA

    ts = datetime.datetime(2026, 1, 1)
    base = " ".join(f"tok{j}" for j in range(40))
    rows = [
        (0, 0, "I", "https://a/0", ts, None, base + " v0", "en", 0),
        (1, 0, "I", "https://a/1", ts, None, base + " v1", "en", 0),
        # NULL op must count as live (null-safe live-row definition)
        (2, 0, None, "https://a/2", ts, None, base + " v2", "en", 0),
    ]
    df = spark.createDataFrame(rows, WAL_SCHEMA)
    wal_dir = str(tmp_path / "wal")
    df.coalesce(1).write.partitionBy("batch_epoch").parquet(wal_dir)

    index_dir, pairs_dir = str(tmp_path / "index"), str(tmp_path / "pairs")
    os.makedirs(index_dir)  # exists-but-empty: isdir() would say True
    cfg = EngineConfig(changelog_path=wal_dir)
    stream_dedup(spark, cfg, str(tmp_path / "ckpt"), index_dir, pairs_dir,
                 max_files_per_trigger=1)
    pairs = {(r["id_a"], r["id_b"])
             for r in spark.read.parquet(pairs_dir).collect()}
    # all three docs are near-identical AND live (incl. the NULL-op row)
    assert pairs == {("https://a/0", "https://a/1"),
                     ("https://a/0", "https://a/2"),
                     ("https://a/1", "https://a/2")}
    assert spark.read.parquet(index_dir).count() == 3


def test_stateful_lww_all_null_ts_key_matches_batch(spark, tmp_path):
    """A key whose rows ALL have null ts must still crown a winner
    (nulls-smallest, seq tie-break — identical to the batch max_by
    fold), and a later non-null-ts row must beat it."""
    import datetime

    from cassandra_data_migrator_spark.operators.lww import lww_dedup
    from cassandra_data_migrator_spark.streaming.replay import WAL_SCHEMA
    from cassandra_data_migrator_spark.streaming.stateful import stateful_lww_updates

    ts = datetime.datetime(2026, 1, 1)
    epochs = [
        # epoch 0: key n has only null-ts rows; key m mixed
        [(0, 0, "I", "https://n", None, None, "n0", "en", 0),
         (1, 0, "U", "https://n", None, None, "n1", "en", 0),
         (2, 0, "I", "https://m", None, None, "m-null", "en", 0),
         (3, 0, "U", "https://m", ts, None, "m-ts", "en", 0)],
        # epoch 1: a non-null ts arrives for key n and must win
        [(4, 0, "U", "https://n", ts, None, "n-ts", "en", 1)],
    ]
    all_rows = [r for ep in epochs for r in ep]
    df = spark.createDataFrame(all_rows, WAL_SCHEMA)
    wal_dir = str(tmp_path / "wal")
    df.coalesce(1).write.partitionBy("batch_epoch").parquet(wal_dir)

    stream = (
        spark.readStream.schema(WAL_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(wal_dir)
    )
    q = (
        stateful_lww_updates(stream)
        .writeStream.format("memory")
        .queryName("lww_nullts")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600)
    emitted = spark.sql("SELECT * FROM lww_nullts")
    # final transition per key == batch LWW winner, incl. the all-null key
    final = {r["url"]: (r["text"], r["seq"])
             for r in lww_dedup(emitted, "url", "warc_ts", "seq").collect()}
    expected = {r["url"]: (r["text"], r["seq"])
                for r in lww_dedup(df.drop("partition", "batch_epoch"),
                                   "url", "warc_ts", "seq").collect()}
    assert final == expected
    assert final["https://m"] == ("m-ts", 3)
    # the all-null epoch crowned max-seq for n, then the ts row beat it
    n_rows = [(r["text"], r["seq"]) for r in
              emitted.where("url = 'https://n'").orderBy("seq").collect()]
    assert n_rows == [("n1", 1), ("n-ts", 4)]


def _write_epochs(spark, wal_dir, epochs, schema):
    import time

    for ep in epochs:
        spark.createDataFrame(ep, schema).coalesce(1).write.mode(
            "append"
        ).partitionBy("batch_epoch").parquet(wal_dir)
        time.sleep(0.05)  # distinct file mtimes => stable trigger order


def _run_feed(spark, wal_dir, ck_dir, name, **kw):
    from cassandra_data_migrator_spark.streaming.replay import WAL_SCHEMA
    from cassandra_data_migrator_spark.streaming.stateful import (
        stateful_lww_updates,
    )

    stream = (
        spark.readStream.schema(WAL_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(wal_dir)
    )
    q = (
        stateful_lww_updates(stream, **kw)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", ck_dir)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600)
    return q, spark.sql(f"SELECT * FROM {name}")


def test_stateful_lww_event_time_eviction_self_guarding(spark, tmp_path):
    """Event-time state TTL: a key untouched past the TTL is evicted
    (visible in the state-store row count), and the feed stays correct
    because the SAME watermark that drove the eviction late-filters any
    event old enough to have lost to the evicted winner — the change
    feed never regresses."""
    import datetime

    from cassandra_data_migrator_spark.streaming.replay import WAL_SCHEMA

    t0 = datetime.datetime(2026, 1, 1)

    def ts(minutes):
        return t0 + datetime.timedelta(minutes=minutes)

    # epoch 0: key k wins at T+10; epochs 1-2: filler key advances the
    # watermark past T+10 + ttl (1 min) — k evicts at the start of
    # epoch 2's batch; epoch 3: an OLDER event (T+5) arrives for k and
    # must NOT surface in the feed
    epochs = [
        [(0, 0, "I", "https://k", ts(10), None, "k-new", "en", 0)],
        [(1, 0, "I", "https://f", ts(60), None, "f1", "en", 1)],
        [(2, 0, "U", "https://f", ts(61), None, "f2", "en", 2)],
        [(3, 0, "U", "https://k", ts(5), None, "k-old", "en", 3)],
    ]
    wal_dir = str(tmp_path / "wal")
    _write_epochs(spark, wal_dir, epochs, WAL_SCHEMA)
    q, emitted = _run_feed(
        spark, wal_dir, str(tmp_path / "ck"), "lww_evt_evict",
        state_ttl_ms=60_000, timeout_mode="event",
    )
    state_counts = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in q.recentProgress
        if p["stateOperators"]
    ]
    # state grew to 2 keys (k + f), then k was evicted
    assert max(state_counts) == 2
    assert state_counts[-1] == 1
    k_rows = [(r["text"], r["seq"])
              for r in emitted.where("url = 'https://k'").collect()]
    assert k_rows == [("k-new", 0)]


def test_stateful_lww_processing_eviction_reseed_old_event_still_loses(
    spark, tmp_path
):
    """Processing-time (wall-clock) state TTL: unlike event-time mode
    there is no watermark, so arbitrarily late events still reach the
    operator after an eviction. A timed-out key that then receives an
    OLDER-ts event must still lose — the reseed callback supplies the
    sink's current winner on revisit (here: a lookup file the "sink"
    publishes after the first flush, read executor-side exactly like a
    real point lookup). The no-reseed control proves the eviction
    fired: the same old event then (by design) restarts the key and is
    crowned.

    Runs under the default micro-batch trigger — processing-time
    timeouts never fire under Trigger.AvailableNow (the query loops
    without terminating), which is itself a documented constraint of
    the mode."""
    import datetime
    import json
    import os
    import time

    from cassandra_data_migrator_spark.streaming.replay import WAL_SCHEMA
    from cassandra_data_migrator_spark.streaming.stateful import (
        stateful_lww_updates,
    )

    t0 = datetime.datetime(2026, 1, 1)

    def ts(minutes):
        return t0 + datetime.timedelta(minutes=minutes)

    ttl_ms = 3_000

    def wait_for(pred, timeout_s=90, step=0.5):
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            if pred():
                return True
            time.sleep(step)
        return False

    def scenario(tag, with_reseed):
        wal_dir = str(tmp_path / f"wal_{tag}")
        lookup_path = str(tmp_path / f"sink_{tag}.json")

        def reseed(key, path=lookup_path):
            # executor-side sink point lookup (file plays the lake)
            try:
                with open(path) as f:
                    m = json.load(f)
            except FileNotFoundError:
                return None
            v = m.get(key)
            if v is None:
                return None
            return (datetime.datetime.fromisoformat(v[0]), v[1])

        _write_epochs(
            spark, wal_dir,
            [[(0, 0, "I", "https://k", ts(10), None, "k-new", "en", 0)]],
            WAL_SCHEMA,
        )
        stream = (
            spark.readStream.schema(WAL_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(wal_dir)
        )
        name = f"lww_proc_{tag}"
        q = (
            stateful_lww_updates(
                stream, state_ttl_ms=ttl_ms, timeout_mode="processing",
                reseed=reseed if with_reseed else None,
            )
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / f"ck_{tag}"))
            .start()
        )
        try:
            def emitted():
                return [(r["text"], r["seq"]) for r in
                        spark.sql(f"SELECT text, seq FROM {name}").collect()]

            assert wait_for(lambda: ("k-new", 0) in emitted())
            # the sink flushes k's winner; then the wall clock passes the
            # TTL and empty micro-batches fire the pending timeout
            with open(lookup_path, "w") as f:
                json.dump({"https://k": [ts(10).isoformat(), 0]}, f)
            time.sleep(ttl_ms / 1000 + 2.0)
            # deliver the OLDER event for the (now evicted) key
            _write_epochs(
                spark, wal_dir,
                [[(1, 0, "U", "https://k", ts(5), None, "k-old", "en", 1)]],
                WAL_SCHEMA,
            )
            if with_reseed:
                # must NOT surface: give it ample time, expect silence
                assert not wait_for(
                    lambda: ("k-old", 1) in emitted(), timeout_s=15
                )
            else:
                assert wait_for(lambda: ("k-old", 1) in emitted())
            return emitted()
        finally:
            q.stop()

    assert scenario("rs", True) == [("k-new", 0)]
    # control: no reseed => evicted key restarts from nothing, the old
    # event is crowned — proving the eviction actually fired
    assert scenario("ctl", False) == [("k-new", 0), ("k-old", 1)]
