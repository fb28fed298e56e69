"""Manifest file statistics + ts-range file skipping (Iceberg
column-bounds analog).

Stats are read from parquet footers on the driver at commit time — no
Spark job — and power two metadata-backed reads:

  * ``scan_changes(ts_lower, ts_upper)`` — incremental-consumer raw scan
    that never opens a file whose footer ts range is outside the window;
  * ``row_count_bound()`` — snapshot row count answered from the
    manifest alone.

No reference counterpart (CDM reads Cassandra, which has no file
pruning); this is lake-sink table-format parity, same family as time
travel and vacuum."""

import json
import os

import pyspark.sql.functions as F

from cassandra_data_migrator_spark.sources.lake import LakeTable, Manifest


def _kvp(spark, rows):
    return spark.createDataFrame(
        rows, "key string, value string, ts long, seq long, op string"
    )


def _mk(spark, path, df, buckets=4):
    lake = LakeTable.create(
        spark, str(path), df.schema,
        key_col="key", ts_col="ts", seq_col="seq", num_buckets=buckets,
    )
    return lake


def test_stats_collected_on_commit_and_pruned_to_live_files(spark, tmp_path):
    df = _kvp(spark, [("k1", "v1", 10, 1, "U"), ("k2", "v2", 20, 2, "U")])
    lake = _mk(spark, tmp_path / "lake", df)
    lake.merge_cow(df, ["e0"])
    mf = lake.manifest()
    base_files = [f for fs in mf.base.values() for f in fs]
    assert base_files and set(mf.stats) == set(base_files)
    for st in mf.stats.values():
        assert st["rows"] >= 1
        assert st["min_ts"] is not None and st["max_ts"] is not None
    assert min(s["min_ts"] for s in mf.stats.values()) == 10
    assert max(s["max_ts"] for s in mf.stats.values()) == 20
    # a rewriting commit drops stats entries for the replaced files
    lake.merge_cow(_kvp(spark, [("k1", "v9", 30, 3, "U")]), ["e1"])
    mf2 = lake.manifest()
    assert set(mf2.stats) == set(mf2.files())


def test_scan_changes_skips_files_and_matches_full_scan(spark, tmp_path):
    lake = _mk(spark, tmp_path / "lake",
               _kvp(spark, [("seed", "s", 0, 0, "U")]))
    # three MoR epochs with disjoint ts ranges -> disjoint footer bounds
    for epoch, lo in enumerate((100, 200, 300)):
        batch = _kvp(spark, [(f"k{epoch}-{i}", "v", lo + i, i, "U")
                             for i in range(5)])
        lake.commit_staged_delta(lake.stage_delta(batch), [f"e{epoch}"])
    mf = lake.manifest()
    files = mf.files()
    kept, skipped = lake._prune_by_ts(mf, files, 200, None)
    assert skipped >= 1 and len(kept) < len(files)
    got = sorted(r["key"] for r in lake.scan_changes(ts_lower=200).collect())
    want = sorted(
        r["key"] for r in lake.scan_changes().where(F.col("ts") >= 200).collect()
    )
    assert got == want and len(got) == 10
    # both-sided window
    mid = sorted(r["key"] for r in
                 lake.scan_changes(ts_lower=200, ts_upper=299).collect())
    assert mid == sorted(f"k1-{i}" for i in range(5))
    # tombstones are changes
    tombstone = _kvp(spark, [("k1-0", None, 400, 9, "D")])
    lake.commit_staged_delta(lake.stage_delta(tombstone), ["e3"])
    assert lake.scan_changes(ts_lower=400).count() == 1


def test_row_count_bound(spark, tmp_path):
    df = _kvp(spark, [(f"k{i}", "v", i, i, "U") for i in range(20)])
    lake = _mk(spark, tmp_path / "lake", df)
    lake.merge_cow(df, ["e0"])
    assert lake.row_count_bound() == lake.read().count() == 20
    # MoR deltas add duplicate key versions: bound exceeds live rows
    update = _kvp(spark, [("k0", "v2", 100, 99, "U")])
    lake.commit_staged_delta(lake.stage_delta(update), ["e1"])
    assert lake.row_count_bound() == 21
    assert lake.read().count() == 20
    lake.compact()
    assert lake.row_count_bound() == lake.read().count() == 20


def test_stats_backward_compat_with_statless_manifest(spark, tmp_path):
    df = _kvp(spark, [("k1", "v1", 10, 1, "U")])
    lake = _mk(spark, tmp_path / "lake", df)
    lake.merge_cow(df, ["e0"])
    # forge a pre-stats manifest (older engine version) in place
    mf = lake.manifest()
    d = dict(mf.__dict__)
    d.pop("stats")
    old = Manifest.from_json(json.dumps(d))
    assert old.stats == {}
    mpath = os.path.join(lake._mdir, f"v{mf.version:08d}.json")
    with open(mpath, "w") as f:
        f.write(json.dumps(d))
    # pruning keeps everything; the bound is honestly unknown; reads work
    mf2 = lake.manifest()
    files = mf2.files()
    kept, skipped = lake._prune_by_ts(mf2, files, 10_000, None)
    assert kept == files and skipped == 0
    assert lake.row_count_bound() is None
    assert lake.scan_changes(ts_lower=10_000).count() == 0
    assert lake.read().count() == 1
    # the next commit resumes stats collection for its new files
    lake.merge_cow(_kvp(spark, [("k2", "v2", 20, 2, "U")]), ["e1"])
    assert any(s["min_ts"] == 20 for s in lake.manifest().stats.values())


def test_stats_on_timestamp_column(spark, tmp_path):
    import datetime as dt

    rows = [("u1", dt.datetime(2026, 1, 1, 0, 0, 0), 1, "U"),
            ("u2", dt.datetime(2026, 6, 1, 0, 0, 0), 2, "U")]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, seq long, op string"
    )
    lake = LakeTable.create(
        spark, str(tmp_path / "lake"), df.schema,
        key_col="url", ts_col="warc_ts", seq_col="seq", num_buckets=2,
    )
    lake.merge_cow(df, ["e0"])
    mf = lake.manifest()
    # normalized to epoch micros (UTC): Jan 1 2026 00:00:00
    assert min(s["min_ts"] for s in mf.stats.values() if s["min_ts"] is not None) \
        == int(dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    got = lake.scan_changes(ts_lower=dt.datetime(2026, 3, 1)).collect()
    assert [r["url"] for r in got] == ["u2"]
